"""Arithmetic the runner applies to the harness's records: span self
time and the attribution of Spark work to pipeline stages."""
import os


def self_times(window, spans):
    """Self time per label of the spans [(label, start, end)] that run
    inside `window` (start, end), the caller's own span. Each instant
    goes to the most recently started span covering it, which for nested
    spans is the innermost one, so a span's self time is its duration
    minus what its children cover. Instants no span covers are the
    caller's self time, under the label None. The parts add up to the
    window."""
    w0, w1 = window
    cuts = sorted({w0, w1} | {min(max(t, w0), w1) for _, s, e in spans for t in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        live = [(s, i) for i, (_, s, e) in enumerate(spans) if s <= mid < e]
        label = spans[max(live)[1]][0] if live else None
        out[label] = out.get(label, 0.0) + (b - a)
    return out


PIPELINE_STAGES = ["select", "extract", "validate", "infer", "drift", "stage",
                   "recount", "state"]


def _under(path, root):
    path, root = os.path.normpath(path), os.path.normpath(root)
    return path == root or path.startswith(root + os.sep) or path.startswith(root + ".")


def pipeline_stage(call_site, paths, writes, dirs):
    """The `Pipeline.runOnce` stage a Spark job or SQL execution belongs
    to, from its call site ("count at Pipeline.scala:176") and the files
    its plan reads or writes. `dirs` holds the landing, extracted,
    staging, state and schema_log directories of the run."""
    action = call_site.split(" at ")[0].strip()
    site = call_site.split(" at ")[-1]

    def touches(name, among):
        return any(_under(p, dirs[name]) for p in among)

    if touches("state", writes):
        return "state"
    if touches("staging", writes):
        return "stage"
    if touches("schema_log", paths) or touches("schema_log", writes):
        return "drift"
    if touches("staging", paths):
        return "recount"
    if touches("extracted", paths):
        return "validate"
    if touches("landing", paths):
        return "select" if action == "count" else "extract"
    if site.startswith(("DriftReport.scala", "SchemaDiff.scala")):
        return "drift"
    return None


def job_stages(jobs, execution_stage):
    """Stage of each job of one runOnce call, given as dicts with
    `start_ms`, `execution`, `call_site` and `input`. A job inside a SQL
    execution takes the execution's stage. A JSON read outside any
    execution that reads input is schema inference. Any other job outside
    an execution lists files or reads footers for the job after it, and
    takes that job's stage."""
    order = sorted(range(len(jobs)), key=lambda i: jobs[i]["start_ms"])
    out, following = [None] * len(jobs), None
    for i in reversed(order):
        j = jobs[i]
        if j["execution"] >= 0:
            label = execution_stage(j["execution"])
        elif j["call_site"].split(" at ")[0] == "json" and j["input"] > 0:
            label = "infer"
        else:
            label = following
        out[i] = following = label
    return out
