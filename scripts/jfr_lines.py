#!/usr/bin/env python3
"""Where the timed new-data `Pipeline.runOnce` calls of an `etl_daily` run spend their samples.

    jfr print --stack-depth 1000 --events jdk.ExecutionSample run.jfr > run.txt
    python3 scripts/jfr_lines.py run.txt
    python3 scripts/jfr_lines.py run.txt --under 455

Reads the text `jfr print` writes for `jdk.ExecutionSample` events (record
the run as `.claude/skills/verify/SKILL.md` shows). It keeps the samples
inside the benchmark's timed new-data operations: main-thread samples
whose stack passes through the harness's `op("new", ...)` call (found by
its line in `perfbench/src/main/scala/graft/perfbench/Main.scala`), and
any thread's samples taken between the first and the last main-thread
sample of one such operation. It prints the kept samples by thread and
the main thread's by `Pipeline$.runOnce` line; with `--under LINE`, also
the main thread's samples at that line by the frame `runOnce` called
there. It reads files only.
"""
import argparse
import collections
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "src", "main", "scala", "graft", "perfbench", "Main.scala")
RUN_ONCE = "graft.Pipeline$.runOnce"

FRAME = re.compile(r"^\s+(\S+?)\((.*)\)(?: line: (\d+))?\s*$")
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+)\.(\d+)")
THREAD = re.compile(r'sampledThread = "(.*)" \(javaThreadId')


def new_op_line(harness):
    """The line of the harness's `op("new", ...)` call."""
    with open(harness) as f:
        lines = [i for i, line in enumerate(f, 1) if 'op("new"' in line]
    if len(lines) != 1:
        sys.exit(f"jfr_lines: expected one op(\"new\", ...) call in {harness}, found {len(lines)}")
    return lines[0]


def samples(path):
    """(time in ms of the day, thread, frames innermost first) per sample;
    a frame is (method, line or None)."""
    t = thread = frames = None
    with open(path) as f:
        for line in f:
            if line.startswith("jdk.ExecutionSample"):
                t, thread, frames = None, None, []
            elif frames is None:
                continue
            elif (m := TIME.search(line)) and t is None:
                h, mi, s, frac = m.groups()
                t = ((int(h) * 60 + int(mi)) * 60 + int(s)) * 1000 + int(frac.ljust(3, "0")[:3])
            elif (m := THREAD.search(line)) and thread is None:
                thread = m.group(1)
            elif (m := FRAME.match(line)):
                frames.append((m.group(1), int(m.group(3)) if m.group(3) else None))
            elif line.startswith("}"):
                if t is not None and thread is not None:
                    yield t, thread, frames
                frames = None


def in_new_op(frames, op_line):
    methods = [m for m, _ in frames]
    return "graft.perfbench.Harness.op" in methods and any(
        m.startswith("graft.perfbench.Harness.") and n == op_line for m, n in frames)


def print_counts(title, counts):
    print(title)
    for key, n in counts.most_common():
        print(f"  {n:7d}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("samples", help="text of `jfr print --stack-depth 1000 --events jdk.ExecutionSample`")
    ap.add_argument("--under", type=int, metavar="LINE",
                    help="also count the main thread's samples at this runOnce line by callee frame")
    args = ap.parse_args()
    op_line = new_op_line(HARNESS)

    everything = sorted(samples(args.samples), key=lambda s: s[0])
    windows, current = [], None
    for t, thread, frames in everything:
        if thread != "main":
            continue
        if in_new_op(frames, op_line):
            current = current or [t, t]
            current[1] = t
        elif current:
            windows.append(current)
            current = None
    if current:
        windows.append(current)

    by_thread, by_line, callees = collections.Counter(), collections.Counter(), collections.Counter()
    w = 0
    for t, thread, frames in everything:
        while w < len(windows) and windows[w][1] < t:
            w += 1
        inside = w < len(windows) and windows[w][0] <= t
        if thread == "main":
            if not in_new_op(frames, op_line):
                continue
        elif not inside:
            continue
        by_thread[thread] += 1
        if thread != "main":
            continue
        at = next((i for i, (m, _) in enumerate(frames) if m == RUN_ONCE), None)
        if at is None:
            by_line["(outside runOnce)"] += 1
            continue
        line = frames[at][1]
        by_line[f"runOnce:{line}"] += 1
        if args.under == line and at > 0:
            method, n = frames[at - 1]
            callees[f"{method}:{n}"] += 1

    print(f"{sum(by_thread.values())} samples in {len(windows)} timed new-data operations "
          f"(harness op line {op_line})")
    print_counts("by thread:", by_thread)
    print_counts("main thread by Pipeline$.runOnce line:", by_line)
    if args.under is not None:
        print_counts(f"main thread at runOnce:{args.under} by callee:", callees)


if __name__ == "__main__":
    main()
