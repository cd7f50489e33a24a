#!/usr/bin/env python3
"""List the `src/main` definitions that only tests reach, or nothing does.

    python3 scripts/test_only_defs.py

A definition is a top-level `class`/`object`/`trait` of a `src/main`
Scala file, or a `def`/`val`/`var`/`class`/`object`/`trait` directly in
the body of one. `override` members are skipped (the type they override
calls them), and so are `main` methods and their objects (the JVM calls
them). A name counts as used where it occurs as a whole word outside
comments; its own definitions do not count. Uses in `src/main` or in
the benchmark harness (`perfbench/src`) make a definition live; a
definition used only in `src/test` is reported as `test-only`, one used
nowhere as `unreferenced`. Names are matched as words, not resolved, so
a definition whose name is common (`apply`, `count`) is never reported:
the report can miss dead code, but what it lists is unused outside the
tests. Definitions on KEEP, members of a kept object and the object of
a kept member are listed apart with the reason they stay.

Report-only: it reads files, changes nothing and always exits 0.
"""
import collections
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")
TEST = os.path.join(ROOT, "src", "test")
HARNESS = os.path.join(ROOT, "perfbench", "src")

KEEP = {
    "Ingest.downloadToLanding": "an entry point: the reference's S1 download into the landing dir",
    "Pipeline.maintain": "an entry point: the periodic staging compaction beside runOnce",
    "Sinks.loadJdbc": "the reference's Glue->Redshift warehouse load (S6)",
    "Similarity": "the hash-family spec that SimilaritySpec pins",
    "AsOfJoin.asofJoin": "the reference the native as-of operator is cross-checked against",
    "BenchRecord.MaxLen": "a contract constant of the bench record",
    "BoundedWindow.registered": "the hook BoundedWindowSpec reads each site's declared bound through",
    "StreamQueries.ThrottleProcessor": "the streaming form of stream_throttle, checked against it in StreamingSpec",
}


def keep_reason(qual):
    """Why `qual` stays: it is on KEEP, its object is, or a member of it is."""
    owner = qual.split(".")[0]
    for k in (qual, owner):
        if k in KEEP:
            return KEEP[k]
    return next((r for k, r in KEEP.items() if k.startswith(qual + ".")), None)


WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
TOP = re.compile(r"^\s*(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
                 r"(?:class|object|trait)\s+([A-Za-z_]\w*)")
MEMBER = re.compile(r"^\s*((?:(?:override|final|lazy|implicit|case|sealed|abstract|"
                    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
                    r"(?:def|val|var|class|object|trait)\s+([A-Za-z_]\w*)")


def scala_files(root):
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def strip_comments(src):
    """`src` with every comment blanked out (newlines kept, so line numbers hold)."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # a raw string may end in extra quotes
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            out.append(src[i:j])
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def definitions(path, text):
    """(qualified name, name, line, is-entry-point) per definition in `text`."""
    defs, depth, owner, entry_owners = [], 0, None, set()
    for lineno, line in enumerate(text.split("\n"), 1):
        if depth == 0:
            m = TOP.match(line)
            if m:
                owner = m.group(1)
                defs.append([owner, owner, lineno, False])
        elif depth == 1 and owner:
            m = MEMBER.match(line)
            if m and "override" not in m.group(1).split():
                name = m.group(2)
                if name == "main":
                    entry_owners.add(owner)
                else:
                    defs.append([f"{owner}.{name}", name, lineno, False])
        depth += line.count("{") - line.count("}")
    for d in defs:
        d[3] = d[0].split(".")[0] in entry_owners
    return [(q, name, f"{os.path.relpath(path, ROOT)}:{line}", entry)
            for q, name, line, entry in defs]


def word_counts(files):
    counts = collections.Counter()
    for f in files:
        with open(f, encoding="utf-8") as fh:
            counts.update(WORD.findall(strip_comments(fh.read())))
    return counts


def main():
    defs, main_words = [], collections.Counter()
    for f in scala_files(MAIN):
        with open(f, encoding="utf-8") as fh:
            text = strip_comments(fh.read())
        defs += definitions(f, text)
        main_words.update(WORD.findall(text))
    test_words = word_counts(scala_files(TEST))
    harness_words = word_counts(scala_files(HARNESS))
    own = collections.Counter(name for _, name, _, _ in defs)

    found, kept = [], []
    for qual, name, where, entry in defs:
        if entry or main_words[name] - own[name] > 0 or harness_words[name] > 0:
            continue
        kind = "test-only" if test_words[name] else "unreferenced"
        (kept if keep_reason(qual) else found).append((kind, qual, where))

    for kind, qual, where in found:
        print(f"{kind:<12} {qual}  {where}")
    print(f"{len(found)} definition(s) reached only from src/test or from nowhere")
    for kind, qual, where in kept:
        print(f"kept ({kind}) {qual}  {where}: {keep_reason(qual)}")


if __name__ == "__main__":
    main()
