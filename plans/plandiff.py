#!/usr/bin/env python3
"""Diff two `graft.Plans` dumps query by query.

Usage:
  plandiff.py A.txt B.txt
  plandiff.py --selftest

A dump is the stdout of `sbt -batch "runMain graft.Plans <sfDir>"`: one
`===== <query> =====` header per registry query followed by its formatted
physical plan. sbt's `[info] ` prefix is stripped and its `[error]`/`[warn]`
log lines (forked Spark logging) are dropped.

Before comparing, every query's plan text is normalized so two runs of the
SAME plan compare equal:
  - expression ids (`ts#11028`, `_w0#11030L`) are renumbered in order of
    first appearance within the query (`ts#1`, `_w0#2L`), so a changed
    wiring between operators still shows as a difference;
  - `plan_id=N` and RDD ids (`MapPartitionsRDD[96]`) likewise;
  - source positions of checkpoint call sites (`at TextQueries.scala:615`)
    lose their line number, which moves with any edit above the call;
  - JVM object identities in operator arguments (`HeavyHitters@6de06606`,
    `Media$$$Lambda$6003/0x00007f09...@43590144`) lose their hash and
    lambda serial, which differ between any two JVMs.

Prints one line per differing query plus a unified diff of its normalized
plan, then a summary. Exit status is 1 if any query differs or exists in
only one dump, else 0.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
LOG_LINE = re.compile(r"^\[(error|warn|success)\]")
PREFIX = re.compile(r"^\[info\] ?")
NUMBERED = [
    re.compile(r"(?<=#)(\d+)"),                # expression ids
    re.compile(r"(?<=plan_id=)(\d+)"),         # exchange plan ids
    re.compile(r"(?<=RDD\[)(\d+)(?=\])"),      # RDD ids
]
CALLSITE = re.compile(r"(\.scala):\d+")
LAMBDA = re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+")
IDENTITY = re.compile(r"(?<=[\w$])@[0-9a-f]+\b")


def parse(lines):
    """name -> list of raw plan lines, in dump order."""
    plans, cur = {}, None
    for raw in lines:
        line = raw.rstrip("\n")
        if LOG_LINE.match(line):
            continue
        line = PREFIX.sub("", line, count=1)
        m = HEADER.match(line.strip())
        if m:
            cur = m.group(1)
            plans[cur] = []
        elif cur is not None:
            plans[cur].append(line)
    # trailing blank lines are layout, not plan
    for body in plans.values():
        while body and not body[-1].strip():
            body.pop()
    return plans


def normalize(body):
    """Renumber ids per query by first appearance; drop call-site line numbers."""
    maps = [{} for _ in NUMBERED]
    out = []
    for line in body:
        for pat, seen in zip(NUMBERED, maps):
            line = pat.sub(lambda m, seen=seen: str(seen.setdefault(m.group(1), len(seen) + 1)), line)
        line = IDENTITY.sub("@H", LAMBDA.sub("$Lambda", CALLSITE.sub(r"\1:N", line)))
        out.append(line)
    return out


def compare(a, b, out=sys.stdout):
    """Returns (n_same, differing names, names in one dump only)."""
    same, differ, lonely = 0, [], []
    for name in list(a) + [n for n in b if n not in a]:
        if name not in a or name not in b:
            lonely.append(name)
            print(f"ONLY-IN-{'A' if name in a else 'B'} {name}", file=out)
            continue
        na, nb = normalize(a[name]), normalize(b[name])
        if na == nb:
            same += 1
            continue
        differ.append(name)
        print(f"DIFF {name}", file=out)
        for d in difflib.unified_diff(na, nb, "A/" + name, "B/" + name, lineterm=""):
            print("    " + d, file=out)
    return same, differ, lonely


def selftest():
    base = """[info] welcome to sbt
===== q1 =====
[info] == Physical Plan ==
[info] Project (2)
[info] +- Scan parquet  (1)
[info] (1) Scan parquet
[info] Output [2]: [a#{a}L, b#{b}]
[error] 26/10/17 INFO SparkContext: noise
[info] (2) Project
[info] Output [1]: [(a#{a}L + 1) AS c#{c}L]
[info] Arguments: [a#{a}L], MapPartitionsRDD[{r}] at localCheckpoint at X.scala:{line}, [plan_id={p}]
[info] Functions [1]: [f(a#{a}L, g.HeavyHitters@{h:x}, g.Media$$$Lambda${s}/0x0000{h:x}@{h:x})]
===== q2 =====
[info] == Physical Plan ==
[info] Filter (1)
[info] Condition : (v#{a} > {k})
"""
    a = parse(base.format(a=10, b=11, c=12, r=96, line=615, p=400, k=1, h=0x6de06606, s=6003).splitlines())
    # same plans, other ids / call-site line / JVM identities / log noise:
    # must compare equal
    b = parse(base.format(a=70, b=71, c=72, r=5, line=640, p=9, k=1, h=0x2159c25e, s=6008).splitlines())
    assert set(a) == {"q1", "q2"}, a.keys()
    assert not any(l.startswith("[") for body in a.values() for l in body)
    import io
    sink = io.StringIO()
    assert compare(a, b, out=sink) == (2, [], []), sink.getvalue()
    # a real change (literal 1 -> 2) is reported
    c = parse(base.format(a=70, b=71, c=72, r=5, line=640, p=9, k=2, h=1, s=1).splitlines())
    assert compare(a, c, out=sink)[1] == ["q2"]
    # swapped wiring (c computed from b instead of a) is reported even
    # though the multiset of ids is the same
    d = parse(base.replace("(a#{a}L + 1)", "(b#{b} + 1)")
              .format(a=10, b=11, c=12, r=96, line=615, p=400, k=1, h=1, s=1).splitlines())
    assert compare(a, d, out=sink)[1] == ["q1"]
    # a query present on one side only is reported
    e = {k: v for k, v in b.items() if k != "q2"}
    assert compare(a, e, out=sink)[2] == ["q2"]
    print("plandiff selftest: ok")


def main(argv):
    if argv[:1] == ["--selftest"]:
        selftest()
        return 0
    if len(argv) != 2:
        sys.exit(__doc__)
    a, b = (parse(open(f, encoding="utf-8", errors="replace")) for f in argv)
    same, differ, lonely = compare(a, b)
    print(f"# {same} identical, {len(differ)} differ, {len(lonely)} in one dump only")
    return 1 if differ or lonely else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
