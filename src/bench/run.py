"""Benchmark of the %PZ/s engine: the paper's tracking pipeline, its model
stage and a slice of the query registry, timed end to end and per layer.

    python3 src/bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 src/bench/run.py --selfcheck     # tiny sizes, every path, ~2.5 min
    python3 src/bench/run.py --pin           # regenerate pins.json, data/season.parquet

Workloads (closed loop, one client, passes back to back, `local[4]`):

  pzs_pipeline    the paper's pipeline. DL -> MB (`NflPipeline`) on 8
                  synthetic games x 60 plays (96k tracking rows): every
                  boundary forced, `rushersFinal` and `blockersWithMetric`
                  written through `Sinks.parquet`. MC -> MO on a fixed 8-game
                  season's `rushersFinal` (1.7k rows, block 0's, made by
                  `--pin`): `PzModel.compareModels` 2-fold CV of
                  linear, ridge, rf and gbt, rf residual scoring,
                  `attachContext`, rusher and team rankings.
  registry_sweep  every 30th query of each registry family (9 of 184) on the
                  sf0.01 tables in `data/`, each run to completion through a
                  counting noop sink, after loading all ten tables.

The seed picks the block of synthetic games (block = seed mod 16, games
block*n+1 .. block*n+n) on `pzs_pipeline` and rotates the query order on
`registry_sweep`. Set-up (session start, the median of three input
generations, copying fixed inputs into place, untimed warm-up passes: one
without GBT on `pzs_pipeline`, two on `registry_sweep`) is timed as
`setup_s`; then passes run until `--seconds` have gone by, at least one (two
when traced: counted and uncounted passes alternate), and the end-to-end
metrics pool every timed pass. Every
pass is checked without an extra timed action: registry row counts, taken
from the sink, against the oracle-verified counts in `pins.json`; NFL row
counts, order-independent digests and CV RMSEs against values pinned per
seed block (`--pin` runs one verified pass per block to make them).

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end ones with `--trace 0`, per-layer ones with
`--trace 1`). The raw samples, spans and the host-noise stamp (load average
and `Bench.calibrate` before and after) are kept under the build directory
in `runs/`. Build and scratch files go under `$CARGO_TARGET_DIR` (default
`.bench_build`).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

BENCH = build.BENCH
PINS = os.path.join(BENCH, "pins.json")
DATA = os.path.join(BENCH, "data")
CORES = 4
BLOCKS = 16
WORKLOADS = ["pzs_pipeline", "registry_sweep"]
DEADLINE_S = 170  # the harness is killed past this, so a run ends within 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("query_p90_s", "s"),
    ("peak_cached_mb", "MB"), ("ops_ok_share", "share"),
]
NFL_BOUNDARIES = ["ingest", "bounds", "set_points", "rusher_frames", "metric",
                  "rushers_final", "blockers", "time_to_throw"]
FAMILIES = ["core", "text", "similarity", "events", "media"]
PER_LAYER = (
    [("queries.construct_s", "s"), ("queries.construct_jobs", "count")]
    + [(f"queries.{f}_s", "s") for f in FAMILIES]
    + [("tables.load_s", "s"), ("tables.load_jobs", "count"), ("catalyst.plan_s", "s"),
       ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
       ("exec.tasks", "count"), ("exec.task_busy_s", "s"), ("exec.core_busy_share", "share"),
       ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB")]
    + [m for b in NFL_BOUNDARIES for m in ((f"nfl.{b}_s", "s"), (f"nfl.{b}_jobs", "count"))]
    + [("sources.read_s", "s"), ("sources.write_s", "s")]
    + [(f"ml.cv_{f}_s", "s") for f in ["linear", "ridge", "rf", "gbt"]]
    + [("ml.score_s", "s"), ("ml.jobs", "count"), ("nfl.rankings_s", "s"),
       ("trace.span_coverage", "share"), ("trace.overhead_share", "share")]
)


class RunError(Exception):
    pass


def run_harness(workload, seed, seconds, trace, size, deadline, blocks=None):
    """Run the Scala harness in its own JVM; return its samples."""
    classes, jars = build.build()
    root = build.build_dir()
    work = os.path.join(root, "work", f"{workload}-{os.getpid()}")
    runs = os.path.join(root, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)
    tag = f"blocks{blocks}" if blocks else f"seed{seed}-trace{trace}"
    out = os.path.join(runs, f"{workload}-{size}-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "bench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--size", size, "--work", work, "--data", DATA,
              "--out", out]
           + (["--blocks", blocks] if blocks else []))
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                              timeout=None if deadline is None else max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise RunError(f"{workload}: harness still running at the deadline; killed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RunError(f"{workload}: harness exited {proc.returncode}\n{proc.stderr[-3000:]}")
    with open(out) as f:
        samples = json.load(f)
    samples["artifact"] = out
    return samples


def load_pins():
    with open(PINS) as f:
        return json.load(f)


def expected(pins, workload, size, block, op):
    if workload == "registry_sweep":
        if op["kind"] != "op":
            return None
        rows = pins["registry_rows"].get(op["label"])
        return "missing pin" if rows is None else f"rows={rows}"
    pinned = pins[workload].get(size, {}).get(str(block), {})
    if op["label"] not in pinned:
        return None if op["check"] is None else "missing pin"
    return pinned[op["label"]]


def judge(samples, pins, size):
    """Count attempted and failed operations over the warm-up and every timed
    pass; an op fails when it raised or its check misses its pin."""
    workload, block = samples["workload"], samples["seed"] % BLOCKS
    attempted = failed = 0
    problems = []
    for p in samples["warmups"] + samples["passes"]:
        for op in p["ops"]:
            attempted += 1
            want = expected(pins, workload, size, block, op)
            if op["error"] is not None or not stats.check_matches(want, op["check"]):
                failed += 1
                problems.append(f"pass {p['id']} {op['label']}: error={op['error']} "
                                f"check={op['check']} expected={want}")
        for e in p["verify_errors"]:
            attempted += 1
            failed += 1
            problems.append(f"pass {p['id']} verify: {e}")
    return attempted, failed, problems


def end_to_end(samples, attempted, failed):
    passes = [p for p in samples["passes"] if not p["traced"]]
    ops = [o["seconds"] for p in passes for o in p["ops"] if o["kind"] == "op"]
    values = {
        "setup_s": (samples["session_s"] + stats.median(samples["prepare_s"])
                    + samples["materialize_s"] + samples["warmup_s"]),
        "pass_s": stats.median([p["seconds"] for p in passes]),
        "op_p50_s": stats.median(ops),
        "query_p90_s": stats.percentile(ops, 90),
        "peak_cached_mb": stats.median([p["peak_cached_bytes"] for p in passes]) / 1e6,
        "ops_ok_share": stats.ok_share(attempted, failed),
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def layer_values(p):
    """Per-layer figures of one traced pass from its spans."""
    spans = p["spans"]
    self_s = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    m = {}

    def add(name, v):
        m[name] = m.get(name, 0) + v

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def jobs_under(s):
        return sum(by_id[i]["jobs"] for i in stats.subtree(spans, [s["id"]]))

    for s in spans:
        name = s["name"]
        layer = name.split(".")[0]
        if layer == "queries":
            add("queries.construct_s", self_s[s["id"]])
            add("queries.construct_jobs", jobs_under(s))
            add(f"{name}_s", dur(by_id[s["parent"]]))  # the whole query, by family
        elif name in ("tables.load", "sources.read", "sources.write",
                      "catalyst.plan", "exec.action"):
            add(f"{name}_s", dur(s))
            if name == "tables.load":
                add("tables.load_jobs", jobs_under(s))
        elif layer in ("nfl", "ml"):
            add(f"{name}_s", dur(s))
            if layer == "ml":
                add("ml.jobs", jobs_under(s))
            elif name != "nfl.rankings":
                add(f"{name}_jobs", jobs_under(s))
        add("exec.jobs", s["jobs"])
        add("exec.stages", s["stages"])
        add("exec.tasks", s["tasks"])
        add("exec.task_busy_s", s["task_ns"] / 1e9)
        add("exec.shuffle_write_mb", s["shuffle_write_bytes"] / 1e6)
        add("exec.spill_mb", s["spill_bytes"] / 1e6)
    m["exec.core_busy_share"] = m.get("exec.task_busy_s", 0) / (CORES * p["seconds"])
    m["trace.span_coverage"] = sum(dur(s) for s in spans if s["parent"] == 0) / p["seconds"]
    return m


def per_layer(samples):
    traced = [p for p in samples["passes"] if p["traced"]]
    plain = [p for p in samples["passes"] if not p["traced"]]
    if not traced or not plain:
        raise RunError("a traced run needs both counted and uncounted passes")
    per_pass = [layer_values(p) for p in traced]
    values = {n: stats.median([v.get(n, 0) for v in per_pass]) for n, _ in PER_LAYER}
    values["trace.overhead_share"] = (stats.median([p["seconds"] for p in traced])
                                      / stats.median([p["seconds"] for p in plain]) - 1)
    return {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}


def measure(workload, seed, seconds, trace, size="full", started=None):
    """One benchmark run: returns (result line dict, samples, problems)."""
    started = started or time.time()
    t = time.time()
    build.build()
    deadline = started + (time.time() - t) + DEADLINE_S  # the first build is not counted
    samples = run_harness(workload, seed, seconds, trace, size, deadline)
    attempted, failed, problems = judge(samples, load_pins(), size)
    metrics = per_layer(samples) if trace else end_to_end(samples, attempted, failed)
    return ({"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}, samples, problems)


def report_noise(samples):
    n = samples["noise"]
    print(f"[bench] {samples['workload']} seed={samples['seed']} passes={len(samples['passes'])} "
          f"load1 {n['before']['load1']:.2f}->{n['after']['load1']:.2f} "
          f"calibrate {n['before']['calibrate_s']:.3f}s->{n['after']['calibrate_s']:.3f}s "
          f"samples={samples['artifact']}", file=sys.stderr)


def pin():
    """Regenerate the model stage's season (`data/season.parquet`) and
    pins.json: the registry's oracle-verified row counts and, per seed block
    and size, the checks of one verified pipeline pass."""
    pins = load_pins() if os.path.exists(PINS) else {}
    correctness = os.path.join(build.ROOT, "CORRECTNESS_local_r21_sf0.01.json")
    with open(correctness) as f:
        oracle = json.load(f)
    pins["registry_rows"] = {q: r["spark_rows"] for q, r in sorted(oracle.items())
                             if r["rows_match"] and r["hash_match"] and r["err"] is None}
    run_harness("season", 0, 0, 0, "full", None)
    for size in ["full", "tiny"]:
        samples = run_harness("pzs_pipeline", 0, 0, 0, size, None, blocks=f"0-{BLOCKS - 1}")
        table = {}
        for entry in samples["pins"]:
            p = entry["pass"]
            bad = [o for o in p["ops"] if o["error"]] + p["verify_errors"]
            if bad:
                raise RunError(f"block {entry['block']}: {bad}")
            table[str(entry["block"])] = {o["label"]: o["check"] for o in p["ops"]
                                          if o["check"] is not None}
        if len({json.dumps(t, sort_keys=True) for t in table.values()}) != len(table):
            raise RunError(f"{size}: two seed blocks pin the same checks")
        pins.setdefault("pzs_pipeline", {})[size] = table
        print(f"[pin] pzs_pipeline {size}: {len(table)} blocks", file=sys.stderr)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def selfcheck():
    """Tiny sizes through every workload, check and trace path."""
    suite = unittest.defaultTestLoader.discover(BENCH, pattern="test_*.py")
    if not unittest.TextTestRunner(stream=sys.stderr, verbosity=0).run(suite).wasSuccessful():
        raise RunError("unit checks failed")
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        for key, ours in [("end_to_end", END_TO_END), ("per_layer", PER_LAYER)]:
            if [(m["name"], m["unit"]) for m in spec[key]] != ours:
                raise RunError(f"BENCHMARK.json {key} differs from run.py")
        if [w["name"] for w in spec["workloads"]] != WORKLOADS:
            raise RunError("BENCHMARK.json workloads differ from run.py")
    pins = load_pins()
    for workload in WORKLOADS:
        line, samples, problems = measure(workload, 1, 1, 1, size="tiny")
        report_noise(samples)
        e2e = end_to_end(samples, line["attempted"], line["failed"])
        if problems or not line["correct"]:
            raise RunError(f"{workload}: " + "; ".join(problems))
        if any(m["value"] <= 0 for m in e2e.values()):
            raise RunError(f"{workload}: an end-to-end metric is not positive: {e2e}")
        coverage = line["metrics"]["trace.span_coverage"]["value"]
        if coverage < 0.9:
            raise RunError(f"{workload}: spans cover {coverage:.1%} of the pass")
        print(f"[selfcheck] {workload}: ok, {line['attempted']} ops, coverage {coverage:.1%}, "
              f"pass_s {e2e['pass_s']['value']:.2f}", file=sys.stderr)
    tiny = pins["pzs_pipeline"]["tiny"]
    if tiny["0"] == tiny["1"]:
        raise RunError("seed blocks 0 and 1 pin the same digests")
    print("[selfcheck] seed 1 reproduced its pinned digests; blocks 0 and 1 differ",
          file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    started = time.time()
    try:
        if args.selfcheck:
            selfcheck()
            return 0
        if args.pin:
            pin()
            return 0
        if not args.workload:
            ap.error("--workload is required")
        line, samples, problems = measure(args.workload, args.seed, args.seconds, args.trace,
                                          started=started)
    except (build.BuildError, RunError, OSError, KeyError, ValueError) as e:
        print(f"[bench] failed: {e}", file=sys.stderr)
        return 1
    report_noise(samples)
    for p in problems:
        print(f"[bench] FAILED {p}", file=sys.stderr)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
