#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload table_io --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the harness
(perfbench/build.py), runs the Scala harness (perfbench/harness) in one JVM
on local[N] with N = the CPUs this process may use, checks every op's
output, prints a report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
metrics (the traced run also prints the end-to-end figures of its untraced
first half in the report).

All inputs are generated from --seed. Build output, state and temporary
files live under .bench_build/; the run's own directory is deleted when it
ends, and the run fails if it changed any file outside .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("table_io", "artifact_lifecycle")
JVM_TIMEOUT_S = 165
BASELINE_SCAN_MB_S = 140.0  # BASELINE.md: the reference's InputBenchmark
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# files a stray write at the root would most likely create
ROOT_TRAPS = ["BENCH_FULL.json", "BENCH_DIFF.md", "spark-warehouse"]


class RunError(Exception):
    pass


# ---------------------------------------------------------------- metrics

def _samples(raw, name, keys=("samples", "setup_samples", "probe_samples")):
    """Samples of `name` from the first of the run's own, set-up or probe
    records that has any."""
    for k in keys:
        xs = [v for n, v in raw.get(k, []) if n == name]
        if xs:
            return xs
    return []


def _spans(raw, name):
    for k in ("spans", "setup_spans", "probe_spans"):
        xs = [s["t1"] - s["t0"] for s in raw.get(k, []) if s["name"] == name]
        if xs:
            return xs
    return []


def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def end_to_end(raw, ops):
    su = raw["setup"]
    deck = raw["deck"]
    return {
        "setup_s": (su["session_s"] + stats.median(su["rounds_s"]) + su["warmup_s"], "s"),
        "read_deck_cal": (stats.deck_time(ops, "read", deck, stats.op_cal), "cal"),
        "write_deck_cal": (stats.deck_time(ops, "write", deck, stats.op_cal), "cal"),
    }


def wall_clock(raw, ops):
    """The end-to-end figures in wall-clock units, as a user sees them, and
    the calibration time they are divided by."""
    rows = sum(o["rows"] for o in ops)
    busy_ms = sum(stats.op_ms(o) for o in ops)
    deck = raw["deck"]
    return {
        "ops.read_deck_ms": (stats.deck_time(ops, "read", deck), "ms"),
        "ops.write_deck_ms": (stats.deck_time(ops, "write", deck), "ms"),
        "ops.rows_per_s": (rows / busy_ms * 1e3, "1/s"),
        "ops.cal_ms": (stats.median([o["cal"] for o in ops]), "ms"),
    }


def scan_mb_per_s(raw, ops_key):
    mb = _samples(raw, "api.table_mb")
    scans = [stats.op_ms(o) for o in raw.get(ops_key, []) if o["kind"] == "scan"]
    if not mb or not scans:
        return None
    return mb[0] / (stats.median(scans) / 1e3)


def per_layer(raw):
    ops = raw["ops"]
    all_ops = raw["untraced_ops"] + ops
    cores = raw["cores"]
    counters = [c for _, c in raw["op_counters"]]

    def per_op(key):
        return sum(c.get(key, 0.0) for c in counters) / len(counters)

    def span_mean(name, scale):
        xs = _spans(raw, name)
        return _mean(xs) / scale if xs else None

    def tail(cls):
        xs = [stats.op_ms(o) for o in all_ops if o["cls"] == cls]
        t = stats.ptail(xs)
        return t[0] if t else max(xs)

    wall = sum(stats.op_ms(o) for o in ops)
    task_ms = sum(c.get("exec.task_ms", 0.0) for c in counters)
    files_read = sum(c.get("scan.files_read", 0.0) for c in counters)
    files_listed = sum(c.get("scan.files_listed", 0.0) for c in counters)
    storage = raw["storage"]
    # a half may end inside a deck: compare the kinds both halves ran
    untraced, traced = stats.by_kind(raw["untraced_ops"]), stats.by_kind(ops)
    both = {k: n for k, n in raw["deck"].items() if k in traced and k in untraced}

    def deck_of(xs):
        return stats.deck_time([o for o in xs if o["kind"] in both], None, both, stats.op_cal)

    overhead = 100.0 * (deck_of(ops) / deck_of(raw["untraced_ops"]) - 1.0)
    shares = stats.layer_shares(raw["spans"])
    hits = _samples(raw, "tables.memo_hit")
    drift = stats.drift_ratio(stats.pass_times(all_ops))
    m = {
        **wall_clock(raw, all_ops),
        "ops.read_ptail_ms": (tail("read"), "ms"),
        "ops.write_ptail_ms": (tail("write"), "ms"),
        "ops.failed_share": (stats.failed_share(all_ops), "ratio"),
        "ops.session_drift_ratio": (drift, "ratio"),
        "trace.overhead_pct": (overhead, "%"),
        "plan.analysis_ms": (per_op("plan.analysis_ms"), "ms/op"),
        "plan.optimizer_ms": (per_op("plan.optimizer_ms"), "ms/op"),
        "plan.planning_ms": (per_op("plan.planning_ms"), "ms/op"),
        "plan.queries": (per_op("plan.queries"), "count/op"),
        "exec.jobs": (per_op("exec.jobs"), "count/op"),
        "exec.stages": (per_op("exec.stages"), "count/op"),
        "exec.tasks": (per_op("exec.tasks"), "count/op"),
        "exec.failed_tasks": (per_op("exec.failed_tasks"), "count/op"),
        "exec.task_ms": (per_op("exec.task_ms"), "ms/op"),
        "exec.task_cpu_ms": (per_op("exec.task_cpu_ms"), "ms/op"),
        "exec.sched_wait_ms": (per_op("exec.sched_wait_ms"), "ms/op"),
        "exec.gc_ms": (per_op("exec.gc_ms"), "ms/op"),
        "exec.shuffle_write_mb": (per_op("exec.shuffle_write_mb"), "MB/op"),
        "exec.shuffle_read_mb": (per_op("exec.shuffle_read_mb"), "MB/op"),
        "exec.spill_mb": (per_op("exec.spill_mb"), "MB/op"),
        "exec.input_mb": (per_op("exec.input_mb"), "MB/op"),
        "exec.output_mb": (per_op("exec.output_mb"), "MB/op"),
        "exec.driver_ms": (stats.driver_ms(ops, raw["jobs"]) / len(ops), "ms/op"),
        "exec.slot_utilization": (stats.slot_utilization(task_ms, wall, cores), "ratio"),
        "storage.rdd_blocks_live": (max(s[1] for s in storage), "count"),
        "storage.mem_mb": (max(s[2] for s in storage), "MB"),
        "storage.disk_mb": (max(s[3] for s in storage), "MB"),
        "scan.files_read_ratio": (files_read / files_listed if files_listed else None, "ratio"),
        "tables.t_ms": (span_mean("tables.t", 1.0), "ms"),
        "tables.memo_hit_ratio": (_mean(hits), "ratio"),
        "api.read_call_ms": (span_mean("api.read_call", 1.0), "ms"),
        "api.partition_columns_ms": (span_mean("api.partition_columns", 1.0), "ms"),
        "api.widen_ms": (span_mean("api.widen", 1.0), "ms"),
        "api.files_per_write": (_mean(_samples(raw, "api.files_per_write")), "count"),
        "api.bytes_per_row": (_mean(_samples(raw, "api.bytes_per_row")), "B/row"),
        "api.scan_mb_per_s": (scan_mb_per_s(raw, "ops") or scan_mb_per_s(raw, "probe_ops"),
                              "MB/s"),
        "llm.pairs_out": (_mean(_samples(raw, "llm.pairs_out")), "count"),
        "llm.lsh_dropped_buckets": (_samples(raw, "llm.lsh_dropped_buckets")[-1], "count"),
        "operators.graph_build_s": (span_mean("operators.graph_build", 1e3), "s"),
        "operators.graph_append_s": (span_mean("operators.graph_append", 1e3), "s"),
        "operators.graph_serve_ms": (span_mean("operators.graph_serve", 1.0), "ms"),
        "operators.graph_buckets": (_mean(_samples(raw, "operators.graph_buckets")), "count"),
        "operators.graph_buckets_touched":
            (_mean(_samples(raw, "operators.graph_buckets_touched")), "count"),
        "operators.graph_files": (_samples(raw, "operators.graph_files")[-1], "count"),
        "compact.run_s": (span_mean("compact.run", 1e3), "s"),
        "compact.serve_ms": (span_mean("compact.serve", 1.0), "ms"),
        "tolerant.run_s": (span_mean("tolerant.run", 1e3), "s"),
        "tolerant.serve_ms": (span_mean("tolerant.serve", 1.0), "ms"),
        "ann.build_s": (span_mean("ann.build", 1e3), "s"),
        "ann.append_s": (span_mean("ann.append", 1e3), "s"),
        "ann.topk_ms": (span_mean("ann.topk", 1.0), "ms"),
        "lease.acquire_release_ms": (span_mean("lease.acquire_release", 1.0), "ms"),
        "io.state_files": (_samples(raw, "io.state_files")[-1], "count"),
        "io.state_bytes_per_input_row":
            (_samples(raw, "io.state_bytes_per_input_row")[-1], "B/row"),
    }
    for layer in ("op", "api", "tables", "exec", "operators"):
        m[f"share.{layer}_pct"] = (shares.get(layer, 0.0), "%")
    for k in ("shingle", "minhash", "srp", "jaro_winkler", "bpe"):
        name = f"functions.{k}_rows_per_s"
        m[name] = (_samples(raw, name)[0], "1/s")
    return m


# ------------------------------------------------------------------ report

def report(raw, metrics, trace, out):
    w = raw["workload"]
    print(f"perfbench {w} seed={raw['seed']} seconds={raw['seconds']} trace={trace} "
          f"local[{raw['cores']}]", file=out)
    print(f"  inputs: {json.dumps(raw['sizes'])}", file=out)
    print(f"  deck (ops of each kind in one pass): {json.dumps(raw['deck'])}", file=out)
    su = raw["setup"]
    print(f"  set-up: session {su['session_s']:.3f} s, build rounds "
          f"{', '.join(f'{x:.3f}' for x in su['rounds_s'])} s, warm-up {su['warmup_s']:.3f} s",
          file=out)
    print("  phases: " + ", ".join(f"{k} {v:.3f} s" for k, v in raw["phases_s"].items()), file=out)
    ops_key = "ops" if trace == 0 else "untraced_ops"
    print(f"  ops ({'tracing off' if trace == 0 else 'untraced half'}), by kind:", file=out)
    for kind, xs in sorted(stats.by_kind(raw[ops_key]).items()):
        t = stats.ptail(xs)
        tail = f"p{t[1]:.1f} {t[0]:.3f} ms" if t else "no tail (< 11 samples)"
        print(f"    {kind:<16} n={len(xs):<4} p50 {stats.median(xs):10.3f} ms   {tail}", file=out)
    for cls in ("read", "write"):
        xs = [stats.op_ms(o) for o in raw[ops_key] if o["cls"] == cls]
        t = stats.ptail(xs)
        if t:
            print(f"  {cls} tail: p{t[1]:.1f} = {t[0]:.3f} ms over {t[2]} ops", file=out)
        else:
            print(f"  {cls} tail: {len(xs)} ops, fewer than 11: no percentile has ten "
                  f"samples beyond it (max {max(xs):.3f} ms)", file=out)
    mbs = scan_mb_per_s(raw, ops_key)
    if mbs is not None:
        print(f"  scan_mb_per_s {mbs:.3f} MB/s (IdIdSimRow full scan, median of "
              f"{sum(1 for o in raw[ops_key] if o['kind'] == 'scan')}); BASELINE "
              f"{BASELINE_SCAN_MB_S:.0f} MB/s, ratio {mbs / BASELINE_SCAN_MB_S:.2f}", file=out)
    extra = wall_clock(raw, raw[ops_key])
    if trace == 1:
        extra.update(end_to_end(raw, raw["untraced_ops"]))
    print("  " + ("wall clock:" if trace == 0 else "untraced half:"), file=out)
    for k, (v, u) in extra.items():
        print(f"    {k:<34} {v:14.4f} {u}", file=out)
    print(f"  {'end-to-end' if trace == 0 else 'per-layer'} metrics:", file=out)
    for k, (v, u) in metrics.items():
        print(f"    {k:<34} {v:14.4f} {u}", file=out)
    for c in raw["checks"]:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}", file=out)
    for o in raw["ops"] + raw.get("probe_ops", []):
        if not o["ok"]:
            print(f"  op {o['kind']} #{o['id']} FAILED: {o['err']}", file=out)


# --------------------------------------------------------------------- run

def tree_state(root):
    """(size, mtime) of every file outside .bench_build and .git."""
    state = {}
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel == ".":
            dirs[:] = [x for x in dirs if x not in (".bench_build", ".git")]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            state[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    for t in ROOT_TRAPS:
        state[t + "?"] = os.path.exists(os.path.join(root, t))
    return state


def declared_metrics(trace):
    """(name, unit) of the metrics BENCHMARK.json declares for this mode."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(args, classes, work):
    jars = os.path.join(build.spark_jars(), "*")
    cores = len(os.sched_getaffinity(0))
    raw_path = os.path.join(work, "raw.json")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [build.java(), "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")],
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work,
           "-cp", os.path.abspath(classes) + os.pathsep + jars, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.abspath(work), "--out", os.path.abspath(raw_path),
           "--cores", str(cores)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RunError(f"harness exceeded {JVM_TIMEOUT_S} s")
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as fh:
            tail = [ln for ln in fh if " INFO " not in ln and " WARN " not in ln][-30:]
        raise RunError(f"harness exited {code}:\n" + "".join(tail))
    with open(raw_path) as fh:
        return json.load(fh)


def main(argv=None):
    # turn SIGTERM into SystemExit so the cleanup in `finally` blocks runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile("BENCHMARK.json") and os.path.isdir("src/main/scala")):
        print("perfbench: run from the repository root (BENCHMARK.json and src/main/scala)",
              file=sys.stderr)
        return 2
    before = tree_state(root)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        raw = run_jvm(args, classes, work)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = raw["ops"]
    computed = end_to_end(raw, ops) if args.trace == 0 else per_layer(raw)
    declared = declared_metrics(args.trace)
    missing = [n for n, u in declared
               if n not in computed or computed[n][0] is None or computed[n][1] != u]
    extra = sorted(computed.keys() - dict(declared).keys())
    if missing or extra:
        print(f"perfbench: metrics differ from BENCHMARK.json: no value or another unit for "
              f"{missing}; not declared: {extra}", file=sys.stderr)
        return 1
    metrics = {n: computed[n] for n, _ in declared}
    report(raw, metrics, args.trace, sys.stdout)
    after = tree_state(root)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    if changed:
        print(f"  hygiene: the run changed files outside .bench_build: {changed[:10]}")
    correct = (not changed and all(c["ok"] for c in raw["checks"]) and
               all(o["ok"] for o in raw["ops"] + raw.get("probe_ops", [])))
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o["ok"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
