"""hielo_spark benchmark: one workload, one seed, one closed-loop client
against a ``local[N]`` session (N = usable cores, shuffle partitions = N).

    python3 hbench/run.py --workload table_browse --seed 1 --seconds 5 --trace 0

Run it from the root of a source checkout. Steps:

1. generate the inputs from the seed, once;
2. set-up, three rounds: (re)start the session through
   ``hielo_spark.session.get_spark`` and prepare the program on the
   inputs; ``setup_s`` is the median round;
3. warm-up: the first op, which is cold (``WARMUP_OPS``);
4. timed loop: ops back to back for ``--seconds`` and at least the
   workload's ``MIN_TIMED_OPS``; answers are kept;
5. every answer is checked against values computed without the program.

The last stdout line is the result JSON; the line before it, prefixed
``hbench-info``, carries the op times with their count, median and
maximum (a run has too few ops for a tail percentile), the drift ratio
(second-half ÷ first-half median op time) and the warm-up record, and for
``lakehouse_rw`` the step times per kind, the table shape after every
cycle, and the write and space amplification.
With ``--trace 1`` the run wraps ``hielo_spark``'s public functions in
spans, tags each op's Spark jobs with its id, enables the Spark event log,
reports the per-layer metrics instead of the end-to-end ones, and writes
the raw spans to ``.hbench_work/spans/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_ROUNDS = 3
# Ops before the timed loop. The first op is cold (class loading, code
# generation, Python workers). With C1 only (see JVM_OPTS), compilation is
# under 1.2 CPU-s per op after it, but op time still falls 10-20 % over the
# next six ops; a longer warm-up does not fit the time budget (README.md).
WARMUP_OPS = 1
# C1 only. With C2 as well, JIT compilation took 28-30 CPU-s in the first
# curate op and still 2-10 CPU-s per op over the next five, on the 4 cores
# the executor slots use; a run ends long before it finishes, and how far
# it had got when the timed ops ran varied from run to run. With C1 only it
# takes 2-4 CPU-s in the first op and under 1.2 CPU-s per op after it.
JVM_OPTS = "-Xms2g -XX:-UsePerfData -XX:TieredStopAtLevel=1"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    return p.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def drift_ratio(xs: list[float]) -> float:
    h = len(xs) // 2
    return statistics.median(xs[len(xs) - h:]) / statistics.median(xs[:h]) if h else 1.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hielo_spark")):
        print(f"no hielo_spark package beside {HERE}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench = spec()

    work = os.path.join(ROOT, ".hbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    try:
        return run(args, bench, WORKLOADS[args.workload](tiny=args.tiny), work, tmp)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it exits when its stdin closes; it takes its Python workers with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
        gw.shutdown()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def run(args, bench, wl, work, tmp) -> int:
    import procstat
    from tracing import NullTracer, Tracer, read_event_log, read_worker_spans, spark_per_op

    from hielo_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    events_dir = os.path.join(work, "events")
    worker_dir = os.path.join(work, "worker-spans")
    if args.trace:
        os.makedirs(events_dir)
        os.makedirs(worker_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events_dir,
                     "spark.eventLog.compress": "false"})
        # Python workers inherit the JVM's environment
        os.environ["HBENCH_WORKER_SPANS"] = worker_dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [os.path.join(HERE, "wtrace")] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    tr = Tracer() if args.trace else NullTracer()
    if args.trace:
        import hielo_spark.queries  # noqa: F401  (load every module the wrappers rebind)
        import hielo_spark.engine  # noqa: F401
        import hielo_spark.ops.analysis  # noqa: F401

        tr.install()

    probe_before = procstat.host_probe_s()

    # 1. inputs, once
    inputs = wl.generate(os.path.join(work, "inputs"), args.seed)

    # 2. set-up rounds
    spark, setup_times, session_start = None, [], None
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark(app_name="hbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
        if session_start is None:
            session_start = time.perf_counter() - t0
        rdir = os.path.join(work, f"round{r}")
        os.makedirs(rdir)
        wl.prepare(spark, inputs, rdir)
        setup_times.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(os.path.join(work, f"round{r - 1}"))
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    answers: list[tuple[int, dict]] = []
    after_op = getattr(wl, "after_op", None)

    def one_op(i: int, timed: bool = False) -> tuple[float, float, float]:
        c0, d0 = procstat.tree_cpu_s(jvm_pid), time.process_time()
        t0 = time.perf_counter()
        with tr.op(spark, f"op{i}") if timed else contextlib.nullcontext():
            ans = wl.op(spark, inputs, i, tr)
        wall = time.perf_counter() - t0
        cost = wall, procstat.tree_cpu_s(jvm_pid) - c0, time.process_time() - d0
        if after_op is not None:
            after_op(spark, inputs, i, ans)
        answers.append((i, ans))
        return cost

    # 3. warm-up: a fixed number of ops, so every run times the same
    # stretch of the op-time curve
    t_warm = time.perf_counter()
    warm = [one_op(i) for i in range(WARMUP_OPS)]
    warm_s = time.perf_counter() - t_warm
    i = first_timed = len(warm)

    # 4. timed loop
    rss = procstat.PeakRss(jvm_pid).start()
    steal0 = procstat.cpu_steal()
    loop_ops, t_loop = [], time.perf_counter()
    while len(loop_ops) < wl.MIN_TIMED_OPS or time.perf_counter() - t_loop < args.seconds:
        loop_ops.append(one_op(i, timed=True))
        i += 1
    loop_s = time.perf_counter() - t_loop
    peak_rss = rss.stop()
    steal = procstat.steal_frac(steal0, procstat.cpu_steal())
    probe_after = procstat.host_probe_s()

    # 5. checks, outside every timed span
    expected = wl.expect(spark, inputs)
    ref = answers[0][1]
    failed, errors = 0, []
    for k, ans in answers:
        errs = wl.check(expected, k, ans, ref)
        if errs:
            failed += 1
            errors.extend(f"op{k}: {e}" for e in errs[:3])
    attempted = len(answers)
    if hasattr(wl, "final_check"):
        attempted += 1
        errs = wl.final_check(spark, inputs, expected, answers[-1][1])
        failed += bool(errs)
        errors.extend(f"final: {e}" for e in errs[:3])
    for e in errors[:20]:
        print("check failed:", e, file=sys.stderr)

    walls = [w for w, _, _ in loop_ops]
    loop_answers = [a for k, a in answers if k >= first_timed]
    info = {
        "workload": wl.name, "seed": args.seed, "cores": cores, "trace": args.trace,
        "op_s": {"n": len(walls), "p50": statistics.median(walls), "max": max(walls)},
        "drift_ratio": drift_ratio(walls),
        "setup_rounds_s": setup_times, "session_start_s": session_start,
        "warmup": {"ops": len(warm), "s": warm_s,
                   "wall_s": [round(w, 3) for w, _, _ in warm],
                   "jvm_cpu_s": [round(c, 3) for _, c, _ in warm]},
        "loop": {"ops": len(loop_ops), "s": loop_s, "wall_s": [round(w, 3) for w in walls],
                 "jvm_cpu_s": [round(c, 3) for _, c, _ in loop_ops]},
        "host_probe_s": [probe_before, probe_after], "steal_frac": steal,
        "peak_rss_mb": peak_rss,
    }
    if wl.name == "lakehouse_rw":
        info.update(lake_summary(answers, first_timed))

    if args.trace:
        spark.stop()  # flushes the event log
        worker_spans = read_worker_spans(worker_dir)
        events = read_event_log(events_dir)
        layers = layer_metrics(tr, spark_per_op(events, tr.ops, cores), events, worker_spans,
                               loop_ops, first_timed)
        layers.update(lake_layers(loop_answers, info) if wl.name == "lakehouse_rw"
                      else dict.fromkeys(LAKE_LAYERS, 0.0))
        spans_dir = os.path.join(ROOT, ".hbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{wl.name}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tr.spans, "worker_spans": worker_spans, "ops": tr.ops}, f)
        layers.update({"proc.host_probe_s": (probe_before + probe_after) / 2,
                       "proc.steal_frac": steal, "session.start_s": session_start})
        want = bench["per_layer"]
        missing = [m["name"] for m in want if m["name"] not in layers]
        if missing:
            print(f"per-layer metrics not produced: {missing}", file=sys.stderr)
            return 3
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in want}
        info["unattributed_frac"] = layers["trace.unattributed_frac"]
    else:
        values = {
            "setup_s": statistics.median(setup_times),
            "ops_per_s": len(loop_ops) / loop_s,
            "op_p50_s": statistics.median(walls),
            "peak_rss_mb": peak_rss,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print("hbench-info " + json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def lake_summary(answers, first) -> dict:
    """Step latency per kind over the timed cycles, the table shape after
    every cycle, and write / space amplification over the timed cycles."""
    loop = [a for k, a in answers if k >= first]
    kinds: dict[str, list[float]] = {}
    for a in loop:
        for kind, sec in a["steps"]:
            kinds.setdefault(kind, []).append(sec)
    user = sum(a["user_bytes"] for a in loop)
    start = answers[first - 1][1]["end_shape"]["disk_bytes"]
    return {
        "steps_s": {k: {"n": len(v), "p50": statistics.median(v), "max": max(v),
                        "drift_ratio": drift_ratio(v)} for k, v in kinds.items()},
        "shapes": [a["end_shape"] for _, a in answers],
        "write_amp": sum(sum(a["written"].values()) for a in loop) / user,
        "disk_growth_per_byte": (loop[-1]["end_shape"]["disk_bytes"] - start) / user,
    }


COMMIT_PARTS = ("data", "manifest", "manifest_list", "metadata_json")
LAKE_LAYERS = (
    ["table.write_amp", "table.disk_growth_per_byte", "table.live_data_files",
     "table.live_manifests", "table.metadata_files", "table.live_rows",
     "maint.bytes_rewritten", "maint.files_removed"]
    + [f"commit.bytes.{p}" for p in COMMIT_PARTS])


def lake_layers(loop, info) -> dict:
    """Per-cycle byte accounting and table shape of the traced cycles."""
    n = len(loop)
    commits = 3 * n  # commit.append, the DataSource append, delete_where

    def written(kinds, part=None):
        return sum(v for a in loop for k, v in a["written"].items()
                   if k.split(".")[0] in kinds and (part is None or k.endswith("." + part)))

    last = loop[-1]["end_shape"]
    out = {
        "table.write_amp": info["write_amp"],
        "table.disk_growth_per_byte": info["disk_growth_per_byte"],
        "table.live_data_files": last["live_data_files"],
        "table.live_manifests": last["live_manifests"],
        "table.metadata_files": last["metadata_files"],
        "table.live_rows": last["live_rows"],
        "maint.bytes_rewritten": written({"rewrite"}) / n,
        "maint.files_removed": sum(a["files_removed"] for a in loop) / n,
    }
    for p in COMMIT_PARTS:
        out[f"commit.bytes.{p}"] = written({"append", "write_ds", "delete"}, p) / commits
    return out


def layer_metrics(tr, spark_ops, events, worker_spans, loop_ops, first):
    """Per-op means of every layer metric over the timed ops."""
    from tracing import OWN_SPANS, TARGETS, WORKER_SPANS, jobs_in

    per_op = tr.per_op(worker_spans)
    ids = [f"op{first + k}" for k in range(len(loop_ops))]
    n = len(ids)

    def total(key, src=per_op):
        return sum(src.get(op, {}).get(key, 0.0) for op in ids)

    def mean(key, src=per_op):
        return total(key, src) / n

    def ratio(a, b):
        return total(a) / total(b) if total(b) else 0.0

    out = {}
    for span in set(TARGETS.values()) | set(OWN_SPANS) | set(WORKER_SPANS):
        out[span + ".s"] = mean(span)
        out[span + ".self_s"] = mean(span + ".self")
        out[span + ".calls"] = mean(span + ".calls")
    out["io.fan_out.widened_frac"] = ratio("io.fan_out.widened", "io.fan_out.calls")
    out["manifests.files_from_manifest_list.manifests_per_call"] = ratio(
        "manifests.read_manifest.calls", "manifests.files_from_manifest_list.calls")
    out["manifests.files_scanned_per_read"] = ratio("manifests.files_scanned", "manifests.reads")
    out["manifests.scan_useful_frac"] = ratio("manifests.files_useful", "manifests.files_scanned")
    commits = [(s, e) for name, op, s, e, _ in tr.spans if op in ids and name in
               ("commit.append", "commit.delete_where", "lake.write_ds")]
    out["commit.jobs_per_commit"] = jobs_in(events, commits) / len(commits) if commits else 0.0
    for key in next(iter(spark_ops.values())):
        out[key] = mean(key, spark_ops)
    walls = [per_op[op]["op"] for op in ids]
    out["trace.op_wall_s"] = statistics.median(walls)
    out["trace.unattributed_frac"] = sum(per_op[op]["op.self"] for op in ids) / sum(walls)
    out["proc.jvm_cpu_s"] = statistics.mean(c for _, c, _ in loop_ops)
    out["proc.driver_cpu_s"] = statistics.mean(d for _, _, d in loop_ops)
    return out


if __name__ == "__main__":
    sys.exit(main())
