#!/usr/bin/env python3
"""Chill benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_verify --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of a separate traced run. See README.md
in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # inputs are generated this many times; setup_s takes the median

E2E = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "records/s", "peak_rss_mb": "MB"}

# name -> unit; "<layer>.jobs/.tasks/.failed_tasks" are added per layer
LAYER_METRICS = {
    "config.load_s": "s",
    "sources.views_s": "s", "sources.scan_s": "s", "sources.tags_s": "s",
    "sources.files": "count", "sources.rows": "count",
    "dsl.compile_s": "s", "dsl.derive_self_s": "s", "dsl.tier3_fields": "count",
    "pipeline.run_batch_s": "s", "pipeline.unmatched_rows": "count",
    "pipeline.derive_errors": "count",
    "operators.writers.write_self_s": "s", "operators.writers.files_written": "count",
    "operators.writers.bytes_written": "bytes",
    "operators.rollup.ladder_s": "s",
    "operators.incremental.repair_s": "s", "operators.incremental.windows_repaired": "count",
    "streaming.queue_wait_s": "s", "streaming.add_batch_s": "s", "streaming.overhead_s": "s",
    "streaming.batches": "count", "streaming.files_per_batch": "count",
    "streaming.gen_lag_s": "s",
    "reconcile.compare_s": "s", "reconcile.counts_s": "s", "reconcile.missing_rows_s": "s",
    "reconcile.value_diff_s": "s", "reconcile.referential_s": "s",
    "reconcile.expectations_s": "s", "reconcile.detected_ratio": "ratio",
    "report.junit_s": "s",
    "llm_ops.scrub_s": "s", "llm_ops.selfdedup_s": "s", "llm_ops.quality_s": "s",
    "llm_ops.exact_dedup_s": "s", "llm_ops.split_s": "s", "llm_ops.pack_s": "s",
    "llm_ops.survivor_ratio": "ratio", "llm_ops.pack_fill_ratio": "ratio",
}
LAYERS = ["config", "sources", "dsl", "pipeline", "operators.writers", "operators.rollup",
          "operators.incremental", "streaming", "reconcile", "report", "llm_ops"]
for _layer in LAYERS:
    for _k in ("jobs", "tasks", "failed_tasks"):
        LAYER_METRICS[f"{_layer}.{_k}"] = "count"
LAYER_METRICS["trace.op_p50_s"] = "s"
LAYER_METRICS["trace.overhead_frac"] = "ratio"
LAYER_METRICS["trace.self_gap_frac"] = "ratio"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """local[cores] session whose scratch files all stay under ``work``."""
    from chill_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # glibc gives each allocating thread its own arena; with Spark's many
    # threads the JVM's native RSS then varied by ~500 MB between runs.
    # Two arenas on a 4-core box slowed the etl_verify op by ~25%; one
    # per core did not.
    os.environ["MALLOC_ARENA_MAX"] = str(cores)
    # Python workers import chill_spark from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.local.dir": local,
        # A fixed heap, touched at start: a heap left to grow does so at
        # GC's whim, which made peak RSS vary by ~15% between identical
        # runs. Peak RSS then shows what grows beyond the heap.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions":
            "-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "  # no hsperfdata under /tmp
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(spark, W, args, work, spark_s) -> tuple[dict, dict]:
    """Untraced: set the inputs up SETUP_REPS times, warm with one op,
    then measure closed-loop ops for ``args.seconds``."""
    gens = []
    for rep in range(SETUP_REPS):
        if rep:
            shutil.rmtree(w.root, ignore_errors=True)
        w = W(spark, os.path.join(work, f"{W.name}-{rep}"), args.seed)
        g0 = time.perf_counter()
        w.setup()
        gens.append(time.perf_counter() - g0)
    w0 = time.perf_counter()
    w.warm()
    warm_s = time.perf_counter() - w0

    m = w.run(args.seconds)
    if not w.checks_per_op and not w.check():
        m.failed = m.attempted
    w.close()
    metrics = {
        "setup_s": spark_s + median(gens) + warm_s,
        "op_p50_s": median(m.lat),
        "rows_per_s": m.records / m.busy_s if m.busy_s > 0 else 0.0,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    info = {"op_n": len(m.lat), "op_lat_s": [round(x, 4) for x in m.lat],
            "failed_frac": m.failed / m.attempted,
            "setup_parts_s": [round(spark_s, 3), round(median(gens), 3), round(warm_s, 3)],
            "failures": w.failures[:5]}
    return metrics, {"attempted": m.attempted, "failed": m.failed, **info}


def traced(spark, args, work) -> tuple[dict, dict]:
    """Per-layer metrics. Every workload runs, one after another, so
    each layer is measured on the workload it is the home of. The
    selected workload is warmed and runs its window traced; the others
    run one traced op cold (the open-loop one is warmed, as a cold
    first batch misses its latency limit)."""
    from spans import Tracer
    from workloads import WORKLOADS, WRAPS

    tr = Tracer(spark)
    for module, attr, layer in WRAPS:
        count = (lambda r: sum(len(v) for v in r.values())) \
            if attr == "maintain_ladder_increment" else None
        tr.wrap(module, attr, layer, count)
    order = [n for n in WORKLOADS if n != args.workload] + [args.workload]
    runs, probes, home, failures, phase_s = {}, {}, {}, [], {}
    attempted = failed = 0
    for name in order:
        p0 = time.perf_counter()
        w = WORKLOADS[name](spark, os.path.join(work, name), args.seed)
        w.tr = tr
        tr.workload = name
        home.update({layer: name for layer in w.layers})
        w.setup()
        if name == args.workload or not w.checks_per_op:
            w.warm()
        if name == "stream_intake":
            stream_before = tr.job_ids(str(w.query.runId))
        tr.active = True
        m = w.run(args.seconds) if name == args.workload else w.run(0, max_ops=1)
        tr.active = False
        if name == "stream_intake":
            stream_jobs = tr.count_jobs(tr.job_ids(str(w.query.runId)) - stream_before)
        if not w.checks_per_op and not w.check():
            m.failed = m.attempted
        probes.update(w.probe())
        w.close()
        runs[name] = m
        attempted += m.attempted
        failed += m.failed
        failures += w.failures
        phase_s[name] = round(time.perf_counter() - p0, 2)
    tr.unwrap_all()

    def per_op(workload, layer, name=None):
        """Median over that workload's traced ops of the span time in ``layer``."""
        roots = [s for s in tr.spans if s.workload == workload and s.layer == "op"]
        return median([sum(s.dur for s in tr.spans
                           if s.workload == workload and s.layer == layer
                           and (name is None or s.name == name)
                           and r.t0 <= s.t0 and s.t1 <= r.t1) for r in roots])

    ex = runs["stream_intake"].extra
    repairs = [s.dur for s in tr.spans if s.layer == "operators.incremental"]
    metrics = {
        "config.load_s": per_op("etl_verify", "config"),
        "sources.views_s": per_op("etl_verify", "sources", "execute_views"),
        "dsl.compile_s": per_op("etl_verify", "dsl"),
        "dsl.derive_self_s": probes.pop("_derive_self_s"),
        "pipeline.run_batch_s": per_op("etl_verify", "pipeline", "run_batch"),
        "operators.writers.write_self_s":
            per_op("etl_verify", "pipeline", "run_batch") - probes.pop("_transform_forced_s"),
        "operators.rollup.ladder_s": per_op("etl_verify", "operators.rollup"),
        "operators.incremental.repair_s": median(repairs),
        "operators.incremental.windows_repaired": tr.counts.get("operators.incremental", 0),
        "streaming.queue_wait_s": median(ex["queue_wait"]),
        "streaming.add_batch_s": median(ex["add_batch"]),
        "streaming.overhead_s": median(ex["overhead"]),
        "streaming.batches": ex["batches"],
        "streaming.files_per_batch": median(ex["files_per_batch"]),
        "streaming.gen_lag_s": median(ex["gen_lag"]),
        "reconcile.compare_s": per_op("reconcile_drift", "reconcile", "compare_tables"),
        "reconcile.expectations_s":
            per_op("reconcile_drift", "reconcile", "check_expectations"),
        "report.junit_s": per_op("reconcile_drift", "report"),
        **probes,
    }
    for layer in LAYERS:
        counts = stream_jobs if layer == "streaming" else tr.layer_jobs(home[layer], layer)
        for k, v in counts.items():
            metrics[f"{layer}.{k}"] = v
    sel = runs[args.workload]
    p50 = median(sel.lat)
    metrics["trace.op_p50_s"] = p50
    metrics["trace.overhead_frac"] = tr.own_s[args.workload] / sum(sel.lat)
    # share of the op time that no layer span's self time covers
    selfs = tr.self_times(tr.spans)
    roots = [s for s in tr.spans if s.workload == args.workload and s.layer == "op"]
    covered = median([sum(selfs[s.sid] for s in tr.spans
                          if s.workload == args.workload and s.layer != "op"
                          and r.t0 <= s.t0 and s.t1 <= r.t1) for r in roots])
    metrics["trace.self_gap_frac"] = 1 - covered / p50
    missing = set(LAYER_METRICS) - set(metrics)
    if missing:
        raise RuntimeError(f"traced run produced no value for {sorted(missing)}")
    return {k: metrics[k] for k in LAYER_METRICS}, {
        "attempted": attempted, "failed": failed, "failures": failures[:5],
        "workload_s": phase_s, "op_lat_s": [round(x, 4) for x in sel.lat]}


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    from bench import cpu_calibration, cpu_calibration_parallel, load_gate
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    load, loaded, _waited = load_gate(max_load=0.5 * cores, wait_s=0)
    calib_s, calib_par_s = cpu_calibration(reps=3), cpu_calibration_parallel(reps=2)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        spark_s = time.perf_counter() - t0
        if args.trace:
            metrics, info = traced(spark, args, work)
            units = LAYER_METRICS
        else:
            metrics, info = end_to_end(spark, WORKLOADS[args.workload], args, work, spark_s)
            units = E2E
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "cores": cores, "load_1m": load, "loaded": loaded,
             "load_1m_end": round(os.getloadavg()[0], 2),
             "calib_s": calib_s, "calib_par_s": calib_par_s,
             **{k: v for k, v in info.items() if k not in ("attempted", "failed")}}
    print(json.dumps(stamp))
    attempted, failed = info["attempted"], info["failed"]
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
