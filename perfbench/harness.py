"""One benchmark run inside its own process (started by ``run.py``).

Sequence: generate inputs from the seed; start a SparkSession; prepare
the workload's state once, cold, as a user of a fresh session would;
run the warm-up operations; time two calibration probes; run the closed
loop for whole rounds of the workload's mix until ``--seconds`` have
passed; verify outputs; print one JSON object with every metric as the
last line.

Lines ``phase session_start`` and ``phase timed_done`` on standard
output mark the program's part of the run for ``run.py``, which samples
memory only between them: input generation before and verification
after are the benchmark's own work.

With ``--trace 1`` every timed operation is traced: spans, layer
counts, lazy stages materialized at their boundaries. Spark's status
store is read for every operation after it completes. The time spent
in work only tracing asks for, over the time of the operations without
it, is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from tracing import SparkCounters, Tracer, trace_calls
from workloads import WORKLOADS

#: warm-up operations before the timed loop (see README.md, "Warm-up")
WARMUP_OPS = {"warehouse_reads": 0, "incremental_sync": 1}
T0 = time.perf_counter()
#: ``op_tail_ms`` is the op with exactly min(TAIL_RANK, n // 10) slower
#: ops: the highest percentile with ten samples beyond it once a run
#: holds 110 ops, the nearest-rank p90 below that
TAIL_RANK = 10
CALIB_REPS = 2
#: metrics one workload measures and the other does not
WORKLOAD_COUNTERS = (
    "storage_bytes_per_input_byte",
    "ann_recall_at_k",
    "versioned.compactions",
    "versioned.bytes_per_input_byte",
)


def _calib_identity(batches):
    yield from batches


def calibrate(spark, cores: int) -> dict[str, float]:
    """Fixed probes of the machine's state: a JVM-only action and a
    trivial Python-worker action, the fastest of ``CALIB_REPS`` each
    (the first Python probe of a session that has not used the workers
    yet also starts them)."""
    jvm, py = [], []
    for _ in range(CALIB_REPS):
        t = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=cores).selectExpr(
            "sum(id * 7 % 13)"
        ).collect()
        jvm.append((time.perf_counter() - t) * 1000)
        t = time.perf_counter()
        spark.range(0, 20_000, numPartitions=cores).mapInArrow(
            _calib_identity, "id long"
        ).write.format("noop").mode("overwrite").save()
        py.append((time.perf_counter() - t) * 1000)
    return {
        "calib.jvm_noop_ms": min(jvm),
        "calib.python_udf_ms": min(py),
    }


def run(args) -> dict:
    from end_to_end_database_pipeline_project_spark.session import get_spark

    work = os.environ["PERFBENCH_WORK"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"), tracer)
    wl.generate()

    print("phase session_start", flush=True)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark, os.path.join(work, "state"))
    prepare_s = time.perf_counter() - t0
    ops = wl.ops()
    warm_ms = []
    for _ in range(WARMUP_OPS[args.workload]):
        t = time.perf_counter()
        wl.run_op(spark, next(ops))
        warm_ms.append((time.perf_counter() - t) * 1000)
    phases = {"setup_done": time.perf_counter() - T0}

    calib = calibrate(spark, cores)
    if args.trace:
        from end_to_end_database_pipeline_project_spark.sources import catalog

        counters = SparkCounters(spark)
        load_calls = trace_calls(tracer, catalog, "load_table", "catalog.load_table")
    sc = spark.sparkContext

    lat, per_op = [], []
    failed = 0
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    i = 0
    # whole rounds of the mix, so every run times the same composition
    while time.perf_counter() < deadline or i % wl.round_ops:
        op = next(ops)
        group = tracer.begin_op(sc, i)
        tracer.enabled = bool(args.trace)
        t = time.perf_counter()
        try:
            wl.run_op(spark, op)
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            failed += 1
            traceback.print_exc(file=sys.stderr)
        dt_ms = (time.perf_counter() - t) * 1000
        if args.trace:
            tracer.count("catalog.load_table_calls_per_op", load_calls())
        tracer.enabled = False
        lat.append(dt_ms)
        if args.trace:
            per_op.append((dt_ms, counters.read(group)))
        i += 1
    wall = time.perf_counter() - t_start
    phases["timed_done"] = time.perf_counter() - T0
    print("phase timed_done", flush=True)
    sc.setJobGroup("verify", "verify")

    errs = wl.verify(spark)
    phases["verify_done"] = time.perf_counter() - T0
    for e in errs:
        print(f"verify: {e}", file=sys.stderr)
    print(
        "series "
        + json.dumps(
            {
                "session_s": round(session_s, 3),
                "prepare_s": round(prepare_s, 3),
                "warmup_ms": [round(x, 1) for x in warm_ms],
                "timed_ms": [round(x, 1) for x in lat],
                "phases_s": {k: round(v, 1) for k, v in phases.items()},
                "calib_ms": {k: round(v, 1) for k, v in calib.items()},
            }
        )
    )

    n = len(lat)
    ranked = sorted(lat)
    metrics = {
        "setup_s": session_s + prepare_s + sum(warm_ms) / 1000,
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": ranked[n - 1 - min(TAIL_RANK, n // 10)],
        "ops_per_s": n / wall,
        "failed_op_frac": failed / n,
        **calib,
        **wl.counters(),
    }
    if args.trace:
        metrics.update(layer_metrics(tracer, per_op, cores))
        # a layer the workload does not call reads 0
        for name in WORKLOAD_COUNTERS:
            metrics.setdefault(name, 0.0)
        metrics["trace.overhead_frac"] = tracer.extra_s / (sum(lat) / 1000 - tracer.extra_s)
        out = os.path.join(os.environ["PERFBENCH_OUT"], f"trace-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tracer.dump(out)
    return {
        "correct": not errs and failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": metrics,
    }


def layer_metrics(tracer: Tracer, per_op: list, cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced run: span medians, layer counts,
    and Spark's per-op accounting (tracing's own jobs left out)."""
    out = {
        "plans.build_ms": tracer.median_ms("plans.build"),
        "plans.execute_ms": tracer.median_ms("plans.execute"),
        "versioned.append_ms": tracer.median_ms("versioned.append"),
        "versioned.incremental_scan_ms": tracer.median_ms("versioned.incremental_scan"),
        "versioned.read_ms": tracer.median_ms("versioned.read"),
        "medallion.silver_ms": tracer.median_ms("medallion.silver"),
        "medallion.gold_refresh_ms": tracer.median_ms("medallion.gold_refresh"),
        "kv_sink.publish_ms": tracer.median_ms("kv_sink.publish"),
        "curation.funnel_ms": tracer.median_ms("curation.funnel"),
        "dedup.lsh_ms": tracer.median_ms("dedup.lsh"),
        "similarity.ann_ms": tracer.median_ms("similarity.ann"),
        "catalog.load_table_ms": tracer.median_ms("catalog.load_table"),
    }
    for name in (
        "catalog.load_table_calls_per_op",
        "versioned.chain_length",
        "versioned.files_per_commit",
        "versioned.compact_ms",
        "medallion.months_per_refresh",
        "kv_sink.rows_per_publish",
        "curation.admitted_frac",
        "bloom.maybe_dup_frac",
        "bloom.false_positive_frac",
        "dedup.lsh_candidate_pairs",
        "dedup.lsh_precision",
        "similarity.ann_scored_per_query",
    ):
        out[name] = tracer.mean(name)
    if per_op:
        k = len(per_op)
        tot = {key: sum(c[key] for _, c in per_op) for key in per_op[0][1]}
        wall_ms = sum(d for d, _ in per_op)
        out.update(
            {
                "session.jobs_per_op": tot["jobs"] / k,
                "session.stages_per_op": tot["stages"] / k,
                "session.tasks_per_op": tot["tasks"] / k,
                "session.shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / k,
                "session.executor_cpu_ms_per_op": tot["executor_cpu_ms"] / k,
                "session.busy_frac": tot["executor_run_ms"] / (wall_ms * cores),
                "session.task_retries": tot["task_retries"],
                "catalog.input_bytes_per_op": tot["input_bytes"] / k,
            }
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    # no spark.stop(): the JVM exits by itself once this process is gone
    # (it watches its stdin), and run.py waits for it; stopping first
    # only adds to the run's wall time
    os._exit(0)


if __name__ == "__main__":
    main()
