"""One benchmark run in a fresh process (started by ``run.py``, which sets
the run's environment and cleans up after it).

Set-up (everything before the first timed pass, all counted in
``setup_s``): input preparation, session start, registry load, the cold
gate pass (oracle compare or ETL invariants), and a fixed number of
warm-up passes. Then passes run back to back until ``--seconds`` of timed
pass wall have accrued. A pass's wall is the sum of its ops' build and
execute walls; every reading of ``/proc``, the JVM beans, the cache and
the status stores is taken between ops, outside those walls.

``--trace 1`` alternates traced and untraced passes: traced passes also
drain Spark's status stores after each op and record spans. It prints the
per-layer metrics, including the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import probes
import spans
import workloads

QUERY_MIX = ["q01", "q03", "q06", "q13", "q16", "q93"]

WORKLOADS = {
    "bulk_etl": lambda: workloads.EtlWorkload(
        rows=50_000, append_rows=5_000, cassandra_rows=10_000, warmup_passes=2
    ),
    "query_mix": lambda: workloads.QueryWorkload(
        "query_mix", QUERY_MIX, warmup_passes=3,
        why="read-only JVM relational and event-time queries, bound by planning and the driver; "
        "no Python worker, so the bypass leg for Arrow and worker changes",
    ),
}

ETL_LAYERS = {
    "write_job": "plans.write_job_s",
    "read_job": "plans.read_job_s",
    "append_job": "plans.append_job_s",
    "snapshot_read": "plans.snapshot_read_s",
    "copy_table": "plans.copy_table_s",
    "table_to_parquet": "plans.table_to_parquet_s",
    "coordinated_write": "plans.two_clusters_coordinated_write_s",
    "cassandra_write": "sources.cassandra_write_s",
    "cassandra_read": "sources.cassandra_read_s",
}

# per-layer catalogue: every traced run reports all of these (0 where the
# workload does not reach the layer)
PER_LAYER = {
    "session.start_s": "s",
    "queries.load_s": "s",
    "inputs.prepare_s": "s",
    "warmup.first_pass_s": "s",
    "timed.passes": "count",
    **{f"op.{q}.{part}_s": "s" for q in QUERY_MIX for part in ("build", "exec")},
    **{metric: "s" for metric in ETL_LAYERS.values()},
    "datagen.rows_per_s": "rows/s",
    "sources.bytes_written": "bytes",
    "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "driver.cpu_s": "s",
    "pyworker.procs": "count",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.rss_mb": "MiB",
    "pyworker.rss_mb": "MiB",
    "cache.peak_bytes": "bytes",
    "driver.gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "stage.run_s": "s",
    "stage.cpu_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "sql.pyworker_run_s": "s",
    "sql.arrow_bytes": "bytes",
    "sql.cache_scan_rows": "count",
    "trace.overhead_ratio": "ratio",
    "host.control_s": "s",
    "host.py4j_rtt_us": "us",
}

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "pass_p50_s": "s",
    "cpu_s": "s",
    "space_amp": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, wl, spark, probe, store, tracer, control) -> None:
        self.wl, self.spark, self.probe, self.control = wl, spark, probe, control
        self.store, self.tracer = store, tracer
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.cache_peak = 0
        self.rss_peak = (0.0, 0.0)  # JVM, workers (MiB)
        self.passes: list[dict] = []  # warm-up and timed

    def fail(self, messages: list[str], ops: int) -> None:
        self.attempted += ops
        self.failed += min(len(messages), ops)
        self.failures.extend(messages)

    def one_pass(self, traced: bool) -> dict:
        """Run every op once; return walls, per-op times and deltas."""
        wl, spark = self.wl, self.spark
        control = [self.control.measure() for _ in range(2)]
        if traced:
            self.store.drain()  # drop what earlier untraced passes recorded
        before = self.probe.sample()
        ops, results, op_times = wl.ops(), {}, {}
        stages = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                  "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "gap_s": 0.0}
        sql: dict[str, float] = {}
        pass_span = self.tracer.add(None, "pass", time.time(), time.time()) if traced else None
        pass_start = time.time()
        errors = []
        for op in ops:
            e0, t0 = time.time(), time.perf_counter()
            try:
                built = op.build() if op.build else None
                e1, t1 = time.time(), time.perf_counter()
                results[op.name] = op.execute(built)
            except Exception as exc:  # a failing op is an error, not a crash
                errors.append(f"{op.name}: raised {type(exc).__name__}: {exc}")
                break
            e2, t2 = time.time(), time.perf_counter()
            op_times[op.name] = (t1 - t0, t2 - t1)
            # ---- untimed from here to the next op
            self.cache_peak = max(self.cache_peak, probes.cached_bytes(spark))
            jvm_rss, py_rss = self.probe.rss_mb()
            if jvm_rss + py_rss > sum(self.rss_peak):
                self.rss_peak = (jvm_rss, py_rss)
            if traced:
                jobs, op_sql = self.store.drain()
                op_span = self.tracer.add(pass_span, op.name, e0, e2)
                phases = {}
                if op.build:
                    phases[self.tracer.add(op_span, "build", e0, e1)] = (e0, e1)
                exec_span = self.tracer.add(op_span, "exec", e1, e2)
                phases[exec_span] = (e1, e2)
                self.tracer.add_jobs(phases, jobs)
                stages["gap_s"] += self.tracer.self_time(exec_span)
                stages["jobs"] += len(jobs)
                for job in jobs:
                    for st in job["stages"]:
                        stages["stages"] += 1
                        stages["tasks"] += st["tasks"]
                        for key in ("run_s", "cpu_s", "shuffle_write", "shuffle_read", "spill"):
                            stages[key] += st[key]
                for key, value in op_sql.items():
                    sql[key] = sql.get(key, 0.0) + value
            wl.between_ops()
        after = self.probe.sample()
        if traced:
            span = self.tracer.spans[pass_span]
            span.start, span.end = pass_start, time.time()
        errors += wl.after_pass(results) if not errors else []
        wl.finish_pass()
        self.fail(errors, len(ops))
        self.passes.append({
            "wall": sum(b + e for b, e in op_times.values()),
            "ops": op_times,
            "cpu": {k: after[k] - before[k] for k in after},
            "traced": traced,
            "control": control,
            "spark": stages,
            "sql": sql,
        })
        return self.passes[-1]


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out")
    ap.add_argument("--t0", type=float, required=True, help="epoch time the run started")
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]()
    setup: dict[str, float] = {}

    def timed(key, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        setup[key] = time.perf_counter() - t
        return out

    timed("inputs.prepare_s", wl.prepare_inputs, args.seed, args.work_dir)
    from cassandra_analytics_example_spark.queries import load_all
    from cassandra_analytics_example_spark.session import get_spark

    spark = timed("session.start_s", get_spark, f"perfbench-{wl.name}")
    if isinstance(wl, workloads.QueryWorkload):
        wl.bind(spark, timed("queries.load_s", load_all))
    else:
        wl.bind(spark)
    probe = probes.ProcessTree(spark)
    store = probes.StatusStore(spark) if args.trace else None
    tracer = spans.Tracer(f"{wl.name}-seed{args.seed}")
    run = Run(wl, spark, probe, store, tracer, probes.HostControl(spark))

    def gate() -> None:
        if isinstance(wl, workloads.QueryWorkload):
            run.fail(wl.gate_pass(), len(wl.ops()))
        else:  # every ETL pass checks the invariants
            run.one_pass(traced=False)

    timed("warmup.first_pass_s", gate)
    curve = [setup["warmup.first_pass_s"]]
    for _ in range(wl.warmup_passes):
        curve.append(run.one_pass(traced=False)["wall"])
    setup_s = time.time() - args.t0
    log(f"{wl.name} seed={args.seed} setup {setup_s:.2f}s ("
        + ", ".join(f"{k}={v:.2f}" for k, v in setup.items())
        + "), warm-up curve " + " ".join(f"{w:.2f}" for w in curve))

    run.cache_peak, run.rss_peak = 0, (0.0, 0.0)  # peaks of the timed window only
    passes, window = [], 0.0
    min_passes = 4 if args.trace else 3
    while window < args.seconds or len(passes) < min_passes:
        rec = run.one_pass(traced=bool(args.trace) and len(passes) % 2 == 0)
        passes.append(rec)
        window += rec["wall"]
    walls = [p["wall"] for p in passes]
    log("timed passes " + " ".join(f"{w:.3f}" for w in walls) + "; per op "
        + " ".join(f"{n}={med(sum(p['ops'][n]) for p in passes if n in p['ops']):.2f}"
                   for n in passes[0]["ops"]))

    jvm_rss, py_rss = run.rss_peak
    # JIT compilation is warm-up work that has not fully settled in the
    # window; it is reported as jvm.jit_s, not as the workload's CPU
    cpu = [p["cpu"]["jvm_cpu"] + p["cpu"]["py_cpu"] - p["cpu"]["jit"] for p in passes]
    raw = {
        "setup_s": setup_s,
        "rows_per_s": wl.pass_rows * len(passes) / window,
        "pass_p50_s": med(walls),
        "cpu_s": med(cpu),
    }
    # time metrics in reference-host seconds: scaled by how much slower or
    # faster the host ran the controls than their reference, set-up by the
    # samples taken during set-up and the rest by those of the timed window
    timed_samples = [c for p in passes for c in p["control"]]
    cpu_factor, factor = probes.HostControl.factors(timed_samples)
    _, setup_factor = probes.HostControl.factors(
        [c for p in run.passes[: -len(passes)] for c in p["control"]])
    end_to_end = {
        "setup_s": setup_s / setup_factor,
        "rows_per_s": raw["rows_per_s"] * factor,
        "pass_p50_s": raw["pass_p50_s"] / factor,
        "cpu_s": raw["cpu_s"] / cpu_factor,
        "space_amp": wl.space_amp(),
    }
    error_rate = run.failed / max(1, run.attempted)
    log(f"{wl.name}: " + ", ".join(f"{k}={v:.4g} {END_TO_END[k]}" for k, v in end_to_end.items())
        + f", error_rate={error_rate:.4g} ({run.failed}/{run.attempted} ops), n={len(passes)} passes; "
        + f"host factor {setup_factor:.3f} set-up, {factor:.3f} timed, {cpu_factor:.3f} CPU; unscaled " + ", ".join(f"{k}={v:.4g}" for k, v in raw.items()))
    for msg in run.failures:
        log(f"FAILED {msg}")

    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update({k: setup[k] for k in setup})
        metrics["timed.passes"] = len(passes)
        for name in passes[0]["ops"]:
            build = med(p["ops"][name][0] for p in passes if name in p["ops"])
            execute = med(p["ops"][name][1] for p in passes if name in p["ops"])
            if name in ETL_LAYERS:
                metrics[ETL_LAYERS[name]] = build + execute
            elif name == "datagen":
                metrics["datagen.rows_per_s"] = wl.n / (build + execute)
            else:
                metrics[f"op.{name}.build_s"] = build
                metrics[f"op.{name}.exec_s"] = execute
        metrics["sources.bytes_written"] = wl.last_bytes
        metrics["jvm.cpu_s"] = med(p["cpu"]["jvm_cpu"] for p in passes)
        metrics["pyworker.cpu_s"] = med(p["cpu"]["py_cpu"] for p in passes)
        metrics["driver.cpu_s"] = med(p["cpu"]["driver_cpu"] for p in passes)
        metrics["jvm.gc_s"] = med(p["cpu"]["gc"] for p in passes)
        metrics["jvm.jit_s"] = med(p["cpu"]["jit"] for p in passes)
        metrics["host.control_s"] = med(s for s, _ in timed_samples)
        metrics["host.py4j_rtt_us"] = med(r for _, r in timed_samples) * 1e6
        metrics["pyworker.procs"] = probe.max_workers
        metrics["jvm.rss_mb"], metrics["pyworker.rss_mb"] = jvm_rss, py_rss
        metrics["cache.peak_bytes"] = run.cache_peak
        traced = [p for p in passes if p["traced"]]
        for key, name in (("gap_s", "driver.gap_s"), ("jobs", "spark.jobs"),
                          ("stages", "spark.stages"), ("tasks", "spark.tasks"),
                          ("run_s", "stage.run_s"), ("cpu_s", "stage.cpu_s"),
                          ("shuffle_write", "shuffle.write_bytes"),
                          ("shuffle_read", "shuffle.read_bytes"), ("spill", "spill.bytes")):
            metrics[name] = med(p["spark"][key] for p in traced)
        for key in ("sql.pyworker_run_s", "sql.arrow_bytes", "sql.cache_scan_rows"):
            metrics[key] = med(p["sql"].get(key, 0.0) for p in traced)
        untraced = [p["wall"] for p in passes if not p["traced"]]
        metrics["trace.overhead_ratio"] = med(p["wall"] for p in traced) / med(untraced)
        units = PER_LAYER
        if args.trace_out:
            tracer.dump(args.trace_out)
    else:
        metrics, units = end_to_end, END_TO_END

    context = {
        "spark": spark.version,
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": __import__("pyarrow").__version__,
        "heap_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "pass_rows": wl.pass_rows,
        "op_order": [op.name for op in wl.ops()],
        "warmup_curve_s": curve,
        "control_s": [c for p in run.passes for c in p["control"]],
        "host_factor": {"setup": setup_factor, "timed": factor, "cpu": cpu_factor},
        "unscaled": raw,
        "jit_s": [p["cpu"]["jit"] for p in passes],
        "timed_pass_s": walls,
        "error_rate": error_rate,
    }
    spark.stop()
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump({"result": result, "context": context}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
