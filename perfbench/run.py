#!/usr/bin/env python3
"""sparklake benchmark: one seeded workload per run, closed loop, one client.

    python3 perfbench/run.py --workload lake_txn --seed 1 --seconds 5 --trace 0

Untraced (``--trace 0``) the last stdout line is the end-to-end result;
traced (``--trace 1``) it carries the per-layer metrics. The line before it
is a report with the host context, every op class's latency and the
workload-specific figures. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import latency_summary, quantile  # noqa: E402

E2E = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "read_p50_s": "s",
}

PER_LAYER = {
    "ops.read_p90_s": "s",
    "twin.ratio": "x",
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_s.d03_minhash_lsh": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.floor_ms_per_job": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "python.exec_nodes": "count",
    "python.rows_to_worker": "count",
    "python.mb_to_worker": "MB",
    "python.mb_from_worker": "MB",
    "lake.insert_rows_s": "s",
    "lake.insert_s": "s",
    "lake.update_s": "s",
    "lake.delete_s": "s",
    "lake.merge_s": "s",
    "lake.maintenance_s": "s",
    "lake.read_plan_s.head": "s",
    "lake.read_plan_s.time_travel": "s",
    "lake.scan_s": "s",
    "lake.files_live": "count",
    "lake.files_written": "count",
    "lake.mb_written": "MB",
    "lake.write_p50_s": "s",
    "lake.write_p90_s": "s",
    "lake.small_write_p50_s": "s",
    "lake.stored_bytes_per_user_byte": "ratio",
    "metastore.snapshots_s": "s",
    "metastore.table_info_s": "s",
    "metastore.db_mb": "MB",
    "lake_sql.insert_values_s": "s",
    "lake_sql.dispatch_s": "s",
    "streaming.batch_s": "s",
    "rollup.read_s": "s",
    "pipelines.corpus_s": "s",
    "pipelines.corpus.build_s": "s",
    "pipelines.corpus.exec_s": "s",
    "vector_index.v01.build_s": "s",
    "vector_index.v01.probe_s": "s",
    "multimodal.m02.exec_s": "s",
    "trace.in_op_s": "s",
    "trace.collect_s": "s",
    "trace.self_time_error": "ratio",
}

# span self times must add up to the op's wall time within this share
SELF_TIME_TOLERANCE = 0.01


class Context:
    def __init__(self, args, work, sf_dir, cpus):
        self.seed = args.seed
        self.work = work
        self.sf_dir = sf_dir
        self.cpus = cpus
        self.bench_s = 0.0  # the benchmark's own work, kept out of setup_s
        self.spark = self.tracer = self.probe = None
        self.phases: dict = {}  # set-up phase -> seconds
        self._phase_t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the set-up phase running since the previous call."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    @contextmanager
    def bench_only(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bench_s += time.perf_counter() - t0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _environment(work: str, cpus: int) -> None:
    """Everything the run writes stays under ``work``; Spark's Python
    workers import the program from this checkout whatever the caller's
    working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # get_spark's 48 GB default heap exceeds most hosts' memory and lets
    # the JVM grow past what a shared host can give; a quarter of the
    # host's memory keeps the driver inside it
    os.environ["SPARK_DRIVER_MEM"] = f"{_meminfo_kb() // 4096}m"
    os.chdir(work)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def e2e_metrics(w, setup_s) -> dict:
    """``ops_per_s`` is the timed ops over the time they take with each op
    at its median latency, so one stalled op does not swing it."""
    by_op: dict = {}
    for _, name, secs in w.samples:
        by_op.setdefault(name, []).append(secs)
    op_time = sum(len(v) * statistics.median(v) for v in by_op.values())
    reads = [s[2] for s in w.samples if s[0] == "read"]
    return {
        "setup_s": setup_s,
        "ops_per_s": len(w.samples) / op_time,
        "read_p50_s": quantile(reads, 0.5),
    }


def twin_ratio(w) -> float:
    """Sum of the Spark ops' medians over the sum of their DuckDB twins'
    medians, both measured in this run."""
    spark = sum(_median([s[2] for s in w.samples if s[1] == n]) for n in w.twin)
    return spark / sum(_median(v) for v in w.twin.values())


def op_class_report(w) -> dict:
    """Latency of every op class and the median of every op."""
    out = {}
    for kind in sorted({s[0] for s in w.samples}):
        out[kind] = latency_summary([s[2] for s in w.samples if s[0] == kind])
    by_op = {}
    for s in w.samples:
        by_op.setdefault(s[1], []).append(s[2])
    out["ops_median_s"] = {k: _median(v) for k, v in sorted(by_op.items())}
    out["twin_median_s"] = {k: _median(v) for k, v in sorted(w.twin.items())}
    return out


def layer_metrics(w, ctx, session_s, rss_mb, extra, rounds) -> dict:
    """Per-layer figures from the traced rounds' spans and counters."""
    spans = ctx.tracer.spans
    root_name = {s["id"]: s["name"] for s in spans if s["parent"] is None}

    def span_med(name, op=None):
        return _median([
            s["end"] - s["start"] for s in spans
            if s["name"] == name and (op is None or root_name[s["op"]] == op)
        ])

    def span_med_ops(name, ops):
        return _median([
            s["end"] - s["start"] for s in spans
            if s["name"] == name and root_name[s["op"]] in ops
        ])

    cs = w.op_counters
    n = max(len(cs), 1)

    def mean(key, scale=1.0):
        return sum(c[key] for c in cs) * scale / n

    jobs = sum(c["jobs"] for c in cs)
    gap = sum(max(c["wall"] - c["busy_s"], 0.0) for c in cs)
    writes = [s[2] for s in w.samples if s[0] == "write"]
    small = [s[2] for s in w.samples if s[0] == "small_write"]
    reads = [s[2] for s in w.samples if s[0] == "read"]
    m = {
        "ops.read_p90_s": latency_summary(reads)["tail"],
        "twin.ratio": twin_ratio(w),
        "session.get_spark_s": session_s,
        "session.peak_rss_mb": rss_mb,
        "queries.build_s": span_med("queries.build"),
        "queries.build_s.d03_minhash_lsh": span_med(
            "queries.build", "op.d03_minhash_lsh"),
        "catalyst.analysis_ms": mean("analysis"),
        "catalyst.optimization_ms": mean("optimization"),
        "catalyst.planning_ms": mean("planning"),
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.busy_s": mean("busy_s"),
        "spark.driver_gap_s": gap / n,
        "spark.floor_ms_per_job": 1e3 * gap / jobs if jobs else 0.0,
        "spark.executor_run_s": mean("run_ms", 1e-3),
        "spark.executor_cpu_s": mean("cpu_ns", 1e-9),
        "spark.gc_s": mean("gc_ms", 1e-3),
        "spark.shuffle_read_mb": mean("shuffle_read", 2**-20),
        "spark.shuffle_write_mb": mean("shuffle_write", 2**-20),
        "spark.spill_mb": mean("spill", 2**-20),
        "python.exec_nodes": mean("py_nodes"),
        "python.rows_to_worker": mean("py_rows_to"),
        "python.mb_to_worker": mean("py_bytes_to", 2**-20),
        "python.mb_from_worker": mean("py_bytes_from", 2**-20),
        "lake.insert_rows_s": span_med("lake.insert_rows"),
        "lake.insert_s": span_med("lake.insert"),
        "lake.update_s": span_med("lake.update"),
        "lake.delete_s": span_med("lake.delete"),
        "lake.merge_s": span_med("lake.merge"),
        "lake.maintenance_s": span_med("lake.maintenance"),
        "lake.read_plan_s.head": span_med("lake.read_plan.head"),
        "lake.read_plan_s.time_travel": span_med("lake.read_plan.time_travel"),
        "lake.scan_s": span_med_ops("spark.execute", ("op.head_read", "op.time_travel")),
        "lake.files_live": extra.get("files_live", 0),
        "lake.files_written": extra.get("files_written", 0) / rounds,
        "lake.mb_written": extra.get("mb_written", 0.0) / rounds,
        "lake.write_p50_s": quantile(writes, 0.5) if writes else 0.0,
        "lake.write_p90_s": latency_summary(writes)["tail"] if writes else 0.0,
        "lake.small_write_p50_s": quantile(small, 0.5) if small else 0.0,
        "lake.stored_bytes_per_user_byte": extra.get("stored_bytes_per_user_byte", 0.0),
        "metastore.snapshots_s": span_med("metastore.snapshots"),
        "metastore.table_info_s": span_med("metastore.table_info"),
        "metastore.db_mb": extra.get("db_mb", 0.0),
        "lake_sql.insert_values_s": span_med("lake_sql.insert_values"),
        "lake_sql.dispatch_s": max(
            span_med("lake_sql.insert_values") - span_med("lake.insert_rows"), 0.0),
        "streaming.batch_s": span_med("streaming.batch"),
        "rollup.read_s": span_med("op.rollup_read"),
        "pipelines.corpus_s": _median([s[2] for s in w.samples if s[1] == "corpus"]),
        "pipelines.corpus.build_s": span_med("pipelines.corpus.build"),
        "pipelines.corpus.exec_s": span_med("pipelines.corpus.exec"),
        "vector_index.v01.build_s": span_med("vector_index.v01.build"),
        "vector_index.v01.probe_s": span_med("vector_index.v01.probe"),
        "multimodal.m02.exec_s": span_med("multimodal.m02.exec"),
    }
    # tracing cost: span bookkeeping inside ops, counter reads between them
    m["trace.in_op_s"] = len(spans) * ctx.tracer.cost_per_span() / n
    m["trace.collect_s"] = w.collect_s / n
    m["trace.self_time_error"] = ctx.tracer.self_time_error()
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_read", "lake_txn", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "ducktales_spark", "session.py")):
        print("perfbench: the program (ducktales_spark/) is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    _environment(work, cpus)
    load_before = os.getloadavg()[0]

    from perfbench import datagen

    ctx = Context(args, work, os.path.join(work, "data"), cpus)
    spark = None
    try:
        with ctx.bench_only():
            datagen.write(args.seed, ctx.sf_dir)
        ctx.phase("datagen")

        t0 = time.perf_counter()
        from ducktales_spark.session import get_spark

        spark = get_spark("sparklake-perfbench")
        session_s = time.perf_counter() - t0
        ctx.phase("session")
        result = _measure(args, ctx, spark, session_s, cpus, load_before)
    finally:
        if spark is not None:
            sc = spark.sparkContext
            gateway_proc = sc._gateway.proc
            spark.stop()
            sc._gateway.shutdown()
            gateway_proc.stdin.close()
            gateway_proc.wait(timeout=60)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for line in result:
        print(json.dumps(line, default=str))
    return 0


def _measure(args, ctx, spark, session_s, cpus, load_before):
    """Set up, run the timed rounds and build the report and result."""
    from perfbench.trace import SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS

    ctx.spark = spark
    ctx.tracer = Tracer(False)
    ctx.probe = SparkProbe(spark)
    refused = []
    if args.trace:
        with ctx.bench_only():
            refused = ctx.probe.calibrate(spark)

    w = WORKLOADS[args.workload](ctx)
    try:
        w.setup()
        if w.warm_up:
            # one untimed round compiles the round's plans and fills the caches
            w.round(0)
            ctx.phase("warm_up")
        setup_s = time.perf_counter() - T_START - ctx.bench_s
        w.timed = True
        ticks0 = _cpu_ticks()
        begin = getattr(w, "begin_timed", None)
        if begin:
            begin()
        # whole rounds until the ops have taken --seconds
        ctx.tracer.enabled = bool(args.trace)
        rounds = 0
        while not rounds or sum(w.round_s) < args.seconds:
            rounds += 1
            n0 = len(w.samples)
            w.round(rounds)
            w.round_s.append(sum(s[2] for s in w.samples[n0:]))
        ctx.tracer.enabled = False
        ticks1 = _cpu_ticks()
        # storage figures feed per-layer metrics only
        extra = w.extra_report() if args.trace else {}
    finally:
        w.close()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    py_kb, jvm_kb = _vm_hwm_kb("self"), _vm_hwm_kb(jvm_pid)
    rss_mb = (py_kb + jvm_kb) / 1024.0
    jvm = spark.sparkContext._jvm
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rounds": rounds,
        "round_s": w.round_s,
        "nproc": cpus,
        "mem_total_mb": _meminfo_kb() / 1024.0,
        "loadavg_1m_before": load_before,
        "cpu_steal_share": (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1),
        "load_flag": load_before > cpus,
        # pinned by the benchmark to a quarter of MemTotal (see _environment)
        "spark_driver_memory": spark.conf.get("spark.driver.memory"),
        "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "spark_version": spark.version,
        "duckdb_version": __import__("duckdb").__version__,
        "peak_rss_python_mb": py_kb / 1024.0,
        "peak_rss_jvm_mb": jvm_kb / 1024.0,
        "bench_own_s": ctx.bench_s,
        "setup_phases_s": ctx.phases,
        "check_failures": w.check_failures[:20],
        "refused_metrics": refused,
    }
    e2e = e2e_metrics(w, setup_s)
    report = {"context": context, "e2e": e2e, "peak_rss_mb": rss_mb,
              "twin_ratio": twin_ratio(w) if w.twin else None,
              "op_classes": op_class_report(w), "extra": extra, "samples": w.samples}
    if args.trace:
        metrics = layer_metrics(w, ctx, session_s, rss_mb, extra, rounds)
        for k in refused:
            metrics[k] = 0.0
        spans_path = os.path.join(ROOT, ".perfbench_work",
                                  f"spans_{args.workload}_{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump({"spans": ctx.tracer.spans, "op_counters": w.op_counters}, f)
        report["spans_file"] = spans_path
        units = PER_LAYER
        if metrics["trace.self_time_error"] > SELF_TIME_TOLERANCE:
            w.check_failures.append("span self times do not add up")
    else:
        metrics = e2e
        units = E2E
    return [report, {
        "correct": not w.check_failures and w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }]


if __name__ == "__main__":
    sys.exit(main())
