"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``), each a closed loop with one client on
``local[<cores>]``:

* ``stream_ingest`` — the incremental path: every op lands one raw CSV
  micro-batch file and drains it with ``stream_star_load(available_now)``.
* ``catalog_headline`` — passes over five ``bench.py`` headline queries on
  a generated fixture; every op is one query, checked against its DuckDB
  oracle.
* ``warehouse_read`` — analyst reads on a warehouse built by the batch path.
  Not in ``BENCHMARK.json`` (see the README); run it by hand for changes to
  the warehouse's read path.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` is a separate
run that wraps the package's public functions (``tracing.py``), enables the
Spark event log, and prints per-layer metrics (per-op means); the spans go
to ``.perfbench_work/trace/``. ``--min-ops N`` keeps the loop going until at
least N ops ran (long-horizon runs). Every line before the last one is
diagnostic; the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

All inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
current directory, which is also where Spark's scratch space goes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

# per-layer metric -> (span name, "s" inclusive | "self_s" own time)
LAYER_TIMES = {
    "streaming.stream_star_load.self_s": ("streaming.stream_star_load", "self_s"),
    "star_load.load_batch.self_s": ("star_load.load_batch", "self_s"),
    "session.state_checkpoint.s": ("session.state_checkpoint", "s"),
    "star_load.fact_append.s": ("star_load.fact_append", "s"),
    "star_load.publish_merged.s": ("star_load.publish_merged", "s"),
    "star_load.index_fact_batch.s": ("star_load.index_fact_batch", "s"),
    "star_load.publish_delta.s": ("star_load.publish_delta", "s"),
    "star_load.compact_fact.s": ("star_load.compact_fact", "s"),
    "star_load.gc_fact.s": ("star_load.gc_fact", "s"),
    "star_load.read_fact.s": ("star_load.read_fact", "s"),
    "star_load.read_path.s": ("star_load.read_path", "s"),
    "sources.load_table.s": ("sources.load_table", "s"),
}
DISK_COUNTERS = {
    "star_load.dim_files_current": "dim_files_current",
    "star_load.file_name_len_max": "file_name_len_max",
    "star_load.claims_held": "claims_held",
    "star_load.fact_live_dirs": "fact_live_dirs",
}
SPARK_COUNTERS = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.empty_tasks_frac",
    "spark.executor_run_s",
    "spark.driver_gap_s",
    "spark.shuffle_write_bytes",
    "spark.task_retries",
]


def _load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Context:
    """What a workload needs: the seed, the clock, Spark and the tracer."""

    def __init__(self, args, t_start: float, host):
        from tracing import Tracer

        self.seed = args.seed % 2**63  # numpy seeds must be non-negative
        self.seconds = args.seconds
        self.min_ops = args.min_ops
        self.traced = bool(args.trace)
        self.work = WORK
        self.t_start = t_start
        self.tracer = Tracer()
        self.host = host
        self.spark = None
        self.jvm = None
        self.event_dir = os.path.join(WORK, "eventlog")

    def end_setup(self, res) -> None:
        """Record set-up, from process start to now: CPU seconds of this
        process and its JVM (JIT included), wall seconds, host factor."""
        import probe

        now = time.perf_counter()
        res.setup_wall_s = now - self.t_start
        res.setup_cpu_s, _jit = probe.cpu_between(probe.ZERO_CPU, self._cpu())
        res.setup_host = self.host.factor(self.t_start, now)
        self.tracer.spans.clear()

    def done(self, begin: float, n_ops: int, workload_min_ops: int) -> bool:
        """The loop has measured --seconds and at least the larger of
        --min-ops and the workload's own least op count."""
        return time.perf_counter() - begin >= self.seconds and n_ops >= max(
            self.min_ops, workload_min_ops
        )

    def start_spark(self) -> None:
        import probe

        from etl__project_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
            # load every module whose by-value imports the tracer patches
            import etl__project_spark.plans  # noqa: F401
            import etl__project_spark.streaming.pipeline  # noqa: F401

            self.tracer.install()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        self.jvm = probe.jvm_pid()

    def _cpu(self):
        import probe

        return probe.cpu_sample(self.jvm, skip_tid=self.host.tid)

    def stopwatch(self):
        """Start timing an op; calling the result returns its wall seconds,
        the CPU seconds of this process and its JVM, the part of that CPU
        the JIT compilers used, and the host factor measured meanwhile.
        Host CPU steal is in neither CPU figure."""
        import probe

        cpu, wall = self._cpu(), time.perf_counter()

        def stop():
            end = time.perf_counter()
            return (
                end - wall,
                *probe.cpu_between(cpu, self._cpu()),
                self.host.factor(wall, end),
            )

        return stop

    def peak_rss_mb(self) -> float:
        import probe

        return probe.peak_rss_mb(self.jvm)

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def _round(v):
    return None if v is None else round(v, 6)


def end_to_end(res) -> dict:
    """Every end-to-end metric the workload defines (null where one does
    not apply), from the run's op latencies and counters. CPU figures are
    divided by the host factor measured while they ran."""
    import metrics as m

    lat = res.latencies
    ok = [x for x in lat if x != m.FAILED]
    program = [
        c if c == m.FAILED else (c - j) / h for c, j, h in zip(res.cpu, res.jit_cpu, res.host)
    ]
    cpu_ok = sum(c for c in res.cpu if c != m.FAILED)
    out = {
        "setup_s": res.setup_cpu_s / res.setup_host,
        "op_cpu_s": m.kind_median_mean(program, res.kinds),
        "setup_cpu_s": res.setup_cpu_s,
        "setup_wall_s": res.setup_wall_s,
        "setup_host_factor": res.setup_host,
        "op_host_factor": m.median(res.host),
        "wall_s": res.wall_s,
        "op_p50_s": m.median(lat),
        "op_p90_s": m.op_p90(lat),
        "late_op_p50_s": m.median(m.late_window(lat)),
        "op_mean_s": sum(lat) / len(lat) if lat and len(ok) == len(lat) else None,
        "ops_failed_frac": (len(lat) - len(ok)) / len(lat) if lat else None,
        "committed_rows_per_s": (
            res.committed_rows / res.wall_s if res.committed_rows is not None else None
        ),
        "disk_bytes_per_input_byte": (
            res.disk_bytes / res.input_bytes
            if res.disk_bytes is not None and res.input_bytes
            else None
        ),
        "peak_rss_mb": res.peak_rss_mb,
        # share of the ops' CPU spent by the JIT compilers
        "jit_cpu_frac": sum(res.jit_cpu) / cpu_ok if cpu_ok else None,
    }
    return {k: _round(v) for k, v in out.items()}


def per_layer(ctx, res) -> tuple[dict, dict]:
    """Per-op means of layer times, disk counters and event-log counters,
    plus the trace's own accounting."""
    import metrics as m

    log = None
    logs = sorted(os.listdir(ctx.event_dir)) if os.path.isdir(ctx.event_dir) else []
    if logs:  # one application per run: a single uncompressed JSON-lines file
        with open(os.path.join(ctx.event_dir, logs[-1])) as fh:
            log = m.parse_event_log(fh)
    ops = ctx.tracer.per_op("op", log)
    n = max(1, len(ops))
    out: dict[str, float] = {}
    for metric, (span, kind) in LAYER_TIMES.items():
        out[metric] = sum(o["layers"].get(span, {}).get(kind, 0.0) for o in ops) / n
    from workloads import CATALOG_QUERIES

    for q in CATALOG_QUERIES:  # per run of that query
        runs = [o["layers"][f"catalog.{q}"]["s"] for o in ops if f"catalog.{q}" in o["layers"]]
        out[f"catalog.{q}.s"] = sum(runs) / max(1, len(runs))
    for key in SPARK_COUNTERS:
        out[key] = sum(o.get("spark", {}).get(key, 0.0) for o in ops) / n
    last = res.disk[-1] if res.disk else {}
    for metric, key in DISK_COUNTERS.items():
        out[metric] = float(last.get(key, 0))
    out["star_load.files_skipped_frac"] = (
        sum(res.files_skipped) / len(res.files_skipped) if res.files_skipped else 0.0
    )
    out["star_load.bytes_written"] = (
        (res.disk[-1]["bytes"] - res.disk[0]["bytes"]) / max(1, len(res.disk) - 1)
        if len(res.disk) > 1
        else 0.0
    )
    ok = [(c, j, h) for c, j, h in zip(res.cpu, res.jit_cpu, res.host) if c != m.FAILED]
    out["jvm.jit_cpu_s"] = sum(j / h for _c, j, h in ok) / max(1, len(ok))
    out["program.cpu_s"] = sum((c - j) / h for c, j, h in ok) / max(1, len(ok))
    walls = sum(o["wall_s"] for o in ops)
    accounting = {
        "ops_traced": len(ops),
        "self_time_accounted_frac": (
            sum(o["self_sum_s"] for o in ops) / walls if walls else None
        ),
        "event_log": bool(log),
    }
    return {k: round(v, 6) for k, v in out.items()}, accounting


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--min-ops", type=int, default=1)
    args = p.parse_args(argv)

    spec = _load_benchmark_json()
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import etl__project_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from metrics import FAILED
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (Spark's launcher and the driver) keeps its temp files in
    # the work directory and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"])
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    import probe

    host = probe.HostSpeed()
    host.start()
    ctx = Context(args, t_start, host)
    try:
        res = WORKLOADS[args.workload](ctx)
    finally:
        host.stop()
        ctx.stop_spark()

    e2e = end_to_end(res)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(res.latencies),
        "latencies_s": [None if x == FAILED else round(x, 4) for x in res.latencies],
        "cpu_s": [None if x == FAILED else round(x, 2) for x in res.cpu],
        "jit_cpu_s": [round(x, 2) for x in res.jit_cpu],
        "host_factor": [round(x, 3) for x in res.host],
        "kinds": res.kinds,
        "end_to_end": e2e,
        "problems": res.problems[:20],
        "disk": res.disk[-1] if res.disk else None,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
    }
    if args.trace:
        layers, accounting = per_layer(ctx, res)
        ctx.tracer.dump(os.path.join(WORK, "trace", f"spans-{args.workload}-{args.seed}.jsonl"))
        detail["per_layer"] = layers
        detail["trace"] = accounting
        wanted = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        chosen = {k: layers.get(k, 0.0) for k in wanted}
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        chosen = {k: e2e.get(k) for k in wanted}
    print("perfbench detail: " + json.dumps(detail))
    failed = res.latencies.count(FAILED)
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": len(res.latencies),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
