"""Benchmark of the cod-stats pipeline: history rebuild, roster fan-out,
streaming append and player queries (see perfbench/README.md).

    python3 perfbench/run.py --workload history_rebuild --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout, in one process on ``local[4]`` (fewer
cores if the machine has fewer). Everything it writes goes under
``.perfbench_out/`` in the checkout; the per-run work directory is removed
at exit, span traces and report digests are kept. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``, which holds the end-to-end metrics with ``--trace 0`` and
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

INPUT_REPS = 3  # input generation is repeated; setup_s takes its median

# a run makes one rebuild or about six player pages, too few ops for any
# tail percentile; the summary line keeps every op's latency
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "peak_rss_mb": "MB"}
# per-layer metric -> unit; times are medians over the run's spans of that name
LAYER_TIMES = [
    "session.get_spark_s", "ingest.from_paths_s", "normalize.valid_games_s",
    "stats.stats_wz_s", "sessions.session_stats_s", "rollups.daily_s",
    "rollups.by_game_s", "rollups.season_rollup_s", "rollups.placement_pivot_s",
    "timeseries.seasonal_daily_s", "timeseries.seasonal_by_game_s",
    "leaderboards.by_game_boards_s", "leaderboards.gulag_streaks_s",
    "teams.full_game_stats_s", "teams.team_breakdowns_s", "reports.write_s",
    "streaming.batch_s", "api.register_views_s", "api.sql_s", "api.search_players_s",
]
LAYER_COUNTS = {
    "ingest.files": "count", "ingest.tasks": "count", "normalize.rows_in": "count",
    "normalize.rows_out": "count", "reports.files": "count", "reports.bytes": "B",
    "reports.jobs": "count", "reports.tasks": "count", "streaming.jobs_per_batch": "count",
    "streaming.rows_per_file": "ratio", "silver.files": "count", "silver.bytes_per_row": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "trace.op_p50_ms": "ms", "trace.bookkeeping_ms": "ms",
}


def isolate(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # overrides spark.local.dir
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # a fixed heap size keeps G1's resizing decisions out of peak_rss_mb
    java_opts = f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf " + shlex.quote(f"spark.driver.defaultJavaOptions={java_opts}"),
        "--conf " + shlex.quote(f"spark.local.dir={os.path.join(work, 'local')}"),
        "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 4))


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(wl, tracer, op_spans) -> dict[str, float]:
    def median_s(name: str) -> float:
        spans = tracer.named(name)
        return statistics.median(s.seconds for s in spans) if spans else 0.0

    out = {m: median_s(m[:-2]) for m in LAYER_TIMES}
    c = wl.layer_counts
    ingest = tracer.named("ingest.from_paths")
    reports = tracer.named("reports.write")[-1:]
    batches = tracer.named("streaming.batch")
    n_ops = max(len(op_spans), 1)
    out.update({
        "ingest.files": c.get("ingest.files", 0),
        "ingest.tasks": statistics.median(s.tasks for s in ingest) if ingest else 0,
        "normalize.rows_in": c.get("normalize.rows_in", 0),
        "normalize.rows_out": c.get("normalize.rows_out", 0),
        "reports.files": reports[0].attrs.get("files", 0) if reports else 0,
        "reports.bytes": reports[0].attrs.get("bytes", 0) if reports else 0,
        "reports.jobs": reports[0].jobs if reports else 0,
        "reports.tasks": reports[0].tasks if reports else 0,
        "streaming.jobs_per_batch": statistics.median(s.jobs for s in batches) if batches else 0,
        "streaming.rows_per_file": c.get("streaming.rows_appended", 0)
        / max(c.get("streaming.files_delivered", 0), 1),
        "silver.files": c.get("silver.files", 0),
        "silver.bytes_per_row": c.get("silver.bytes_per_row", 0),
        "spark.jobs": sum(s.jobs for s in op_spans) / n_ops,
        "spark.stages": sum(s.stages for s in op_spans) / n_ops,
        "spark.tasks": sum(s.tasks for s in op_spans) / n_ops,
        "trace.op_p50_ms": percentile([s.seconds for s in op_spans], 50) * 1000,
        "trace.bookkeeping_ms": tracer.bookkeeping_s * 1000,
    })
    return out


def run(args) -> dict:
    out_root = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_root, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        isolate(work)
        return measure(args, work, out_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, out_root: str) -> dict:
    # fail before starting a JVM when the pipeline is not in this checkout
    import cod_stats_spark.engine  # noqa: F401
    import cod_stats_spark.streaming.match_ingest  # noqa: F401
    from cod_stats_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session.get_spark") as session:
        spark = get_spark("perfbench")
    try:
        tracer.bind(spark)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.scale,
                                      os.path.join(out_root, "digests"))
        reps = []
        for rep in range(INPUT_REPS):
            with tracer.span("inputs", rep=rep) as s:
                wl.inputs(rep)
            reps.append(s.seconds)
        with tracer.span("prepare") as prep:
            wl.prepare()

        attempted = failed = 0
        op_spans = []
        cpu0 = cpu_times()
        deadline = time.perf_counter() + args.seconds
        while wl.more() and (attempted == 0 or time.perf_counter() < deadline):
            try:
                with tracer.span("op", op=attempted) as s:
                    wl.op(attempted)
                op_spans.append(s)
                fails = wl.check(attempted)
            except Exception:  # an op that raises is a failed op; keep measuring
                traceback.print_exc()
                fails = ["op raised"]
            for msg in fails:
                print(f"check failed: op {attempted}: {msg}", file=sys.stderr)
            failed += bool(fails)
            attempted += 1
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        final = wl.finish()
        for msg in final:
            print(f"check failed: {msg}", file=sys.stderr)
        if final:
            failed = attempted
        ops_ms = [s.seconds * 1000 for s in op_spans] or [0.0]
        e2e = {
            "setup_s": session.seconds + statistics.median(reps) + prep.seconds,
            "op_p50_ms": percentile(ops_ms, 50),
            "peak_rss_mb": peak_rss_mb(spark),
        }
        print(json.dumps({"workload": args.workload, "seed": args.seed, "ops": attempted,
                          "error_rate": failed / attempted, "session_s": session.seconds,
                          "inputs_s": reps, "prepare_s": prep.seconds,
                          # CPU time other guests took from this machine while
                          # the ops ran; runs with a high share read slow
                          "steal_pct": 100 * cpu[7] / max(sum(cpu), 1),
                          "op_ms": [round(v, 1) for v in ops_ms], **wl.summary(op_spans)}))
        if args.trace:
            with tracer.span("layer_pass"):
                wl.layer_pass()
            tracer.resolve()
            metrics = {m: {"value": v, "unit": "s" if m in LAYER_TIMES else LAYER_COUNTS[m]}
                       for m, v in layer_metrics(wl, tracer, op_spans).items()}
            os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
            tracer.write(os.path.join(out_root, "traces", f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {m: {"value": v, "unit": END_TO_END[m]} for m, v in e2e.items()}
    finally:
        stop_spark(spark)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    result = run(ap.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
