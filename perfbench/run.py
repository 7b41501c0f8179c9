"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine runs in this process on
``local[N]`` (N = min(4, CPUs)) with one client thread. ``serve`` times
whole decks of queries, at least ``--seconds`` long; ``ingest-serve``
runs a fixed number of steps, so it does the same work whatever
``--seconds`` says. Everything the run writes goes under
``.perfbench_work/`` in the checkout: ``run/`` is emptied at the start of
every run, ``cache/`` keeps the fixed catalog between runs (see
README.md).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it, ``{"report": ...}``, carries every end-to-end figure of
the workload, including those that are not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench_work"

# gated end-to-end metrics, reported on every workload (BENCHMARK.json)
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "index_bytes_per_content_byte": "ratio",
    "peak_rss_mb": "MB",
}


class Context:
    def __init__(self, spark, tracer, seed: int, seconds: int, setup_s: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.setup_s = setup_s
        self.repo = REPO
        self.work = WORK
        self.run_dir = WORK / "run"


def tree_peak_rss_mb(pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of ``pid`` and of every descendant
    still running: the Python driver, the JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    peaks, todo = {}, [pid]
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        peaks[f"{p}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024.0
    return peaks


def start_spark(run_dir: Path):
    from lucene_solr_spark.session import get_spark

    n = min(4, os.cpu_count() or 1)
    # two departures from the CLI's session, both measured (README.md,
    # "Session"): one shuffle partition per core instead of 32, so the
    # runs fit the time budget and hold their bounds; Spark's 1 GB driver
    # heap instead of the engine's 24 GB, under which the JVM's resident
    # peak swung with GC timing
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest-serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (REPO / "lucene_solr_spark" / "__init__.py").is_file() or not (
        REPO / "tests" / "oracle.py"
    ).is_file():
        print(f"engine sources not found under {REPO}; run from a checkout",
              file=sys.stderr)
        return 2

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # every JVM (the launcher and the driver): native-library extraction
    # into the run directory, no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}")
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    sys.path.insert(0, str(REPO))

    import layers
    import workloads
    from spans import Tracer

    t0 = time.perf_counter()
    spark = start_spark(run_dir)
    try:
        ctx = Context(spark, Tracer(spark, bool(args.trace)), args.seed,
                      args.seconds, time.perf_counter() - t0)
        fn = {"serve": workloads.serve, "ingest-serve": workloads.ingest_serve}
        res = fn[args.workload](ctx)
        per_layer = None
        if args.trace:
            ctx.tracer.collect()
            per_layer = layers.compute(ctx.tracer, res["layers"])
            (run_dir / "spans.json").write_text(json.dumps(ctx.tracer.spans))
        rss_by_process = tree_peak_rss_mb(os.getpid())
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        return 1
    t_stop = time.perf_counter()
    stop_spark(spark)
    workloads.log(f"stopped in {time.perf_counter() - t_stop:.1f}s")

    res.update(setup_s=ctx.setup_s, peak_rss_mb=sum(rss_by_process.values()),
               rss_mb_by_process=rss_by_process,
               failed_frac=res["failed"] / res["attempted"])
    pct, tail_ms = res.pop("tail")
    report = {k: v for k, v in res.items() if k not in ("layers", "attempted", "failed")}
    report.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, query_tail_ms=tail_ms, query_tail_pct=pct)
    print(json.dumps({"report": report}, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
