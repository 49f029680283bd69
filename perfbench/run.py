"""Log-datalake benchmark: one command per workload.

    python3 perfbench/run.py --workload ingest|search \
        --seed N --seconds S --trace 0|1

Run from the repository root (the package must be importable there and in
Spark's Python workers). Prints progress to stderr and, as the last line
of stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Workload parameters live in ``perfbench/params.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "kubernetes_logs_datalake_spark"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str) -> None:
    """Make the package importable here and in Spark's Python workers,
    and pin the session to the benchmark's 4 local cores."""
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (root, os.environ.get("PYTHONPATH")) if x)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ.pop("SPARK_MASTER", None)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found in {root})",
              file=sys.stderr)
        return 2
    prepare_env(root)
    sys.path.insert(0, HERE)
    import probes
    import report
    import workloads
    from phases import Bench

    with open(os.path.join(HERE, "params.json")) as f:
        params = json.load(f)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), params, root, T_PROCESS)
    os.makedirs(b.work, exist_ok=True)
    try:
        with probes.RssSampler() as rss:
            try:
                m = workloads.RUN[args.workload](b)
                b.mark("measured")
                metrics = (report.per_layer(b, m) if b.traced else report.end_to_end(b, m))
            finally:
                if b.spark is not None:
                    stop_spark(b.spark)
                    b.mark("stopped")
        if not b.traced:
            metrics["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
        report.write_out(b, m, metrics, rss.peak_split)
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
