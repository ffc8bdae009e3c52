"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Prints progress on stderr and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans go to
.perfbench_out/trace-<workload>-<seed>.json.

Everything the run writes (Spark scratch, the JVM's temp files, the index
stores) stays under .perfbench_out/ in the checkout and is deleted at exit,
except the trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
    "disk_bytes_per_user_byte": "ratio",
}


def _confine(work: Path) -> None:
    """Point every temp dir the run's processes use into `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # the package sizes the heap at half the host's RAM, pre-touched; these
    # inputs need a fraction of that. At 1g the pre-touched floor equals
    # the cap, so the heap never grows and peak RSS shows the rest.
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )


def _stop_jvm() -> None:
    """End the JVM behind the session and wait for it. After spark.stop()
    PySpark keeps it alive for reuse; it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import workloads  # imports the package: fails outside a full checkout

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    out_dir = ROOT / ".perfbench_out"
    work = out_dir / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _confine(work)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    if run.traced:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    floor = workloads.RECALL_FLOOR[args.workload]
    correct = run.failed == 0 and run.recall >= floor
    if run.recall < floor:
        print(f"wrong: recall@10 {run.recall:.3f} below the floor {floor}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
