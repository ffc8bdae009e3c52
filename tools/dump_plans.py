"""Dump .explain("formatted") for declared queries to text files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX [key ...]

Writes OUTDIR/<key>_<SUFFIX>.txt for each key (default: every HEADLINE
bench key). Expression ids (`#123`), lambda variable ids, RDD ids,
`plan_id`s and the random suffix of scratch store directories are stripped, so dumps of
the same key from two checkouts diff cleanly. Queries run at $SPARK_GRAFT_SF_DIR (default sf0.1) on the
same session factory as bench.py, so the dumped plans are the plans the
bench times. Note some query callables do eager work (model fits, store
builds) before returning the DataFrame — the dump pays that once per key.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elastik_nearest_neighbors_spark import registry
from elastik_nearest_neighbors_spark.plans.introspect import formatted_plan
from elastik_nearest_neighbors_spark.session import get_spark


def normalized(plan: str) -> str:
    """`plan` without the numbering and scratch names that change from
    one run to the next."""
    plan = re.sub(r"#\d+|,? ?\[?plan_id=\d+\]?", "", plan)
    plan = re.sub(r"\b(lambda [a-z]+)_\d+|(RDD)\[\d+\]", r"\1\2", plan)
    return re.sub(r"(/enn_\w+?_)[a-z0-9_]{8}/", r"\1*/", plan)


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="enn-dump-plans", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    keys = sys.argv[3:]
    if not keys:
        import bench

        keys = bench.HEADLINE
    for k in keys:
        spark.sparkContext.setJobDescription(f"dump_plans: {k}")
        try:
            df = qs[k](spark, sf_dir)
            plan = normalized(formatted_plan(df))
        except Exception as exc:  # noqa: BLE001 — record, keep dumping
            plan = f"EXCEPTION: {exc!r}\n"
        with open(os.path.join(outdir, f"{k}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{k}: {len(plan)} chars", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
