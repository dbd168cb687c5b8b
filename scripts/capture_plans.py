#!/usr/bin/env python
"""Capture `.explain("formatted")` for named headline queries into
plans/<round>/<bench_name>_<suffix>.txt — the before/after plan evidence
for OPTIMIZATION_<round>.md.

    PYTHONPATH=. python scripts/capture_plans.py r19 before fuzzy_join pagerank ...
    PYTHONPATH=. python scripts/capture_plans.py r19 after  fuzzy_join ...

With no query names, captures every bench.HEADLINE row.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from savio_training_dask_2019_spark import plans, queries as catalog  # noqa: E402
from savio_training_dask_2019_spark.queries import vectorops  # noqa: E402
from savio_training_dask_2019_spark.session import get_spark  # noqa: E402


def main() -> None:
    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture-plans-{suffix}")
    for bench_name in names:
        qname = HEADLINE.get(bench_name, bench_name)
        spark.catalog.clearCache()
        vectorops.invalidate_cached_indexes()
        df = catalog.QUERIES[qname](spark, sf_dir)
        plan = plans.formatted_plan(df)
        path = os.path.join(out_dir, f"{bench_name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {bench_name} ({qname}) — explain('formatted') at {sf_dir}, "
                f"{suffix} {rnd} optimization\n"
                f"# shuffles={plans.shuffle_count(df)} "
                f"broadcast_joins={plans.broadcast_join_count(df)} "
                f"scans={plans.scan_count(df)} bnlj={plans.bnlj_count(df)}\n\n"
            )
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
