#!/usr/bin/env python
"""Write each catalog query's optimized logical plan and formatted physical
plan, normalized, to one file per query — the evidence that a refactor left
every plan unchanged. The plans of the frames a query ``localCheckpoint``s
while it is built (edge lists, iteration rounds) come first, in order: the
returned frame's plan starts at the last checkpoint and would hide them.

    PYTHONPATH=. python scripts/plan_identity.py /tmp/before          # all queries
    PYTHONPATH=. python scripts/plan_identity.py /tmp/before q1 topk  # a subset
    ... (apply the change) ...
    PYTHONPATH=. python scripts/plan_identity.py /tmp/after
    diff -r /tmp/before /tmp/after

Normalization strips what differs between two runs of one tree: expression
ids (``#123``), ``plan_id=`` tags, RDD ids, whole-stage-codegen ids, and the
query-stage numbers of cached frames' executed adaptive plans (they follow
the order in which stages happened to finish). It also strips the numbers of
lambda variables (``lambda x_618#``): they count every lambda the session
built, so a change to one query's lambdas would renumber every later query.
Scale factor: ``SPARK_GRAFT_SF_DIR`` (default sf0.01).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from savio_training_dask_2019_spark import plans, queries as catalog  # noqa: E402
from savio_training_dask_2019_spark.queries import vectorops  # noqa: E402
from savio_training_dask_2019_spark.session import get_spark  # noqa: E402

_NOISE = (
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"QueryStage \d+"), "QueryStage"),
    (re.compile(r"(QueryStage\nOutput [^\n]*\nArguments: )\d+"), r"\1"),
)


def normalize(text: str) -> str:
    for pattern, repl in _NOISE:
        text = pattern.sub(repl, text)
    return text


def describe(df) -> str:
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    return normalize(optimized) + "\n" + normalize(plans.formatted_plan(df))


def main() -> None:
    out_dir, names = sys.argv[1], sys.argv[2:] or sorted(catalog.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-identity")
    frame = type(spark.range(1))
    checkpoint = frame.localCheckpoint
    seen: list[str] = []

    def recorded(df, *args, **kwargs):
        seen.append(describe(df))
        return checkpoint(df, *args, **kwargs)

    frame.localCheckpoint = recorded
    for name in names:
        spark.catalog.clearCache()
        vectorops.invalidate_cached_indexes()
        seen.clear()
        df = catalog.QUERIES[name](spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write("\n".join([*seen, describe(df)]))
        print(name, flush=True)


if __name__ == "__main__":
    main()
