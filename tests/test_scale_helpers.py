"""Scale-tooling tests: salting (skew mitigation) and bucketing (co-located
joins) must preserve exact results, and bucketing must eliminate the
join-side shuffle (the SCALING.md claims, pinned)."""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F

from savio_training_dask_2019_spark import plans
from savio_training_dask_2019_spark.operators import salted_agg, salted_join, with_salt
from savio_training_dask_2019_spark.sources import load_table, write_bucketed_table


def test_salted_agg_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: round(r["s"], 2)
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    }
    salted = {
        r["l_returnflag"]: round(r["l_quantity_sum"], 2)
        for r in salted_agg(li, ["l_returnflag"], {"l_quantity": "sum"}, n_salts=8).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_non_combinable(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError, match="not re-combinable"):
        salted_agg(li, ["l_returnflag"], {"l_quantity": "avg"})


def test_with_salt_bounded_and_deterministic(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    s1 = with_salt(li, ["l_orderkey"], n_salts=8)
    vals = [r["mx"] for r in s1.agg(F.max("__salt").alias("mx"), F.min("__salt").alias("mn")).collect()]
    assert 0 <= vals[0] < 8
    a = sorted(r["__salt"] for r in s1.collect())
    b = sorted(r["__salt"] for r in with_salt(li, ["l_orderkey"], n_salts=8).collect())
    assert a == b  # same input rows -> same salts (retry-safe)


def test_with_salt_spreads_hot_key(spark, sf_dir):
    # one hot key, rows differing only in a non-key attribute: the salt must
    # hash the NON-key columns so the hot key's rows spread across buckets
    hot = spark.range(1000).select(
        F.lit(42).alias("k"), F.col("id").alias("payload")
    )
    n_buckets = (
        with_salt(hot, ["k"], n_salts=8)
        .select("__salt").distinct().count()
    )
    assert n_buckets == 8


def test_with_salt_identical_rows_collide_documented(spark, sf_dir):
    # the documented residual: fully-identical duplicate rows share one salt
    dup = spark.range(100).select(F.lit(42).alias("k"), F.lit("same").alias("v"))
    assert with_salt(dup, ["k"], n_salts=8).select("__salt").distinct().count() == 1


def test_salted_join_rejects_small_side_preserving_how(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    small = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    for how in ("right", "full", "outer", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="skewed-side-preserving"):
            salted_join(c, small, "c_nationkey", how=how)


def test_salted_join_equals_plain(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    small = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    plain = {r["n_name"]: r["count"] for r in c.join(small, "c_nationkey").groupBy("n_name").count().collect()}
    salted = {r["n_name"]: r["count"] for r in
              salted_join(c, small, "c_nationkey", n_salts=8).groupBy("n_name").count().collect()}
    assert plain == salted


def test_bucketed_join_has_no_join_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t1, t2 = f"li_b_{uuid.uuid4().hex[:8]}", f"o_b_{uuid.uuid4().hex[:8]}"
    write_bucketed_table(li, t1, "l_orderkey", 8, mode="overwrite")
    write_bucketed_table(o, t2, "o_orderkey", 8, mode="overwrite")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        jb = (
            spark.table(t1)
            .join(spark.table(t2), F.col("l_orderkey") == F.col("o_orderkey"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # the only exchange is the final scalar agg; the join is co-located
        assert plans.shuffle_count(jb) == 1
        assert jb.collect()[0]["n"] == li.join(
            o, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_shuffle_width_caps_external_session_default(spark, monkeypatch):
    """A session we did not create may hold Spark's stock 200: the
    fan-out pin width is capped at 4 × defaultParallelism, and a smaller
    declared width is kept as it is. A non-numeric width (vendor runtimes
    hold "auto", which stock Spark refuses to set) pins the fan-out
    exchange at defaultParallelism."""
    from pyspark.sql.conf import RuntimeConfig

    from savio_training_dask_2019_spark.partitioning import pin_fanout, shuffle_width

    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        assert shuffle_width(spark) == min(200, 4 * cores)
        spark.conf.set(key, "2")
        assert shuffle_width(spark) == 2
    finally:
        spark.conf.set(key, old)
    conf_get = RuntimeConfig.get
    monkeypatch.setattr(
        RuntimeConfig, "get", lambda self, k, *a: "auto" if k == key else conf_get(self, k, *a)
    )
    plan = plans.formatted_plan(pin_fanout(spark.range(10), "id"))
    assert re.search(rf"hashpartitioning\(id#\d+L, {cores}\)", plan), plan


def test_spread_widens_narrow_frames_once(spark, monkeypatch):
    """``spread`` round-robins a frame narrower than defaultParallelism to
    exactly that width, hands a wide-enough frame back untouched, and
    probes an equal plan's partition count once per session."""
    from savio_training_dask_2019_spark import partitioning
    from savio_training_dask_2019_spark.cache import BoundedCache

    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(partitioning, "_SPREAD", BoundedCache(capacity=128))
    probes = []
    frame = type(spark.range(1))
    rdd = frame.rdd
    probe = property(lambda df: probes.append(1) or rdd.__get__(df, frame))
    monkeypatch.setattr(frame, "rdd", probe)

    narrow = partitioning.spread(spark.range(0, 100, 1, 1))
    again = partitioning.spread(spark.range(0, 100, 1, 1))
    assert len(probes) == 1 and len(partitioning._SPREAD) == 1
    assert narrow.rdd.getNumPartitions() == again.rdd.getNumPartitions() == cores > 1
    wide = spark.range(0, 100, 1, cores)
    assert partitioning.spread(wide) is wide


def test_partitioning_module_owns_every_hand_shaped_exchange():
    """Only ``partitioning.py`` picks a partition count or probes one: a
    ``.repartition(`` or ``getNumPartitions`` call anywhere else in the
    package fails here. ``from_pandas(npartitions=…)`` is the one
    exception — the width is the caller's."""
    import ast
    import pathlib

    import savio_training_dask_2019_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    allowed = {
        ("partitioning.py", "repartition"),
        ("partitioning.py", "getNumPartitions"),
        ("sources/pandas_io.py", "repartition"),
    }
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("repartition", "getNumPartitions")
                and (rel, node.func.attr) not in allowed
            ):
                found.append(f"{rel}:{node.lineno} {node.func.attr}")
    assert not found, found


def test_workers_module_owns_the_import_cache_pin():
    """Only ``workers.py`` touches the import machinery's caches: a name,
    attribute, import or string constant ``zipimport`` or
    ``invalidate_caches`` anywhere else in the package fails here."""
    import ast
    import pathlib

    import savio_training_dask_2019_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    banned = {"zipimport", "invalidate_caches"}
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "workers.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.alias):
                names = node.name.split(".")
            elif isinstance(node, ast.ImportFrom):
                names = (node.module or "").split(".")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                names = [node.value]
            else:
                continue
            if banned & set(names):
                found.append(f"{rel}:{getattr(node, 'lineno', '?')} {names}")
    assert not found, found
