"""Misra-Gries heavy hitters: the mergeable-summary error contract checked
against EXACT counts (computable at fixture scale), plus the survival
guarantee on a planted-skew stream and summary-size bounds."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from savio_training_dask_2019_spark.operators.sketches import (
    heavy_hitters,
    misra_gries_summaries,
)
from savio_training_dask_2019_spark.functions.text import tokens
from savio_training_dask_2019_spark.sources import load_table


def test_heavy_hitters_error_contract_on_fixture(spark, sf_dir):
    """est <= true <= est + err_bound for every returned token, and the
    err bound itself is <= n/(k+1) summed over partitions."""
    d = load_table(spark, sf_dir, "documents")
    true = Counter(
        t
        for r in d.select("text").collect()
        for t in r["text"].split()
    )
    n = sum(true.values())
    k = 32
    rows = heavy_hitters(
        d.select(F.explode(tokens("text")).alias("tok")), "tok", k=k, top=20
    ).collect()
    assert rows, "sketch returned nothing"
    err = rows[0]["err_bound"]
    assert all(r["err_bound"] == err for r in rows)
    n_parts = d.select(F.explode(tokens("text")).alias("tok")).rdd.getNumPartitions()
    assert 0 <= err <= n_parts * (n // (k + 1) + 1)
    for r in rows:
        t = true[r["item"]]
        assert r["est_count"] <= t <= r["est_count"] + err, (
            r["item"], r["est_count"], t, err
        )


def test_heavy_hitters_survival_guarantee_planted_skew(spark):
    """Any item with true count > err_bound MUST survive: plant one token
    holding ~40% of a stream over a k far too small for the tail, across
    several partitions."""
    n, k = 50_000, 8
    df = (
        spark.range(n)
        .repartition(8)
        .select(
            F.when(F.col("id") % 5 < 2, F.lit("HOT"))
            .otherwise(F.concat(F.lit("t"), (F.col("id") % 997).cast("string")))
            .alias("tok")
        )
    )
    out = {r["item"]: r for r in heavy_hitters(df, "tok", k=k, top=5).collect()}
    assert "HOT" in out
    hot = out["HOT"]
    true_hot = 2 * n // 5
    assert hot["est_count"] <= true_hot <= hot["est_count"] + hot["err_bound"]
    # and it must rank first: nothing else comes close to 40%
    top_item = max(out.values(), key=lambda r: r["est_count"])
    assert top_item["item"] == "HOT"


def test_summaries_are_bounded_per_partition(spark):
    """Each partition emits <= k item rows + exactly one NULL error row,
    regardless of distinct-item count."""
    k = 16
    df = spark.range(20_000).repartition(4).select(
        (F.col("id") % 5000).cast("string").alias("item")  # 5000 distinct >> k
    )
    summ = misra_gries_summaries(df, "item", k=k)
    per_part = (
        summ.withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .agg(
            F.sum(F.col("item").isNotNull().cast("int")).alias("items"),
            F.sum(F.col("item").isNull().cast("int")).alias("errs"),
        )
        .collect()
    )
    assert per_part
    for r in per_part:
        assert r["items"] <= k
        assert r["errs"] == 1

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        misra_gries_summaries(df, "item", k=0)


def test_heavy_hitters_catalog_query_shape(spark, sf_dir):
    from savio_training_dask_2019_spark.queries import QUERIES

    rows = QUERIES["heavy_hitters"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 20
    ests = [r["est_count"] for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_weighted_heavy_hitters_by_token_mass(spark, sf_dir):
    """Weighted MG: heavy SOURCES by token mass. Contract against exact
    weighted totals computable at fixture scale."""
    from savio_training_dask_2019_spark.functions.text import token_count
    from savio_training_dask_2019_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "source", token_count("text").alias("w")
    )
    true = {
        r["source"]: r["t"]
        for r in d.groupBy("source").agg(F.sum("w").alias("t")).collect()
    }
    rows = heavy_hitters(d, "source", k=4, top=5, weight_col="w").collect()
    assert rows
    err = rows[0]["err_bound"]
    for r in rows:
        t = true[r["item"]]
        assert r["est_count"] <= t <= r["est_count"] + err
    # the true heaviest source must survive and rank first if it dominates
    top_true = max(true, key=lambda s: (true[s], s))
    if true[top_true] > err:
        assert any(r["item"] == top_true for r in rows)


def test_heavy_domains_catalog_query_contract(spark, sf_dir):
    """The catalog's weighted-MG entry: top sources by token mass must
    satisfy est <= true_mass <= est + err_bound against exact per-source
    token totals (computable at fixture scale), with a descending cut."""
    from savio_training_dask_2019_spark.queries import QUERIES
    from savio_training_dask_2019_spark.queries.textops import tokens
    from savio_training_dask_2019_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).cast("long").alias("w")
    )
    true = {
        r["source"]: r["t"]
        for r in d.groupBy("source").agg(F.sum("w").alias("t")).collect()
    }
    rows = QUERIES["heavy_domains"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    ests = [r["est_count"] for r in rows]
    assert ests == sorted(ests, reverse=True)
    err = rows[0]["err_bound"]
    for r in rows:
        assert r["est_count"] <= true[r["item"]] <= r["est_count"] + err


def test_weighted_heavy_hitters_rejects_negative_weights(spark):
    import pytest

    df = spark.createDataFrame([("a", 5), ("b", -1)], "item string, w long")
    with pytest.raises(Exception, match="negative weights"):
        heavy_hitters(df, "item", k=4, weight_col="w").collect()
    # zero-weight rows are dropped, not slot-occupying
    df2 = spark.createDataFrame([("a", 5), ("z", 0)], "item string, w long")
    rows = heavy_hitters(df2, "item", k=4, weight_col="w").collect()
    assert [r["item"] for r in rows] == ["a"]


# --- Count-Min sketch ---------------------------------------------------------


def _cms_stream(spark):
    """Deterministic skewed stream: ~2000/(j+1) copies of item j — enough
    mass spread that hash collisions are possible but the CMS guarantees
    are checkable exactly."""
    rows = [(f"item{j}",) for j in range(60) for _ in range(max(1, 2000 // (j + 1)))]
    return spark.createDataFrame(rows, "tok string")


def test_cms_overcount_only_and_error_bound(spark):
    """est >= true ALWAYS (counters only grow), and on this fixed stream the
    overcount stays within the textbook 2N/width bound (deterministic:
    keyed siphash + fixed data — this is a measurement pinned forever, not
    a probabilistic assertion)."""
    from savio_training_dask_2019_spark.operators.sketches import (
        cms_estimates,
        count_min_table,
    )

    df = _cms_stream(spark)
    n = df.count()
    w, d = 1024, 4
    tab = count_min_table(df, "tok", width=w, depth=d)
    true = df.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_estimates(tab, true, "tok").collect()
    assert len(est) == 60
    assert all(r["est_count"] >= r["true_count"] for r in est)
    assert max(r["est_count"] - r["true_count"] for r in est) <= 2 * n // w


def test_cms_merge_is_partition_independent(spark):
    """The property Misra-Gries does NOT have: because merge is an
    elementwise SUM, the merged table is identical under any partitioning
    of the same rows — and each depth row carries exactly the total mass."""
    from savio_training_dask_2019_spark.operators.sketches import count_min_table

    df = _cms_stream(spark)
    w, d = 512, 3
    t1 = {r["d"]: r["counts"] for r in count_min_table(df.repartition(1), "tok", width=w, depth=d).collect()}
    t13 = {r["d"]: r["counts"] for r in count_min_table(df.repartition(13), "tok", width=w, depth=d).collect()}
    assert t1 == t13
    n = df.count()
    assert all(sum(t1[i]) == n for i in range(d))


def test_cms_weighted_and_unseen_probes(spark):
    """weight_col accumulates mass (same overcount-only contract against
    exact weighted totals); a probe never inserted returns only collision
    mass (>= 0, and 0 when its buckets are clean); negatives raise."""
    import pytest

    from savio_training_dask_2019_spark.operators.sketches import (
        cms_estimates,
        count_min_table,
    )

    rows = [(f"src{j}", (j + 1) * 10) for j in range(30) for _ in range(5)]
    df = spark.createDataFrame(rows, "src string, mass long")
    w, d = 2048, 4
    tab = count_min_table(df, "src", width=w, depth=d, weight_col="mass")
    true = df.groupBy("src").agg(F.sum("mass").alias("true_count"))
    est = cms_estimates(tab, true, "src").collect()
    assert all(r["est_count"] >= r["true_count"] for r in est)

    unseen = spark.createDataFrame([("never-inserted-xyz",)], "src string")
    [u] = cms_estimates(tab, unseen, "src").collect()
    assert u["est_count"] >= 0

    neg = spark.createDataFrame([("a", -1)], "src string, mass long")
    with pytest.raises(Exception, match="negative weights"):
        count_min_table(neg, "src", width=w, depth=d, weight_col="mass").collect()
    with pytest.raises(ValueError, match="width/depth"):
        count_min_table(df, "src", width=0, depth=4)


def test_cms_probe_reads_width_and_depth_from_the_table(spark):
    """The probe takes its width and depth from the table it is attached
    to, so a non-default build is probed with nothing passed: every
    estimate is the min over the table's own depth rows of the item's
    bucket in its own width (est >= true follows), ungrouped and grouped."""
    import random

    from savio_training_dask_2019_spark.operators.sketches import (
        _cms_buckets,
        cms_estimates,
        count_min_table,
        grouped_cms_estimates,
        grouped_count_min_table,
    )

    rng = random.Random(7)
    rows = [(rng.choice("xy"), f"it{rng.randrange(300)}") for _ in range(20_000)]
    df = spark.createDataFrame(rows, "g string, tok string")
    w, d = 512, 4
    true = Counter(rows)

    def expected(table: dict[int, list[int]], tok: str) -> int:
        assert len(table) == d and all(len(c) == w for c in table.values())
        return min(table[i][_cms_buckets([tok], i, w)[0]] for i in range(d))

    tab = count_min_table(df, "tok", width=w, depth=d)
    solo = {r["d"]: r["counts"] for r in tab.collect()}
    probes = df.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_estimates(tab, probes, "tok").collect()
    assert len(est) == 300
    for r in est:
        assert r["est_count"] == expected(solo, r["tok"])
        assert r["est_count"] >= r["true_count"]

    gtab = grouped_count_min_table(df, "g", "tok", width=w, depth=d)
    per_g: dict[str, dict[int, list[int]]] = {}
    for r in gtab.collect():
        per_g.setdefault(r["g"], {})[r["d"]] = r["counts"]
    gprobes = df.groupBy("g", "tok").agg(F.count(F.lit(1)).alias("n"))
    gest = grouped_cms_estimates(gtab, gprobes, "g", "tok").collect()
    assert len(gest) == len(true)
    for r in gest:
        assert r["est_count"] == expected(per_g[r["g"]], r["tok"])
        assert r["est_count"] >= true[(r["g"], r["tok"])]


def test_cms_null_probe_returns_null_not_none_literal(spark):
    """ADVICE r10: a NULL probe used to stringify to the literal 'None' and
    read an arbitrary bucket's overcount; the build side drops NULLs, so
    the only honest answer is NULL — and non-NULL probes sharing the batch
    must be unaffected. StreamingCountMin.estimate rejects None probes for
    the same reason."""
    import pytest

    from savio_training_dask_2019_spark.operators.sketches import (
        cms_estimates,
        count_min_table,
    )
    from savio_training_dask_2019_spark.streaming import StreamingCountMin

    rows = [("a",)] * 7 + [("b",)] * 3 + [(None,)] * 5
    df = spark.createDataFrame(rows, "tok string")
    w, d = 2048, 4
    tab = count_min_table(df, "tok", width=w, depth=d)
    probes = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "tok string"
    )
    got = {
        (r["tok"],): r["est_count"]
        for r in cms_estimates(tab, probes, "tok").collect()
    }
    assert got[("a",)] >= 7 and got[("b",)] >= 3
    assert got[(None,)] is None
    # the literal string 'None' was never inserted either — and must not
    # alias the NULL probe's (former) bucket
    lit = spark.createDataFrame([("None",)], "tok string")
    [r] = cms_estimates(tab, lit, "tok").collect()
    assert r["est_count"] is not None  # a real (collision-only) counter

    scm = StreamingCountMin("tok", width=w, depth=d)
    scm(df, batch_id=0)
    assert scm.estimate(["a"])["a"] >= 7
    with pytest.raises(ValueError, match="None probe"):
        scm.estimate(["a", None])


def _grouped_cms_stream(spark):
    """Two groups with disjoint skewed vocabularies plus a shared token —
    cross-group isolation is checkable exactly."""
    rows = [("en", f"tok{j}") for j in range(40) for _ in range(max(1, 800 // (j + 1)))]
    rows += [("de", f"wort{j}") for j in range(40) for _ in range(max(1, 500 // (j + 1)))]
    rows += [("en", "shared")] * 37 + [("de", "shared")] * 11
    return spark.createDataFrame(rows, "lang string, tok string")


def test_grouped_cms_equals_per_group_ungrouped_and_partition_independent(spark):
    """Each group's merged table must be bit-identical to the UNGROUPED
    table built over only that group's rows (the hash ignores the group),
    and identical under any partitioning — the exact-merge property
    applied per group. Misra-Gries follows partition boundaries, so on one
    partition each group's heavy hitters must equal the ungrouped heavy
    hitters of that group's rows: same (item, est_count, err_bound)."""
    from savio_training_dask_2019_spark.operators.sketches import (
        count_min_table,
        grouped_count_min_table,
        grouped_heavy_hitters,
    )

    df = _grouped_cms_stream(spark)
    w, d = 512, 3
    g1 = {
        (r["g"], r["d"]): r["counts"]
        for r in grouped_count_min_table(df.repartition(1), "lang", "tok", width=w, depth=d).collect()
    }
    g13 = {
        (r["g"], r["d"]): r["counts"]
        for r in grouped_count_min_table(df.repartition(13), "lang", "tok", width=w, depth=d).collect()
    }
    assert g1 == g13
    for lang in ("en", "de"):
        solo = {
            r["d"]: r["counts"]
            for r in count_min_table(
                df.where(F.col("lang") == lang), "tok", width=w, depth=d
            ).collect()
        }
        n = df.where(F.col("lang") == lang).count()
        for i in range(d):
            assert g1[(lang, i)] == solo[i]
            assert sum(g1[(lang, i)]) == n

    one = df.repartition(1)
    hh = ("item", "est_count", "err_bound")
    grouped = {}
    for r in grouped_heavy_hitters(one, "lang", "tok", k=8, top=5).collect():
        grouped.setdefault(r["g"], []).append(tuple(r[c] for c in hh))
    assert set(grouped) == {"en", "de"}
    for lang, got in grouped.items():
        solo_hh = heavy_hitters(
            one.where(F.col("lang") == lang), "tok", k=8, top=5
        ).collect()
        assert sorted(got) == sorted(tuple(r[c] for c in hh) for r in solo_hh)
        assert got[0][2] > 0  # k=8 over 41 items: the sketch really prunes


def test_grouped_cms_estimates_contract(spark):
    """Per-group overcount-only + per-group error bound; a shared token is
    counted against EACH group's own mass (no cross-group bleed beyond
    collisions); NULL item and never-seen group both return NULL."""
    from savio_training_dask_2019_spark.operators.sketches import (
        grouped_cms_estimates,
        grouped_count_min_table,
    )

    df = _grouped_cms_stream(spark)
    w, d = 1024, 4
    tab = grouped_count_min_table(df, "lang", "tok", width=w, depth=d)
    true = df.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("true_count"))
    est = grouped_cms_estimates(tab, true, "lang", "tok").collect()
    n_by_g = {r["lang"]: r["n"] for r in df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(r["est_count"] >= r["true_count"] for r in est)
    for r in est:
        assert r["est_count"] - r["true_count"] <= 2 * n_by_g[r["lang"]] // w
    shared = {r["lang"]: r["est_count"] for r in est if r["tok"] == "shared"}
    assert shared["en"] >= 37 and shared["de"] >= 11
    assert shared["de"] < 37 + 2 * n_by_g["de"] // w + 1  # de's table, not en's

    probes = spark.createDataFrame(
        [("en", None), ("fr", "tok0")], "lang string, tok string"
    )
    got = {
        (r["lang"], r["tok"]): r["est_count"]
        for r in grouped_cms_estimates(tab, probes, "lang", "tok").collect()
    }
    assert got[("en", None)] is None
    assert got[("fr", "tok0")] is None  # no sketch for fr != count zero


def test_grouped_cms_negative_weight_raises(spark):
    import pytest

    from savio_training_dask_2019_spark.operators.sketches import (
        grouped_count_min_table,
    )

    neg = spark.createDataFrame([("en", "a", -1)], "lang string, tok string, m long")
    with pytest.raises(Exception, match="negative weights"):
        grouped_count_min_table(neg, "lang", "tok", weight_col="m").collect()
    with pytest.raises(ValueError, match="width/depth"):
        grouped_count_min_table(neg, "lang", "tok", width=0)


def test_group_cms_catalog_query_contract(spark, sf_dir):
    """group_cms_counts: 5 probes per language, every estimate >= its
    exact count, no nested-loop join (the model attaches by equi-join)."""
    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries import QUERIES

    df = QUERIES["group_cms_counts"](spark, sf_dir)
    assert plans.bnlj_count(df) == 0
    rows = df.collect()
    from collections import Counter

    per_lang = Counter(r["lang"] for r in rows)
    assert all(c == 5 for c in per_lang.values()) and len(per_lang) >= 2
    assert all(r["est_count"] >= r["true_count"] for r in rows)


def test_cms_catalog_query_contract(spark, sf_dir):
    """cms_counts: 20 probes, every estimate >= its exact count, and the
    1-row folded-table attach is the only nested-loop join."""
    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries import QUERIES

    df = QUERIES["cms_counts"](spark, sf_dir)
    assert plans.bnlj_count(df) == 1
    rows = df.collect()
    assert len(rows) == 20
    assert all(r["est_count"] >= r["true_count"] for r in rows)


def test_group_kll_quantiles_accuracy_vs_exact(spark, sf_dir):
    """Per-group KLL estimates must land within rank tolerance of the
    exact per-group quantiles: est(q) in [exact(q-eps), exact(q+eps)]
    with eps = 3% (KLL default k=200 has ~1.65% normalized rank error at
    99% confidence; 3% is the comfortable pytest band)."""
    from savio_training_dask_2019_spark.queries.relational import (
        q_group_kll_quantiles,
    )
    from savio_training_dask_2019_spark.sources import load_table

    got = {r["l_linestatus"]: r for r in q_group_kll_quantiles(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    eps = 0.03
    for q, col in ((0.5, "p50_est"), (0.9, "p90_est"), (0.99, "p99_est")):
        bounds = li.groupBy("l_linestatus").agg(
            F.percentile("l_extendedprice", F.lit(max(0.0, q - eps))).alias("lo"),
            F.percentile("l_extendedprice", F.lit(min(1.0, q + eps))).alias("hi"),
        ).collect()
        for b in bounds:
            est = got[b["l_linestatus"]][col]
            assert b["lo"] <= est <= b["hi"], (col, b["l_linestatus"], est)
    # group member counts are exact (carried by the same agg)
    exact_n = {
        r["l_linestatus"]: r["n"]
        for r in li.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {k: v["n_rows"] for k, v in got.items()} == exact_n


def test_grouped_heavy_hitters_per_group_contract(spark, sf_dir):
    """Grouped MG: within every language, est <= true <= est + err_bound(g)
    against exact per-(lang, token) counts, descending per-group cut, and
    any item with true > err_bound(g) must survive."""
    from savio_training_dask_2019_spark.queries import QUERIES

    d = load_table(spark, sf_dir, "documents")
    true = Counter()
    for r in d.select("lang", "text").collect():
        for t in r["text"].split():
            true[(r["lang"], t)] += 1
    rows = QUERIES["heavy_tokens_by_lang"](spark, sf_dir).collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        assert 1 <= len(rs) <= 5
        ests = [r["est_count"] for r in rs]
        assert ests == sorted(ests, reverse=True)
        err = rs[0]["err_bound"]
        assert all(r["err_bound"] == err for r in rs)
        for r in rs:
            t = true[(lang, r["tok"])]
            assert r["est_count"] <= t <= r["est_count"] + err, (lang, r)


def test_grouped_heavy_hitters_planted_per_group_skew(spark):
    """Each group gets its own planted hot item at ~40% mass over a k far
    too small for the tail — every group's hot item must survive ITS
    sketch and rank first in its group (groups cannot bleed into each
    other's budgets)."""
    from savio_training_dask_2019_spark.operators.sketches import (
        grouped_heavy_hitters,
    )

    n = 60_000
    df = (
        spark.range(n)
        .repartition(8)
        .select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.when(F.col("id") % 10 < 4, F.concat(F.lit("HOT"), (F.col("id") % 3)))
            .otherwise(F.concat(F.lit("t"), (F.col("id") % 997).cast("string")))
            .alias("tok"),
        )
    )
    out = grouped_heavy_hitters(df, "g", "tok", k=8, top=3).collect()
    by_g: dict[str, list] = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r)
    assert set(by_g) == {"0", "1", "2"}
    for g, rs in by_g.items():
        top_item = max(rs, key=lambda r: r["est_count"])
        assert top_item["item"] == f"HOT{g}"
        true_hot = sum(1 for i in range(n) if i % 3 == int(g) and i % 10 < 4)
        assert (
            top_item["est_count"]
            <= true_hot
            <= top_item["est_count"] + top_item["err_bound"]
        )
