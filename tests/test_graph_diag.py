"""pagerank (operators/graph.py — fixed-point integer PageRank) and the two
r10-late diagnostic queries outlier_mad / drift_ks.

The pagerank load-bearing claims: (1) EXACTNESS — integer micro-unit
arithmetic makes the result independent of partitioning and summation
order, checked against a pure-Python reference implementing the identical
update; (2) the update actually ranks (hub of a star graph wins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from savio_training_dask_2019_spark.operators.graph import pagerank

SCALE = 1_000_000


def _py_pagerank(edges, iters=5, num=85, den=100, scale=SCALE):
    """Pure-Python reference: the same BIGINT base + floor-div update."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    base = ((den - num) * scale) // (den * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {v: base + (num * s[v]) // den for v in nodes}
    return r


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_pagerank_matches_python_reference_random_graph(spark):
    import random

    rng = random.Random(42)
    pairs = {(rng.randint(0, 39), rng.randint(40, 79)) for _ in range(200)}
    edges = _sym(sorted(pairs))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank_micro"] for r in pagerank(df, iters=5).collect()}
    assert got == _py_pagerank(edges, iters=5)


def test_pagerank_partitioning_invariance(spark):
    """Integer arithmetic => bit-identical result under any partitioning."""
    pairs = [(i, 100 + (i * 7) % 30) for i in range(60)]
    edges = _sym(pairs)
    df1 = spark.createDataFrame(edges, ["src", "dst"]).repartition(1)
    df2 = spark.createDataFrame(edges, ["src", "dst"]).repartition(17, "dst")
    r1 = sorted(map(tuple, pagerank(df1, iters=4).collect()))
    r2 = sorted(map(tuple, pagerank(df2, iters=4).collect()))
    assert r1 == r2


def test_pagerank_star_hub_wins_and_mass_bounded(spark):
    # star: hub 0 <-> leaves 1..20; hub must outrank every leaf
    edges = _sym([(0, i) for i in range(1, 21)])
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = {r["id"]: r["rank_micro"] for r in pagerank(df, iters=5).collect()}
    hub = rows.pop(0)
    assert all(hub > leaf for leaf in rows.values())
    leaf_vals = set(rows.values())
    assert len(leaf_vals) == 1  # symmetric leaves tie exactly
    # floor-div quantization only ever LOSES micro-units
    assert hub + sum(rows.values()) <= SCALE


def _py_pagerank_weighted(edges, iters=5, num=85, den=100, scale=SCALE):
    """Python reference for the weighted update: contrib = (r·w) // W_src."""
    nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    n = len(nodes)
    wout = {}
    for a, _, w in edges:
        wout[a] = wout.get(a, 0) + w
    base = ((den - num) * scale) // (den * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b, w in edges:
            s[b] += (r[a] * w) // wout[a]
        r = {v: base + (num * s[v]) // den for v in nodes}
    return r


def test_pagerank_weighted_matches_python_reference(spark):
    import random

    from savio_training_dask_2019_spark.operators.graph import pagerank as pr

    rng = random.Random(7)
    tri = {(rng.randint(0, 29), rng.randint(30, 59)) for _ in range(120)}
    edges = [(a, b, rng.randint(1, 50)) for a, b in sorted(tri)]
    edges = edges + [(b, a, w) for a, b, w in edges]  # symmetric, same w
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["id"]: r["rank_micro"]
        for r in pr(df, iters=5, weight_col="w").collect()
    }
    assert got == _py_pagerank_weighted(edges, iters=5)


def test_pagerank_weighted_heavy_edge_dominates(spark):
    """Node 1 gets a weight-98 edge from the hub, node 2 a weight-1 edge:
    with identical topology, rank must follow the mass."""
    from savio_training_dask_2019_spark.operators.graph import pagerank as pr

    edges = [(0, 1, 98), (0, 2, 1), (0, 3, 1), (1, 0, 1), (2, 0, 1), (3, 0, 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {r["id"]: r["rank_micro"] for r in pr(df, iters=5, weight_col="w").collect()}
    assert got[1] > got[2] == got[3]
    # all-equal weights must reproduce the unweighted result exactly
    eq = [(a, b, 1) for a, b, _ in edges]
    w1 = {r["id"]: r["rank_micro"]
          for r in pr(spark.createDataFrame(eq, ["src", "dst", "w"]),
                      iters=4, weight_col="w").collect()}
    unw = {r["id"]: r["rank_micro"]
           for r in pr(spark.createDataFrame([(a, b) for a, b, _ in edges],
                                             ["src", "dst"]), iters=4).collect()}
    assert w1 == unw


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert pagerank(df).count() == 0


def test_pagerank_weighted_rejects_nonpositive_weights(spark):
    """ADVICE r10: a node whose out-weight sums to 0 turns the contrib
    floor-div into a NULL that sum() silently drops — the operator must
    fail fast on zero / negative / NULL weights instead."""
    import pytest

    from savio_training_dask_2019_spark.operators.graph import pagerank as pr

    for bad_w in (0, -3, None):
        df = spark.createDataFrame(
            [(0, 1, 5), (1, 0, bad_w)], "src BIGINT, dst BIGINT, w BIGINT"
        )
        with pytest.raises(ValueError, match="positive"):
            pr(df, iters=2, weight_col="w")


def _null_edges(weighted):
    """A random graph whose edge list holds NULL src and NULL dst ends."""
    import random

    rng = random.Random(11)
    ids = [None] + list(range(25))
    rows = [(rng.choice(ids), rng.choice(ids), rng.randint(1, 9)) for _ in range(150)]
    return rows if weighted else [(a, b) for a, b, _ in rows]


@pytest.mark.parametrize("weighted", [False, True])
def test_pagerank_null_endpoints_match_duckdb_oracle(spark, weighted):
    """NULL src/dst edges: the NULL node keeps its base rank, NULL-src edges
    pass no mass and NULL-dst edges receive none — exactly as the chained-CTE
    DuckDB twin computes it."""
    import duckdb

    from savio_training_dask_2019_spark.operators.graph import pagerank_oracle_cte

    rows = _null_edges(weighted)
    schema = "src BIGINT, dst BIGINT" + (", w BIGINT" if weighted else "")
    df = spark.createDataFrame(rows, schema)
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank(df, iters=5, weight_col="w" if weighted else None).collect()
    }
    cols = "src, dst, w" if weighted else "src, dst"
    values = ", ".join(
        "(" + ", ".join("NULL" if v is None else str(v) for v in row) + ")"
        for row in rows
    )
    edges_sql = (
        f"SELECT {', '.join(f'CAST({c} AS BIGINT) AS {c}' for c in cols.split(', '))}"
        f" FROM (VALUES {values}) t({cols})"
    )
    con = duckdb.connect()
    want = dict(
        con.execute(pagerank_oracle_cte(edges_sql, iters=5, weighted=weighted)).fetchall()
    )
    con.close()
    assert None in want
    assert got == want


def test_pagerank_without_broadcast_gives_same_ranks(spark):
    """autoBroadcastJoinThreshold=-1 takes the shuffle-join branch of the
    round; its ranks must equal the broadcast branch's."""
    from savio_training_dask_2019_spark.operators.graph import _broadcast_fits

    df = spark.createDataFrame(_null_edges(True), "src BIGINT, dst BIGINT, w BIGINT")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    results = {}
    try:
        for thr in ("10MB", "-1"):
            spark.conf.set(key, thr)
            results[_broadcast_fits(spark, 26)] = {
                wc: sorted(map(tuple, pagerank(df, iters=4, weight_col=wc).collect()), key=str)
                for wc in (None, "w")
            }
    finally:
        spark.conf.set(key, old)
    assert set(results) == {True, False}
    assert results[True] == results[False]


def test_pagerank_round_plans_broadcast_join(spark):
    """Plan pin on one round's pre-AQE physical plan: with the count-based
    hint the ranks side broadcasts and the edge list is never shuffled on
    src. Without it, the checkpointed inputs' inflated size estimates make
    the planner pick a sort-merge join that does shuffle the edge list."""
    from savio_training_dask_2019_spark.operators.graph import (
        _broadcast_fits,
        _pagerank_round,
    )

    e = spark.createDataFrame(_sym([(i, (i * 7 + 3) % 50) for i in range(50)]), ["src", "dst"])
    edges = e.localCheckpoint(eager=True)
    # a projection over a real round checkpoint, estimates and all
    ranks = pagerank(e, iters=1).withColumn("deg", F.lit(2).cast("bigint"))
    assert _broadcast_fits(spark, ranks.count())

    def plan(bcast):
        r = _pagerank_round(edges, ranks, F.expr("rank_micro div deg"), F.col("s"), bcast)
        return r._jdf.queryExecution().executedPlan().toString()

    hinted = plan(True)
    assert "BroadcastHashJoin" in hinted
    assert "Exchange hashpartitioning(src" not in hinted
    assert hinted.count("Exchange hashpartitioning(") == 1  # the groupBy(dst) only
    assert "Exchange hashpartitioning(src" in plan(False)


def test_pagerank_leaves_one_checkpoint_registered(spark):
    """Superseded rounds, the node set and the edge list are released: a
    call grows the persistent-RDD registry by exactly the checkpoint the
    returned frame reads — also on the empty-graph early return. A
    caller's lazily persisted input, first materialized inside the call,
    is the caller's and stays registered."""
    sc = spark.sparkContext

    def registered():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    df = spark.createDataFrame(_sym([(i, (i * 3) % 17) for i in range(17)]), ["src", "dst"])
    empty = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    for edges, iters in ((df, 6), (df, 0), (empty, 3)):
        before = registered()
        out = pagerank(edges, iters=iters)
        assert len(registered() - before) == 1
        out.collect()  # the kept checkpoint still serves the result
    cached = df.select("src", "dst").persist()
    try:
        before = registered()
        pagerank(cached, iters=3)
        assert len(registered() - before) == 2  # the caller's cache + the result
    finally:
        cached.unpersist()


@pytest.mark.parametrize(
    "query",
    [
        "reachable_nodes",
        "sssp_bounded",
        "lpa_communities",
        "kcore_peel",
        "dedup_clusters",
        "dedup_survivorship",
        "bpe_train_merges",
        "caller_cache",
    ],
)
def test_graph_loops_release_superseded_rounds(spark, sf_dir, query):
    """bfs_hops, sssp_bounded, label_propagation, kcore_peel,
    connected_components (dedup_clusters, dedup_survivorship) and bpe_train
    release every round their successor superseded, and any edge list they
    checkpoint, as pagerank does: building the catalog query (the loops run
    eagerly) grows the persistent-RDD registry by at most the one
    checkpoint the result reads, and the result still collects from it.
    For the two dedup queries this also counts the n-gram pair tier's
    cached inverted index, released once connected_components has
    materialized.

    ``caller_cache``: connected_components, connected_components_star and
    kcore_peel over one lazily ``persist()``-ed edge list, which the first
    call materializes. The registry grows by the caller's cache plus one
    checkpoint per result: the cache survives, and no round is left."""
    from savio_training_dask_2019_spark.operators import (
        connected_components,
        connected_components_star,
    )
    from savio_training_dask_2019_spark.operators.graph import kcore_peel
    from savio_training_dask_2019_spark.queries import QUERIES

    sc = spark.sparkContext

    def registered():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    before = registered()
    if query != "caller_cache":
        out = QUERIES[query](spark, sf_dir)
        assert len(registered() - before) <= 1
        assert out.count() > 0
        return
    pairs = _sym([(i, (i * 3) % 17) for i in range(17)] + [(40, 41), (41, 42)])
    cached = spark.createDataFrame(pairs, ["src", "dst"]).select("src", "dst").persist()
    try:
        outs = [
            connected_components(cached, "src", "dst"),
            connected_components_star(cached, "src", "dst"),
            kcore_peel(cached, k=2, rounds=3),
        ]
        assert len(registered() - before) == 1 + len(outs)
        assert cached.count() == len(pairs)
        assert all(o.count() > 0 for o in outs)
    finally:
        cached.unpersist()


# --- outlier_mad -------------------------------------------------------------


def test_outlier_mad_planted_spikes(spark, tmp_path):
    """20 inliers around 100 + 2 extreme spikes: exactly the spikes flag;
    a constant group has MAD 0, NULL max_score, and zero outliers."""
    import pandas as pd

    vals = [100.0 + (i % 5) for i in range(20)] + [1000.0, -500.0]
    rows = [("spiky", v) for v in vals] + [("flat", 7.0)] * 10
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Timestamp("2024-01-10"),
            "user_id": 1,
            "event_type": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_outlier_mad

    got = {r["event_type"]: r for r in q_outlier_mad(spark, str(tmp_path)).collect()}
    sp = got["spiky"]
    assert sp["n"] == 22 and sp["n_outliers"] == 2
    assert sp["max_score"] > 3.5
    fl = got["flat"]
    assert fl["mad"] == 0.0 and fl["n_outliers"] == 0
    assert fl["max_score"] is None  # zero-MAD group: score undefined


def test_outlier_mad_zero_mad_group_flags_any_deviation(spark, tmp_path):
    """>=50% identical values => MAD 0 => ANY positive deviation flags
    (the definitional limit the product-form comparison encodes)."""
    import pandas as pd

    rows = [("m", 5.0)] * 8 + [("m", 5.1), ("m", 4.9)]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Timestamp("2024-01-10"),
            "user_id": 1,
            "event_type": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_outlier_mad

    r = q_outlier_mad(spark, str(tmp_path)).collect()[0]
    assert r["mad"] == 0.0 and r["n_outliers"] == 2


# --- join_explosion ----------------------------------------------------------


def test_join_explosion_predicts_actual_join_cardinality(spark, sf_dir):
    """out_rows is an IDENTITY for equi-joins (Σ cnt_a·cnt_b), not an
    estimate: it must equal the actual join's count for every profiled
    pair — including the events self-join, the quadratic trap row."""
    from savio_training_dask_2019_spark.queries.relational import (
        _JOINSIZE_SETS,
        q_join_explosion,
    )
    from savio_training_dask_2019_spark.sources import load_table

    got = {r["join_label"]: r for r in q_join_explosion(spark, sf_dir).collect()}
    assert set(got) == {label for label, *_ in _JOINSIZE_SETS}
    for label, ta, ka, tb, kb in _JOINSIZE_SETS:
        a = load_table(spark, sf_dir, ta).select(F.col(ka).alias("k"))
        b = load_table(spark, sf_dir, tb).select(F.col(kb).alias("k"))
        actual = a.join(b, "k").count()
        assert got[label]["out_rows"] == actual, label
    # the self-join row must show the quadratic signature: blowup > 1
    self_row = got["events*events@user_id"]
    assert self_row["blowup"] > 1.0
    assert 0.0 < self_row["top_key_share"] <= 1.0


# --- ohlc_bars -----------------------------------------------------------------


def test_ohlc_bars_tie_break_and_extremes(spark, tmp_path):
    """Simultaneous timestamps break on event_id (open = lowest id at the
    earliest ts, close = highest id at the latest ts); high/low are the
    bar extremes regardless of order."""
    import pandas as pd

    from savio_training_dask_2019_spark.queries.timeseries import q_ohlc_bars

    t0 = pd.Timestamp("2024-01-10 09:00:00")
    rows = [
        # (event_id, ts, value) — two ties at open, two at close
        (5, t0, 100.0),
        (2, t0, 50.0),                       # open: same ts, LOWER id wins
        (7, t0 + pd.Timedelta("10min"), 999.0),   # high
        (8, t0 + pd.Timedelta("20min"), 1.0),     # low
        (3, t0 + pd.Timedelta("30min"), 70.0),
        (9, t0 + pd.Timedelta("30min"), 80.0),    # close: same ts, HIGHER id wins
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": 1,
            "event_type": "x",
            "value": [r[2] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    bar = q_ohlc_bars(spark, str(tmp_path)).collect()[0]
    assert bar["n"] == 6
    assert bar["open"] == 50.0 and bar["close"] == 80.0
    assert bar["high"] == 999.0 and bar["low"] == 1.0


# --- zorder ---------------------------------------------------------------------


def test_morton_key_bit_interleave_reference(spark):
    """The Catalyst Morton expression must equal a pure-Python bit
    interleave over the full 8-bit × 8-bit grid (and mask wider inputs
    to 16 bits)."""
    from savio_training_dask_2019_spark.functions.zorder import morton_key

    def py_morton(x, y):
        x, y = x & 0xFFFF, y & 0xFFFF
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    rows = [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)]
    rows += [(70000, 3), (3, 70000)]  # wider than 16 bits: masked
    df = spark.createDataFrame(rows, ["xb", "yb"])
    got = df.select("xb", "yb", morton_key("xb", "yb").alias("z")).collect()
    for r in got:
        assert r["z"] == py_morton(r["xb"], r["yb"]), (r["xb"], r["yb"])


def test_morton_key_int32_columns_high_bit_no_overflow(spark):
    """ADVICE r10: with an INT (32-bit) input column, a masked value with
    bit 15 set (>= 32768, or any negative int) used to overflow INT32 at
    the final ``spread(y) * 2`` and wrap NEGATIVE on Spark while a 64-bit
    engine stayed positive. The mask step now widens to BIGINT, so the
    Catalyst result must equal the pure-Python 64-bit interleave — and be
    nonnegative — on INT columns too."""
    from savio_training_dask_2019_spark.functions.zorder import morton_key

    def py_morton(x, y):
        x, y = x & 0xFFFF, y & 0xFFFF
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    rows = [
        (32768, 0), (0, 32768), (65535, 65535), (40000, 50000),
        (-1, 7), (7, -1), (-32768, -2),  # negative ints mask to high bits
    ]
    df = spark.createDataFrame(rows, "xb INT, yb INT")
    assert dict(df.dtypes) == {"xb": "int", "yb": "int"}
    got = df.select("xb", "yb", morton_key("xb", "yb").alias("z")).collect()
    for r in got:
        want = py_morton(r["xb"], r["yb"])
        assert r["z"] == want and r["z"] >= 0, (r["xb"], r["yb"], r["z"])


def test_zorder_cells_bound_both_dimensions(spark, sf_dir):
    """The data-skipping payoff: every morton-prefix cell bounds BOTH
    dimensions (dropping 4 morton bits = 2 bits per axis, so 4x4 blocks:
    max-min <= 3 on each axis), which is what makes min/max file stats
    prune on either filter column."""
    from savio_training_dask_2019_spark.queries.relational import q_zorder_stats

    rows = q_zorder_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_x"] - r["min_x"] <= 3, r
        assert r["max_y"] - r["min_y"] <= 3, r


# --- apply_cdc ------------------------------------------------------------------


def test_apply_cdc_accounting_and_precedence(spark, sf_dir):
    """Row accounting (out = base - deletes + inserts) and per-key op
    precedence: the later update wins over the earlier on overlap keys,
    delete outranks both, untouched rows pass through unchanged."""
    from savio_training_dask_2019_spark.queries.relational import (
        _CDC_INS_OFFSET,
        q_apply_cdc,
    )
    from savio_training_dask_2019_spark.sources import load_table

    base = {
        r["k"]: r["p"]
        for r in load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"), F.round("o_totalprice", 2).alias("p"))
        .collect()
    }
    out = {r["o_orderkey"]: r["o_totalprice"] for r in q_apply_cdc(spark, sf_dir).collect()}

    n_del = sum(1 for k in base if k % 7 == 0)
    n_ins = sum(1 for k in base if k % 11 == 0)
    assert len(out) == len(base) - n_del + n_ins

    for k, p in base.items():
        if k % 7 == 0:
            assert k not in out  # delete outranks every update
        elif k % 5 == 0:
            assert out[k] == round(p + 1000.0, 2)  # seq-2 update wins
        elif k % 3 == 0:
            assert out[k] == round(p + 500.0, 2)  # seq-1 update applies
        else:
            assert out[k] == p  # untouched rows pass through
        if k % 11 == 0:
            assert out[k + _CDC_INS_OFFSET] == 42.0  # insert landed


# --- trend_slope ----------------------------------------------------------------


def test_trend_slope_recovers_planted_line(spark, tmp_path):
    """Values exactly linear in day (y = 200 + 50·day cents, with a
    symmetric ±10-cent wiggle that cancels in OLS) must recover slope 50.0
    and intercept 2.00 exactly — the integer moment sums make the answer
    closed-form, not approximate. A constant group has slope exactly 0."""
    import pandas as pd

    from savio_training_dask_2019_spark.queries.timeseries import q_trend_slope

    rows = []
    eid = 0
    for day in range(10):
        for wiggle in (-10, 10):  # symmetric: no effect on slope/intercept
            rows.append(
                ("lin", pd.Timestamp("2024-01-01") + pd.Timedelta(days=day),
                 (200 + 50 * day + wiggle) / 100.0)
            )
            rows.append(
                ("flat", pd.Timestamp("2024-01-01") + pd.Timedelta(days=day), 7.25)
            )
    pd.DataFrame(
        {
            "event_id": range(len(rows) * 0 + len(rows)),
            "ts": [r[1] for r in rows],
            "user_id": 1,
            "event_type": [r[0] for r in rows],
            "value": [r[2] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    got = {r["event_type"]: r for r in q_trend_slope(spark, str(tmp_path)).collect()}
    assert got["lin"]["slope_cents_per_day"] == 50.0
    assert got["lin"]["intercept_dollars"] == 2.0
    assert got["flat"]["slope_cents_per_day"] == 0.0
    assert got["flat"]["intercept_dollars"] == 7.25


# --- banded_range_join ---------------------------------------------------------


def test_banded_range_join_differential_vs_theta(spark):
    """Banded result must equal the definitional theta join exactly —
    including values ON band edges and intervals spanning many bands /
    sub-band slivers / empty (hi <= lo) intervals."""
    from savio_training_dask_2019_spark.operators.ranges import banded_range_join

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(
            [0.0, 9.99, 10.0, 10.01, 25.0, 50.0, 99.9, 100.0, 150.0, 249.99, 250.0]
        )],
        ["fid", "v"],
    )
    iv = spark.createDataFrame(
        [
            (0, 0.0, 10.0),     # exactly one band
            (1, 5.0, 105.0),    # spans many bands
            (2, 10.0, 10.5),    # sliver inside a band
            (3, 240.0, 260.0),  # straddles a band edge
            (4, 30.0, 30.0),    # empty by contract
            (5, 99.0, 100.0),   # hi exactly on a band edge
        ],
        ["ivid", "lo", "hi"],
    )
    got = sorted(
        (r["fid"], r["ivid"])
        for r in banded_range_join(facts, "v", iv, "lo", "hi", band_width=10.0)
        .select("fid", "ivid")
        .collect()
    )
    want = sorted(
        (r["fid"], r["ivid"])
        for r in facts.join(
            iv, (facts["v"] >= iv["lo"]) & (facts["v"] < iv["hi"])
        )
        .select("fid", "ivid")
        .collect()
    )
    assert got == want and len(got) > 0

    semi = banded_range_join(
        facts, "v", iv, "lo", "hi", band_width=10.0, how="left_semi"
    )
    assert sorted(r["fid"] for r in semi.collect()) == sorted(
        {f for f, _ in want}
    )


def test_banded_range_join_semi_preserves_left_multiplicity(spark):
    """ADVICE r10: true left-semi semantics keep duplicate left rows —
    three identical matching fact rows (no id column) must come back
    three times, while a fact inside SEVERAL intervals still comes back
    once per input row."""
    from savio_training_dask_2019_spark.operators.ranges import banded_range_join

    facts = spark.createDataFrame(
        [(5.0,), (5.0,), (5.0,), (25.0,), (99.0,)], ["v"]
    )
    iv = spark.createDataFrame(
        [(0.0, 10.0), (3.0, 30.0), (20.0, 26.0)], ["lo", "hi"]
    )
    got = sorted(
        r["v"]
        for r in banded_range_join(
            facts, "v", iv, "lo", "hi", band_width=10.0, how="left_semi"
        ).collect()
    )
    # 5.0 matches two intervals but appears once PER INPUT ROW (x3);
    # 25.0 matches two intervals, appears once; 99.0 matches none
    assert got == [5.0, 5.0, 5.0, 25.0]
    out = banded_range_join(
        facts, "v", iv, "lo", "hi", band_width=10.0, how="left_semi"
    )
    assert out.columns == ["v"]  # the transient _fid tag never leaks


def test_banded_range_join_plan_is_equi_not_bnlj(spark, sf_dir):
    """The operator's whole reason to exist: the catalog query's plan must
    contain NO BroadcastNestedLoopJoin / CartesianProduct — the interval
    containment rides a band equi-join."""
    from savio_training_dask_2019_spark.queries.relational import q_range_join_banded

    plan = (
        q_range_join_banded(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- rrf_hybrid ----------------------------------------------------------------


def test_rrf_hybrid_fusion_contract(spark, sf_dir):
    """Every id from either arm appears exactly once; rrf equals the
    1/(K+rank) identity of the ranks shown; both-arm docs beat what either
    of their single arms alone would contribute."""
    from savio_training_dask_2019_spark.queries.vectorops import (
        _RRF_DEPTH,
        _RRF_K,
        q_rrf_hybrid,
    )

    rows = q_rrf_hybrid(spark, sf_dir).collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    n_lex = sum(r["r_lex"] is not None for r in rows)
    n_dense = sum(r["r_dense"] is not None for r in rows)
    assert n_lex == _RRF_DEPTH and n_dense == _RRF_DEPTH
    for r in rows:
        assert r["r_lex"] is not None or r["r_dense"] is not None
        want = sum(
            1.0 / (_RRF_K + rank)
            for rank in (r["r_lex"], r["r_dense"])
            if rank is not None
        )
        assert abs(r["rrf"] - round(want, 6)) < 1e-9
        if r["r_lex"] is not None and r["r_dense"] is not None:
            assert r["rrf"] > round(1.0 / (_RRF_K + min(r["r_lex"], r["r_dense"])), 6) - 1e-9


# --- drift_ks ----------------------------------------------------------------


def test_drift_ks_cdf_contract(spark, sf_dir):
    """Cumulative shares are monotone nondecreasing, end at exactly 1.0 on
    both halves, and every term is |F_a - F_b| of the shares shown."""
    from savio_training_dask_2019_spark.queries.timeseries import q_drift_ks

    rows = q_drift_ks(spark, sf_dir).collect()
    assert rows, "fixture must populate at least one bucket"
    prev_a = prev_b = 0.0
    for r in rows:
        assert r["cum_share_a"] >= prev_a and r["cum_share_b"] >= prev_b
        assert abs(r["ks_term"] - round(abs(r["cum_share_a"] - r["cum_share_b"]), 6)) < 2e-6
        prev_a, prev_b = r["cum_share_a"], r["cum_share_b"]
    assert rows[-1]["cum_share_a"] == 1.0 and rows[-1]["cum_share_b"] == 1.0


def test_drift_ks_detects_planted_shift(spark, tmp_path):
    """Half A ~ uniform[0,80), half B ~ uniform[160,240): disjoint supports
    => D = max ks_term must hit 1.0; no-shift twin stays at 0.0."""
    import pandas as pd

    n = 400
    a = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.Timestamp("2024-01-10"),  # before the split
            "user_id": 1,
            "event_type": "x",
            "value": [float(i % 80) for i in range(n)],
            "props": "{}",
        }
    )
    b = a.copy()
    b["ts"] = pd.Timestamp("2024-01-20")  # after the split
    b["value"] = b["value"] + 160.0
    # separate dirs: load_table memoizes per (session, sf_dir, table), so
    # overwriting one path mid-test would read a stale cached scan
    shift, noshift = tmp_path / "shift", tmp_path / "noshift"
    shift.mkdir(), noshift.mkdir()
    pd.concat([a, b]).to_parquet(shift / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import q_drift_ks

    d = max(r["ks_term"] for r in q_drift_ks(spark, str(shift)).collect())
    assert d == 1.0

    b2 = a.copy()
    b2["ts"] = pd.Timestamp("2024-01-20")
    pd.concat([a, b2]).to_parquet(noshift / "events.parquet", index=False)
    d0 = max(r["ks_term"] for r in q_drift_ks(spark, str(noshift)).collect())
    assert d0 == 0.0


def test_zorder_layout_bounds_both_dims_vs_lexicographic(spark, sf_dir, tmp_path):
    """Write the same rows z-sorted and lex-sorted into 8 files each: the
    lexicographic layout bounds only its LEADING dimension per file (the
    trailing one spans nearly its whole domain in interior files); the
    z-ordered layout bounds BOTH — the property that lets min/max file
    stats prune on either filter column."""
    import glob

    from savio_training_dask_2019_spark.functions.zorder import morton_key
    from savio_training_dask_2019_spark.sources import (
        load_table,
        write_sorted_parquet,
    )

    df = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr("o_custkey % 256").alias("xb"),
            F.expr("datediff(o_orderdate, DATE '1995-01-01') % 256").alias("yb"),
        )
        .withColumn("zkey", morton_key("xb", "yb"))
    )

    def max_widths(path):
        wx = wy = 0
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            r = (
                spark.read.parquet(f)
                .agg(
                    (F.max("xb") - F.min("xb")).alias("wx"),
                    (F.max("yb") - F.min("yb")).alias("wy"),
                )
                .collect()[0]
            )
            wx, wy = max(wx, r["wx"]), max(wy, r["wy"])
        return wx, wy

    zout, lout = str(tmp_path / "z"), str(tmp_path / "lex")
    write_sorted_parquet(df, zout, ["zkey"], n_files=8)
    write_sorted_parquet(df, lout, ["xb", "yb"], n_files=8)
    zx, zy = max_widths(zout)
    lx, ly = max_widths(lout)
    # lex bounds its leading dim tightly but the trailing dim spans ~all
    assert ly > 200, (lx, ly)
    # z bounds BOTH dims well below the 255 domain width
    assert zx <= 160 and zy <= 160, (zx, zy)
    assert zy < ly


# --- triangle_count -------------------------------------------------------------


def test_triangle_counts_planted_graphs(spark):
    """K4 (4 triangles, every node in 3), a triangle with a pendant edge,
    and a square (0 triangles); duplicate/reversed/self-loop inputs are
    canonicalized away."""
    from savio_training_dask_2019_spark.operators.graph import triangle_counts

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(spark.createDataFrame(k4, ["a", "b"])).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 3), (3, 4), (1, 2)]
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(messy, ["a", "b"])
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}  # node 4 (pendant) absent

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert (
        triangle_counts(spark.createDataFrame(square, ["a", "b"])).count() == 0
    )


def test_triangle_counts_differential_vs_brute(spark):
    """Random-ish deterministic graph: degree-ordered wedge counting must
    equal brute-force triple enumeration."""
    import itertools
    import random

    from savio_training_dask_2019_spark.operators.graph import triangle_counts

    rng = random.Random(11)
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(23), rng.randrange(23)) for _ in range(150)
            )
            if a != b
        }
    )
    eset = set(edges)
    want: dict[int, int] = {}
    for x, y, z in itertools.combinations(range(23), 3):
        if ((x, y) in eset) and ((x, z) in eset) and ((y, z) in eset):
            for n in (x, y, z):
                want[n] = want.get(n, 0) + 1
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(
            spark.createDataFrame(edges, ["a", "b"])
        ).collect()
    }
    assert got == want and sum(want.values()) > 0


def test_triangle_count_catalog_no_bnlj(spark, sf_dir):
    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries.relational import q_triangle_count

    df = q_triangle_count(spark, sf_dir)
    assert plans.bnlj_count(df) == 0
    rows = df.collect()
    assert 0 < len(rows) <= 20
    # deterministic total order: strictly sorted by (cnt desc, part_key)
    keys = [(-r["n_triangles"], r["part_key"]) for r in rows]
    assert keys == sorted(keys)


# --- interval_coverage ----------------------------------------------------------


def test_interval_union_length_planted(spark):
    """Overlap collapses, gaps excluded, degenerate intervals count but
    contribute 0, contained intervals add nothing."""
    from savio_training_dask_2019_spark.operators.ranges import (
        interval_union_length,
    )

    rows = [
        ("a", 0, 10), ("a", 5, 15), ("a", 20, 25),   # union 20, span 25
        ("b", 0, 100), ("b", 10, 20), ("b", 30, 30),  # union 100, span 100
        ("c", 7, 7),                                  # degenerate only
    ]
    got = {
        r["g"]: (r["n_intervals"], r["union_len"], r["span_len"])
        for r in interval_union_length(
            spark.createDataFrame(rows, "g string, lo int, hi int"),
            ["g"], "lo", "hi",
        ).collect()
    }
    assert got == {"a": (3, 20, 25), "b": (3, 100, 100), "c": (1, 0, 0)}


def test_interval_union_length_differential_and_partition_invariant(spark):
    """vs brute-force day sets on deterministic pseudo-random intervals;
    identical across partitionings (the tie-order-independence claim)."""
    from savio_training_dask_2019_spark.operators.ranges import (
        interval_union_length,
    )

    rows = []
    for i in range(300):
        g = f"g{i % 7}"
        lo = (i * 13 + 5) % 50
        rows.append((g, lo, lo + ((i * 29) % 9)))
    want = {}
    for g in {r[0] for r in rows}:
        ivs = [(lo, hi) for gg, lo, hi in rows if gg == g]
        days = {d for lo, hi in ivs for d in range(lo, hi)}
        want[g] = (
            len(ivs),
            len(days),
            max(h for _, h in ivs) - min(l for l, _ in ivs),
        )
    df = spark.createDataFrame(rows, "g string, lo int, hi int")
    outs = []
    for parts in (1, 13):
        outs.append(
            {
                r["g"]: (r["n_intervals"], r["union_len"], r["span_len"])
                for r in interval_union_length(
                    df.repartition(parts), ["g"], "lo", "hi"
                ).collect()
            }
        )
    assert outs[0] == want and outs[1] == want


def test_interval_coverage_catalog_window_is_partitioned(spark, sf_dir):
    from savio_training_dask_2019_spark.queries.timeseries import (
        q_interval_coverage,
    )

    df = q_interval_coverage(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "SinglePartition" not in plan
    rows = df.collect()
    assert rows and all(
        0 <= r["days_covered"] <= r["days_span"] for r in rows
    )


# --- skyline_parts --------------------------------------------------------------


def test_pareto_front_2d_planted(spark):
    """Planted frontier: dominated, duplicate-frontier, equal-x, equal-y,
    and NULL rows each get the definitional treatment."""
    from savio_training_dask_2019_spark.operators.skyline import pareto_front_2d

    rows = [
        # g, id, x (min), y (max)
        ("a", 1, 10, 100),   # frontier
        ("a", 2, 10, 100),   # exact duplicate — both stay
        ("a", 3, 10, 90),    # same x, smaller y -> dominated by 1
        ("a", 4, 20, 100),   # same y, larger x -> dominated by 1
        ("a", 5, 5, 50),     # frontier (cheapest)
        ("a", 6, 30, 150),   # frontier (largest)
        ("a", 7, 25, 120),   # frontier (between 1 and 6)
        ("a", 8, 26, 120),   # dominated by 7
        ("a", 9, None, 999), # NULL objective: dropped
        ("b", 10, 99, 1),    # lone row in its group: frontier
    ]
    got = sorted(
        r["id"]
        for r in pareto_front_2d(
            spark.createDataFrame(rows, "g string, id int, x int, y int"),
            ["g"], "x", "y",
        ).collect()
    )
    assert got == [1, 2, 5, 6, 7, 10]


def test_pareto_front_2d_differential_vs_quadratic(spark):
    """Window sweep vs brute-force dominance on a deterministic cloud."""
    import random

    from savio_training_dask_2019_spark.operators.skyline import pareto_front_2d

    rng = random.Random(23)
    rows = [
        (f"g{i % 3}", i, rng.randrange(50), rng.randrange(50))
        for i in range(400)
    ]
    want = sorted(
        i
        for g, i, x, y in rows
        if not any(
            gg == g and xx <= x and yy >= y and (xx < x or yy > y)
            for gg, _, xx, yy in rows
        )
    )
    got = sorted(
        r["id"]
        for r in pareto_front_2d(
            spark.createDataFrame(rows, "g string, id int, x int, y int"),
            ["g"], "x", "y",
        ).collect()
    )
    assert got == want and len(got) > 0


def test_skyline_parts_catalog_contract(spark, sf_dir):
    """Every returned part is undominated within its brand (checked
    against the full table), and every brand is represented."""
    from savio_training_dask_2019_spark.queries.relational import q_skyline_parts
    from savio_training_dask_2019_spark.sources import load_table

    sky = q_skyline_parts(spark, sf_dir).collect()
    assert sky
    plan = q_skyline_parts(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan  # both windows brand-partitioned
    parts = [
        (r["p_brand"], int(round(r["p_retailprice"] * 100)), r["p_size"])
        for r in load_table(spark, sf_dir, "part").collect()
    ]
    by_brand: dict[str, list] = {}
    for b, x, y in parts:
        by_brand.setdefault(b, []).append((x, y))
    assert {r["p_brand"] for r in sky} == set(by_brand)
    for r in sky:
        x, y = r["price_cents"], r["p_size"]
        assert not any(
            xx <= x and yy >= y and (xx < x or yy > y)
            for xx, yy in by_brand[r["p_brand"]]
        ), r


# --- twap -----------------------------------------------------------------------


def test_twap_planted_holds(spark, tmp_path):
    """Three readings of one type with known hold durations: value 1.00
    held 10 s, 3.00 held 20 s, last reading holds nothing ->
    twap = (100·10 + 300·20) / (100 · 30) ≈ 2.333333."""
    import pandas as pd

    ts0 = pd.Timestamp("2024-01-10 00:00:00")
    rows = [
        (0, ts0, 1, "m", 1.00),
        (1, ts0 + pd.Timedelta(seconds=10), 1, "m", 3.00),
        (2, ts0 + pd.Timedelta(seconds=30), 1, "m", 9.99),
        (3, ts0, 2, "other", 5.0),
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import q_twap

    got = {r["event_type"]: r for r in q_twap(spark, str(tmp_path)).collect()}
    m = got["m"]
    assert m["n_events"] == 3
    assert m["wsum"] == 100 * 10 + 300 * 20 and m["dsum"] == 30
    assert m["twap"] == round((100 * 10 + 300 * 20) / (100.0 * 30), 6)
    # a type with a single event holds nothing: sums are 0/NULL-safe
    o = got["other"]
    assert o["n_events"] == 1 and o["dsum"] is None and o["twap"] is None


def test_twap_duplicate_ts_zero_duration(spark, tmp_path):
    """Two readings at the SAME timestamp: the earlier (by event_id) holds
    for 0 s and cannot move the average."""
    import pandas as pd

    ts0 = pd.Timestamp("2024-01-10 00:00:00")
    rows = [
        (0, ts0, "m", 500.0),          # dur 0 (tied, lower event_id)
        (1, ts0, "m", 2.0),            # held 10 s
        (2, ts0 + pd.Timedelta(seconds=10), "m", 7.0),  # last
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": 1,
            "event_type": [r[2] for r in rows],
            "value": [r[3] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import q_twap

    [m] = q_twap(spark, str(tmp_path)).collect()
    assert m["wsum"] == 200 * 10 and m["dsum"] == 10
    assert m["twap"] == 2.0


# --- benford_digits -------------------------------------------------------------


def test_benford_digits_planted_and_contract(spark, tmp_path):
    """Exact counts on a planted digit mix (including values whose cents
    string starts with each digit), shares sum to 1, expectations are the
    injected 6-dp literals, and non-positive totals are excluded."""
    import pandas as pd

    # cents: 1xx -> digit 1 (x30), 9xxx -> digit 9 (x7), 55 -> digit 5 (x3)
    vals = [1.23] * 30 + [91.00] * 7 + [0.55] * 3 + [0.0, -5.0]
    pd.DataFrame(
        {
            "o_orderkey": range(len(vals)),
            "o_custkey": 1,
            "o_orderstatus": "O",
            "o_totalprice": vals,
            "o_orderdate": pd.Timestamp("2024-01-01").date(),
            "o_orderpriority": "1-URGENT",
        }
    ).to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        _BENFORD,
        q_benford_digits,
    )

    got = {r["digit"]: r for r in q_benford_digits(spark, str(tmp_path)).collect()}
    assert {d: r["n"] for d, r in got.items()} == {1: 30, 9: 7, 5: 3}
    assert got[1]["share"] == round(30 / 40, 6)
    for d, r in got.items():
        assert r["benford_expected"] == float(_BENFORD[d])


def test_benford_digits_fixture_is_roughly_benford(spark, sf_dir):
    """o_totalprice spans several orders of magnitude; the fixture's digit
    mix must at least be monotonically heavier on low digits in aggregate
    (sanity that the audit measures something real), with shares summing
    to ~1 over all 9 digits."""
    from savio_training_dask_2019_spark.queries.relational import q_benford_digits

    rows = q_benford_digits(spark, sf_dir).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    total = sum(r["n"] for r in rows)
    assert total > 0


# --- ivm_agg --------------------------------------------------------------------


def test_ivm_agg_equals_direct_recompute(spark, sf_dir):
    """The IVM claim itself, checked inside Spark: base+delta merge ==
    direct aggregate over the post-change snapshot (the oracle makes the
    same comparison cross-engine)."""
    from savio_training_dask_2019_spark.queries.relational import q_ivm_agg
    from savio_training_dask_2019_spark.sources import load_table

    got = {
        r["o_orderpriority"]: (r["n_orders"], r["sum_cents"])
        for r in q_ivm_agg(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    snap2 = o.where(
        (F.col("k") % 13 == 0)
        | ((F.col("k") % 13 != 0) & (F.col("k") % 9 != 0))
    ).select(
        "prio",
        F.when(
            (F.col("k") % 13 != 0) & (F.col("k") % 9 != 0) & (F.col("k") % 11 == 0),
            F.col("cents") + 10000,
        ).otherwise(F.col("cents")).alias("cents"),
    )
    want = {
        r["prio"]: (r["n"], r["s"])
        for r in snap2.groupBy("prio")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_ivm_agg_drops_zeroed_groups(spark, tmp_path):
    """A group whose every row is deleted by the changelog must vanish
    from the merged view (count reaches 0), not linger as a zero row."""
    import pandas as pd

    # priority 'GONE' rows all have k % 13 != 0 and k % 9 == 0 -> deleted
    rows = [(9, "GONE", 10.0), (18, "GONE", 20.0), (1, "KEEP", 5.0)]
    pd.DataFrame(
        {
            "o_orderkey": [r[0] for r in rows],
            "o_custkey": 1,
            "o_orderstatus": "O",
            "o_totalprice": [r[2] for r in rows],
            "o_orderdate": pd.Timestamp("2024-01-01").date(),
            "o_orderpriority": [r[1] for r in rows],
        }
    ).to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_ivm_agg

    got = {r["o_orderpriority"]: r for r in q_ivm_agg(spark, str(tmp_path)).collect()}
    assert "GONE" not in got
    assert got["KEEP"]["n_orders"] == 1 and got["KEEP"]["sum_cents"] == 500


# --- reachable_nodes / bfs_hops -------------------------------------------------


def test_bfs_hops_planted_chain_cycle_multiseed(spark):
    from savio_training_dask_2019_spark.operators.graph import bfs_hops

    # chain 0->1->2->3->4, plus a cycle edge 2->0 (must not re-visit)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (2, 0)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # 3,4 beyond the horizon

    # multi-seed: min hops wins; duplicate seeds collapse
    seeds2 = spark.createDataFrame([(0,), (3,), (3,)], ["id"])
    got2 = {r["id"]: r["hops"] for r in bfs_hops(edges, seeds2, max_hops=2).collect()}
    assert got2 == {0: 0, 3: 0, 1: 1, 2: 2, 4: 1}

    import pytest

    with pytest.raises(ValueError, match="max_hops"):
        bfs_hops(edges, seeds, max_hops=-1)


def test_bfs_hops_differential_vs_python(spark):
    import random
    from collections import deque

    from savio_training_dask_2019_spark.operators.graph import bfs_hops

    rng = random.Random(31)
    edges = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    seeds = [0, 7]
    want = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        if want[u] >= 3:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    got = {
        r["id"]: r["hops"]
        for r in bfs_hops(
            spark.createDataFrame(edges, ["src", "dst"]),
            spark.createDataFrame([(s,) for s in seeds], ["id"]),
            max_hops=3,
        ).collect()
    }
    assert got == want and len(got) > len(seeds)


def test_reachable_nodes_catalog_contract(spark, sf_dir):
    """Seeds at hops 0 are exactly nation-0 suppliers; the bipartite graph
    forces hop parity (even hops = suppliers, odd = customers)."""
    from savio_training_dask_2019_spark.queries.relational import (
        q_reachable_nodes,
    )
    from savio_training_dask_2019_spark.sources import load_table

    rows = q_reachable_nodes(spark, sf_dir).collect()
    assert rows
    seeds = {
        r["s_suppkey"] * 2
        for r in load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 3)
        .collect()
    }
    got_seeds = {r["id"] for r in rows if r["hops"] == 0}
    assert got_seeds == seeds
    for r in rows:
        is_supplier = r["node_type"] == "supplier"
        assert (r["hops"] % 2 == 0) == is_supplier, r


# --- dedup_eval -----------------------------------------------------------------


def test_dedup_eval_metric_arithmetic(spark, sf_dir):
    """The one-row metrics must equal precision/recall/F1 recomputed from
    independently collected truth and prediction pair sets."""
    from savio_training_dask_2019_spark.operators.dedup import (
        minhash_banded_pairs,
        ngram_jaccard_pairs,
    )
    from savio_training_dask_2019_spark.queries.textops import q_dedup_eval
    from savio_training_dask_2019_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
        .collect()
    }
    pred = {
        (r["id_a"], r["id_b"])
        for r in minhash_banded_pairs(
            d, "text", "doc_id", n=3, max_jaccard_distance=0.5
        ).collect()
    }
    hit = truth & pred
    [m] = q_dedup_eval(spark, sf_dir).collect()
    assert (m["n_true"], m["n_pred"], m["n_hit"]) == (
        len(truth), len(pred), len(hit),
    )
    assert m["precision"] == round(len(hit) / len(pred), 4)
    assert m["recall"] == round(len(hit) / len(truth), 4)
    assert m["f1"] == round(2 * len(hit) / (len(truth) + len(pred)), 4)
    # banding at the matched cutoff keeps recall high on the fixture
    assert m["recall"] >= 0.5


# --- spatial_pairs --------------------------------------------------------------


def test_grid_neighbor_pairs_planted_boundaries(spark):
    """Pairs exactly ON the radius are included (dist² == r²), cell-border
    pairs are found, co-located points give dist 0, negative coordinates
    work, and far points are excluded."""
    from savio_training_dask_2019_spark.operators.spatial import (
        grid_neighbor_pairs,
    )

    pts = [
        (1, 0, 0), (2, 10, 0),      # dist² = 100 == r² (r=10): included
        (3, 9, 9),                  # to 1: 162 > 100 out; to 2: 82 in
        (4, 0, 0),                  # duplicate of 1: dist 0
        (5, -7, -7),                # negative coords; to 1: 98 in
        (6, 100, 100),              # far from everything
    ]
    got = {
        (r["id_a"], r["id_b"]): r["dist2"]
        for r in grid_neighbor_pairs(
            spark.createDataFrame(pts, ["id", "x", "y"]), "x", "y", "id", 10
        ).collect()
    }
    want = {}
    for i, xa, ya in pts:
        for j, xb, yb in pts:
            if i < j and (xa - xb) ** 2 + (ya - yb) ** 2 <= 100:
                want[(i, j)] = (xa - xb) ** 2 + (ya - yb) ** 2
    assert got == want
    assert got[(1, 2)] == 100  # exactly ON the radius: included
    assert got[(1, 4)] == 0    # co-located points
    assert got[(1, 5)] == 98   # negative coordinates
    assert (1, 3) not in got and all(6 not in k for k in got)


def test_grid_neighbor_pairs_differential_vs_brute(spark):
    """Lossless blocking: grid pairs == brute-force quadratic pairs on a
    deterministic random cloud (duplicates and cell borders included)."""
    import random

    from savio_training_dask_2019_spark.operators.spatial import (
        grid_neighbor_pairs,
    )

    rng = random.Random(17)
    pts = [(i, rng.randrange(-200, 200), rng.randrange(-200, 200)) for i in range(300)]
    r = 25
    want = {}
    for i, xa, ya in pts:
        for j, xb, yb in pts:
            if i < j:
                d2 = (xa - xb) ** 2 + (ya - yb) ** 2
                if d2 <= r * r:
                    want[(i, j)] = d2
    got = {
        (row["id_a"], row["id_b"]): row["dist2"]
        for row in grid_neighbor_pairs(
            spark.createDataFrame(pts, ["id", "x", "y"]), "x", "y", "id", r
        ).collect()
    }
    assert got == want and len(want) > 50


def test_spatial_pairs_catalog_no_bnlj(spark, sf_dir):
    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries.relational import q_spatial_pairs

    df = q_spatial_pairs(spark, sf_dir)
    assert plans.bnlj_count(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert all(0 <= r["dist2"] <= 150 * 150 for r in rows)


# --- funnel_window --------------------------------------------------------------


def test_funnel_window_planted_chains(spark, tmp_path):
    """Chains inside/outside the 2 h window, same-second ordering, and
    out-of-order steps: the linear fold must reproduce the definitional
    EXISTS semantics on every planted case."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-10 00:00:00")

    def ev(uid, etype, offset_s):
        return (uid, etype, t0 + pd.Timedelta(seconds=offset_s))

    rows = [
        # u1: full chain inside the window -> 3
        ev(1, "view", 0), ev(1, "click", 3600), ev(1, "purchase", 7000),
        # u2: purchase lands past the 7200 s span -> 2
        ev(2, "view", 0), ev(2, "click", 100), ev(2, "purchase", 7300),
        # u2 second view restarts a chain, but no later click -> still 2
        ev(2, "view", 7250),
        # u3: click BEFORE any view; same-second view+click pair later -> 2
        ev(3, "click", 0), ev(3, "view", 50), ev(3, "click", 50),
        # u4: purchase before the click -> ordered chain stops at 2
        ev(4, "view", 0), ev(4, "purchase", 10), ev(4, "click", 20),
        # u5: only clicks/purchases, no view -> 0
        ev(5, "click", 0), ev(5, "purchase", 1),
        # u6: a LATER view rescues the window: v@0 c@100 p@9000 fails, but
        # v@5000 c@5001 p@9000 fits -> 3
        ev(6, "view", 0), ev(6, "click", 100), ev(6, "view", 5000),
        ev(6, "click", 5001), ev(6, "purchase", 9000),
        # noise types are ignored
        ev(1, "signup", 5), ev(5, "error", 5),
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [r[2] for r in rows],
            "user_id": [r[0] for r in rows],
            "event_type": [r[1] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import q_funnel_window

    got = {
        r["user_id"]: r["funnel_depth"]
        for r in q_funnel_window(spark, str(tmp_path)).collect()
    }
    assert got == {1: 3, 2: 2, 3: 2, 4: 2, 5: 0, 6: 3}


# --- rolling_anomaly ------------------------------------------------------------


def test_rolling_anomaly_planted_spike(spark, tmp_path):
    """A flat series never flags (zero deviation); one 10x spike against a
    flat trailing window flags exactly once (zero variance + any deviation
    => |z| unbounded); noisy-but-stable series stays quiet."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-10")
    rows = []
    # 'flat': 40 identical values -> zero anomalies
    rows += [("flat", 100.0)] * 40
    # 'spiky': 25 flat values, one 999.0 spike, then flat again
    rows += [("spiky", 100.0)] * 25 + [("spiky", 999.0)] + [("spiky", 100.0)] * 10
    # 'noisy': alternating 99/101 — well within 3 sigma of itself
    rows += [("noisy", 99.0 if i % 2 else 101.0) for i in range(40)]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [t0 + pd.Timedelta(seconds=i) for i in range(len(rows))],
            "user_id": 1,
            "event_type": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_rolling_anomaly,
    )

    got = {r["event_type"]: r for r in q_rolling_anomaly(spark, str(tmp_path)).collect()}
    assert got["flat"]["n_anomalies"] == 0
    assert got["spiky"]["n_anomalies"] == 1  # exactly the planted spike
    assert got["noisy"]["n_anomalies"] == 0
    # scored = rows with >= 10 history
    assert got["flat"]["n_scored"] == 40 - 10


# --- ann_recall -----------------------------------------------------------------


def test_ann_recall_contract(spark, sf_dir):
    """Per query: exactly 3 exact neighbors, 0 <= hits <= 3, recall is the
    rounded ratio, and the query set matches the knn_cells demo subset."""
    from savio_training_dask_2019_spark.queries.vectorops import (
        _CELL_QUERY_MOD,
        q_ann_recall,
    )

    rows = q_ann_recall(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["query_id"] % _CELL_QUERY_MOD == 0
        assert r["n_exact"] == 3
        assert 0 <= r["n_hit"] <= 3
        assert r["recall"] == round(r["n_hit"] / 3, 4)


def test_basket_pairs_hand_computed(spark, tmp_path):
    """4 hand-built baskets: every co-count, support, and lift is known;
    a duplicate part inside one order must not double-count its brand."""
    import pandas as pd

    # parts: 10->A, 11->A (second A part), 20->B, 30->C
    pd.DataFrame(
        {"p_partkey": [10, 11, 20, 30], "p_brand": ["A", "A", "B", "C"]}
    ).to_parquet(tmp_path / "part.parquet")
    # baskets: 1={A,B} (A twice via parts 10+11), 2={A,B}, 3={A,C}, 4={B}
    rows = [(1, 10), (1, 11), (1, 20), (2, 10), (2, 20), (3, 11), (3, 30), (4, 20)]
    pd.DataFrame(
        {"l_orderkey": [r[0] for r in rows], "l_partkey": [r[1] for r in rows]}
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_basket_pairs

    got = {
        (r["brand_a"], r["brand_b"]): r
        for r in q_basket_pairs(spark, str(tmp_path)).collect()
    }
    assert set(got) == {("A", "B"), ("A", "C")}
    ab = got[("A", "B")]
    assert (ab["n_co"], ab["sup_a"], ab["sup_b"]) == (2, 3, 3)
    assert ab["lift"] == round(2 * 4 / (3 * 3), 4)
    ac = got[("A", "C")]
    assert (ac["n_co"], ac["sup_a"], ac["sup_b"]) == (1, 3, 1)
    assert ac["lift"] == round(1 * 4 / (3 * 1), 4)


def test_weighted_median_hand_computed(spark, tmp_path):
    """Hand-built weighted sets: the lower-weighted-median inequality
    2*cumw >= W on a walk over DISTINCT prices. Nation 0: weights
    1/2/1 over 100/200/300 -> median 200. Nation 1: even split 2|2 over
    100/300 -> the LOWER median 100. Nation 2: duplicate price rows
    collapse (two 1.00 lines sum to weight 2) -> median 100."""
    import pandas as pd

    sup = pd.DataFrame({"s_suppkey": [10, 11, 12], "s_nationkey": [0, 1, 2]})
    sup.to_parquet(tmp_path / "supplier.parquet")
    rows = [
        (10, 1.00, 1), (10, 2.00, 2), (10, 3.00, 1),
        (11, 1.00, 2), (11, 3.00, 2),
        (12, 1.00, 1), (12, 1.00, 1), (12, 2.00, 2),
    ]
    pd.DataFrame(
        {
            "l_suppkey": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
            "l_quantity": [float(r[2]) for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_weighted_median

    got = {
        r["s_nationkey"]: (r["median_cents"], r["total_qty"])
        for r in q_weighted_median(spark, str(tmp_path)).collect()
    }
    assert got == {0: (200, 4), 1: (100, 4), 2: (100, 4)}


def test_chi2_abtest_planted_effect(spark, tmp_path):
    """Hand-computed 2×2 tables: a strong planted treatment effect gives
    χ² = 20.0 exactly (significant); a perfectly balanced segment gives
    0.0; an all-success segment has a zero marginal -> NULL, not a
    div-by-zero artifact. Arms: user_id%2 (odd = treatment); success:
    value > 50."""
    import pandas as pd

    rows = []
    eid = 0

    def add(seg, treated, success, n):
        nonlocal eid
        for _ in range(n):
            rows.append(
                (eid, "2024-01-05", 1 if treated else 2, seg,
                 99.0 if success else 1.0)
            )
            eid += 1

    # effect: a=30 b=10 c=10 d=30 -> chi2 = 80*800^2/40^4 = 20.0
    add("effect", True, True, 30), add("effect", True, False, 10)
    add("effect", False, True, 10), add("effect", False, False, 30)
    # balanced: all cells 10 -> chi2 = 0
    for t in (True, False):
        for s in (True, False):
            add("balanced", t, s, 10)
    # degenerate: everyone succeeds -> (b+d)=0 -> NULL
    add("degenerate", True, True, 5), add("degenerate", False, True, 5)

    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [pd.Timestamp(r[1]) for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_chi2_abtest

    got = {r["event_type"]: r for r in q_chi2_abtest(spark, str(tmp_path)).collect()}
    eff = got["effect"]
    assert (eff["a"], eff["b"], eff["c"], eff["d"]) == (30, 10, 10, 30)
    assert eff["chi2"] == 20.0 and eff["significant"]
    bal = got["balanced"]
    assert bal["chi2"] == 0.0 and not bal["significant"]
    deg = got["degenerate"]
    assert deg["chi2"] is None and deg["significant"] is None


def test_null_profile_planted_nulls(spark, tmp_path):
    """A fixture with known nulls per column: every count, rate, and
    exact distinct cardinality is hand-computed (count(DISTINCT) ignores
    NULLs in both engines)."""
    import pandas as pd

    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-01", None, "2024-01-02"]
            ),
            "user_id": pd.array([7, None, 7, 9], dtype="Int64"),
            "event_type": ["a", "a", "b", None],
            "value": [1.5, None, None, 1.5],
            "props": ["{}", "{}", "{}", "{}"],
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_null_profile

    got = {r["col"]: r for r in q_null_profile(spark, str(tmp_path)).collect()}
    assert len(got) == 6 and all(r["n_rows"] == 4 for r in got.values())
    expect = {
        "event_id": (0, 0.0, 4),
        "ts": (1, 0.25, 2),
        "user_id": (1, 0.25, 2),
        "event_type": (1, 0.25, 2),
        "value": (2, 0.5, 1),
        "props": (0, 0.0, 1),
    }
    for c, (nn, rate, nd) in expect.items():
        r = got[c]
        assert (r["n_null"], r["null_rate"], r["n_distinct"]) == (nn, rate, nd), c


def test_ref_integrity_planted_orphans(spark, tmp_path):
    """Planted dangling references: 2 lineitems point at a missing order,
    1 at a missing part, 1 carries a NULL suppkey (NULL dangles by
    definition), and 1 order references a missing customer — every
    count and rate is hand-computed."""
    import pandas as pd

    pd.DataFrame({"o_orderkey": [1, 2], "o_custkey": [10, 99]}).to_parquet(
        tmp_path / "orders.parquet"
    )
    pd.DataFrame({"c_custkey": [10]}).to_parquet(tmp_path / "customer.parquet")
    pd.DataFrame({"p_partkey": [100, 101]}).to_parquet(tmp_path / "part.parquet")
    pd.DataFrame({"s_suppkey": [1000]}).to_parquet(tmp_path / "supplier.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [1, 1, 7, 7, 2],
            "l_partkey": [100, 101, 100, 555, 101],
            "l_suppkey": pd.array([1000, 1000, 1000, 1000, None], dtype="Int64"),
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_ref_integrity

    got = {r["relation"]: r for r in q_ref_integrity(spark, str(tmp_path)).collect()}
    assert got["lineitem->orders"]["n_orphans"] == 2  # the two l_orderkey=7
    assert got["lineitem->part"]["n_orphans"] == 1    # partkey 555
    assert got["lineitem->supplier"]["n_orphans"] == 1  # the NULL suppkey
    assert got["orders->customer"]["n_orphans"] == 1  # custkey 99
    assert got["lineitem->orders"]["n_child"] == 5
    assert got["lineitem->orders"]["orphan_rate"] == 0.4
    assert got["orders->customer"]["orphan_rate"] == 0.5


def test_conversion_lag_planted_journeys(spark, tmp_path):
    """Hand-built journeys: u1 converts 90 min after first view (bucket
    1); u2's purchase PRECEDES every view (no qualifying conversion);
    u3 converts in the same hour (bucket 0); u4 never purchases."""
    import pandas as pd

    rows = [
        (1, "2024-01-01 10:00", 1, "view"), (2, "2024-01-01 11:30", 1, "purchase"),
        (3, "2024-01-02 10:00", 2, "purchase"), (4, "2024-01-02 11:00", 2, "view"),
        (5, "2024-01-03 09:00", 3, "view"), (6, "2024-01-03 09:20", 3, "purchase"),
        (7, "2024-01-04 08:00", 4, "view"),
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [pd.Timestamp(r[1]) for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import q_conversion_lag

    got = {
        r["lag_hours"]: r["n_users"]
        for r in q_conversion_lag(spark, str(tmp_path)).collect()
    }
    assert got == {0: 1, 1: 1}


def test_degree_histogram_hand_computed(spark, tmp_path):
    """Tiny trade graph: s10-{c1,c2,c3}, s11-{c1}; degrees 3/1 (suppliers)
    and 2/1/1 (customers). log2 buckets via length(bin(deg)): bucket 1 =
    {s11,c2,c3}, bucket 2 = {s10 (deg 3), c1 (deg 2)}. A duplicate
    lineitem for the same pair must not add degree."""
    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4], "o_custkey": [1, 2, 3, 1]}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2, 3, 4],  # order 1 doubled: same (s,c) pair
            "l_suppkey": [10, 10, 10, 10, 11],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_degree_histogram,
    )

    got = {
        r["deg_bucket"]: (r["n_nodes"], r["sum_deg"], r["max_deg"])
        for r in q_degree_histogram(spark, str(tmp_path)).collect()
    }
    assert got == {1: (3, 3, 1), 2: (2, 5, 3)}


def test_cohort_ltv_hand_computed(spark, tmp_path):
    """Two cohorts: c1 first-orders in Jan (orders in Jan + Mar), c2 in
    Mar only; every (cohort, months_since) cell is hand-computed and a
    same-month repeat order counts the customer once in n_active."""
    import pandas as pd

    rows = [
        (1, "1995-01-10", 10.00), (1, "1995-01-20", 5.00),  # Jan, m0 ×2
        (1, "1995-03-05", 7.00),                            # Jan, m2
        (2, "1995-03-15", 20.00),                           # Mar cohort
    ]
    pd.DataFrame(
        {
            "o_custkey": [r[0] for r in rows],
            "o_orderdate": pd.Series(
                [pd.Timestamp(r[1]) for r in rows], dtype="datetime64[us]"
            ),
            "o_totalprice": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_cohort_ltv

    got = {
        (r["cohort_month"].strftime("%Y-%m"), r["months_since"]): (
            r["n_active"], r["n_orders"], r["sum_cents"],
        )
        for r in q_cohort_ltv(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("1995-01", 0): (1, 2, 1500),
        ("1995-01", 2): (1, 1, 700),
        ("1995-03", 0): (1, 1, 2000),
    }


def test_abc_by_brand_hand_computed(spark, tmp_path):
    """One brand, revenues 50/30/15/5 (total 100): cumulative 50/80/95/100
    -> A/A/B/C with the <=80%% / <=95%% integer cuts INCLUSIVE (part 2's
    cum=80 is exactly 4/5 of total and stays A; part 3's cum=95 stays B)."""
    import pandas as pd

    pd.DataFrame(
        {"p_partkey": [1, 2, 3, 4], "p_brand": ["X"] * 4}
    ).to_parquet(tmp_path / "part.parquet")
    pd.DataFrame(
        {
            "l_partkey": [1, 2, 3, 4],
            "l_extendedprice": [0.50, 0.30, 0.15, 0.05],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_abc_by_brand

    got = {
        r["abc_class"]: (r["n_parts"], r["sum_cents"])
        for r in q_abc_by_brand(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (2, 80), "B": (1, 15), "C": (1, 5)}


def test_market_hhi_hand_computed(spark, tmp_path):
    """Monopoly nation -> HHI 10000 exactly; 50/50 duopoly -> 5000; the
    dollars truncation (cents div 100) applies before squaring."""
    import pandas as pd

    pd.DataFrame(
        {"s_suppkey": [1, 2, 3], "s_nationkey": [0, 1, 1]}
    ).to_parquet(tmp_path / "supplier.parquet")
    rows = [
        (1, 500.00),             # nation 0: single supplier
        (2, 300.00), (3, 300.00),  # nation 1: equal duopoly
    ]
    pd.DataFrame(
        {
            "l_suppkey": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_market_hhi

    got = {r["s_nationkey"]: r for r in q_market_hhi(spark, str(tmp_path)).collect()}
    assert (got[0]["n_suppliers"], got[0]["hhi"]) == (1, 10000.0)
    assert (got[1]["n_suppliers"], got[1]["total_rev"], got[1]["hhi"]) == (2, 600, 5000.0)


def test_late_shipment_rate_boundary(spark, tmp_path):
    """Exactly 90 days is ON TIME (strict >); 91 days is late — pinned
    with a two-line month where the rate is exactly 0.5."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_orderdate": pd.Series(
                pd.to_datetime(["1995-01-01", "1995-01-01"]),
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [1, 2],
            "l_shipdate": pd.Series(
                pd.to_datetime(["1995-04-01", "1995-04-02"]),  # +90, +91 days
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_late_shipment_rate,
    )

    [r] = q_late_shipment_rate(spark, str(tmp_path)).collect()
    assert (r["n_lines"], r["n_late"], r["late_rate"]) == (2, 1, 0.5)


def test_weighted_quantiles_binned_contains_exact_quantile(spark, sf_dir):
    """The binned tier's error contract (VERDICT r12 #3): binning preserves
    value order, so the selected bin CONTAINS the exact weighted q-quantile
    and the reported midpoint is within ±bin_width/2 of it. Verified
    against an independent pure-python exact weighted-quantile walk over
    the fixture."""
    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.relational import (
        _WQB_BIN_CENTS,
        _WQB_PCTS,
        q_weighted_quantiles_binned,
    )
    from savio_training_dask_2019_spark.sources import load_table

    binned = {
        (r["s_nationkey"], r["pct"]): r["value_cents"]
        for r in q_weighted_quantiles_binned(spark, sf_dir).collect()
    }
    assert binned, "fixture produced no quantile rows"

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_quantity"
    )
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rows = li.join(su, li.l_suppkey == su.s_suppkey).collect()
    by_nation = defaultdict(lambda: defaultdict(int))
    for r in rows:
        cents = int(round(r["l_extendedprice"] * 100))
        by_nation[r["s_nationkey"]][cents] += int(r["l_quantity"])

    for nation, masses in by_nation.items():
        total = sum(masses.values())
        cum = 0
        exact = {}
        pending = list(_WQB_PCTS)
        for cents in sorted(masses):
            cum += masses[cents]
            while pending and 100 * cum >= pending[0] * total:
                exact[pending.pop(0)] = cents
        assert not pending
        for pct, exact_cents in exact.items():
            mid = binned[(nation, pct)]
            lo = mid - _WQB_BIN_CENTS // 2
            assert lo <= exact_cents < lo + _WQB_BIN_CENTS, (
                f"nation {nation} p{pct}: exact {exact_cents} outside the "
                f"selected bin [{lo}, {lo + _WQB_BIN_CENTS})"
            )


def test_weighted_quantiles_binned_hand_computed(spark, tmp_path):
    """Hand-built masses pin the bin boundaries and the >= threshold.
    Nation 0: weight 10 at 100 cents (bin 0) + 10 at 700 cents (bin 1) —
    p25/p50 land in bin 0 (cum 10/20 = 50% >= 25/50), p75/p90 in bin 1;
    midpoints 250 and 750. Nation 1: all weight in one bin → every pct
    returns that bin's midpoint."""
    import pandas as pd

    sup = pd.DataFrame({"s_suppkey": [10, 11], "s_nationkey": [0, 1]})
    sup.to_parquet(tmp_path / "supplier.parquet")
    rows = [(10, 1.00, 10), (10, 7.00, 10), (11, 12.34, 3)]
    pd.DataFrame(
        {
            "l_suppkey": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
            "l_quantity": [float(r[2]) for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_weighted_quantiles_binned,
    )

    got = {
        (r["s_nationkey"], r["pct"]): r["value_cents"]
        for r in q_weighted_quantiles_binned(spark, str(tmp_path)).collect()
    }
    assert got == {
        (0, 25): 250, (0, 50): 250, (0, 75): 750, (0, 90): 750,
        (1, 25): 1250, (1, 50): 1250, (1, 75): 1250, (1, 90): 1250,
    }


def test_rfm_segments_planted_quintiles(spark, tmp_path):
    """Hand-built single-segment population of 7 customers pins NTILE(5)
    remainder semantics (7 = 5·1 + 2 → group sizes 2,2,1,1,1: the FIRST
    two quintiles absorb the remainder) and the c_custkey tie-break on
    equal metrics. Customers 1..7 get strictly increasing frequency and
    monetary and strictly DECREASING recency (later last-order = more
    recent), so all three scores agree by construction; customers 1 and 2
    share every metric value except custkey order."""
    import pandas as pd

    n = 7
    pd.DataFrame(
        {
            "c_custkey": range(1, n + 1),
            "c_mktsegment": ["SEG"] * n,
        }
    ).to_parquet(tmp_path / "customer.parquet")
    rows = []
    ok = 0
    for cust in range(1, n + 1):
        # frequency = cust orders; last order day = Jan cust (later = better);
        # per-order price 10.00·cust → monetary strictly increasing
        n_orders = 1 if cust <= 2 else cust  # tie between 1 and 2
        day = 3 if cust <= 2 else cust      # tie between 1 and 2
        for _ in range(n_orders):
            ok += 1
            rows.append((ok, cust, f"2024-01-{day:02d}", 10.00 * cust))
    odf = pd.DataFrame(
        {
            "o_orderkey": [r[0] for r in rows],
            "o_custkey": [r[1] for r in rows],
            "o_orderdate": [pd.Timestamp(r[2]) for r in rows],
            "o_totalprice": [r[3] for r in rows],
        }
    )
    # non-events planted tables must write micros (nanos read back BIGINT)
    odf["o_orderdate"] = odf["o_orderdate"].astype("datetime64[us]")
    odf.to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_rfm_segments

    got = {
        r["rfm"]: (r["n_customers"], r["total_cents"])
        for r in q_rfm_segments(spark, str(tmp_path)).collect()
    }
    # total order per metric (ties on custkey): customers 1..7 ascending.
    # ntile(5) over 7 rows → quintiles (1,1,2,2,3,4,5) — first two groups
    # absorb the remainder. cents: c1=1000, c2=2000, c3=3·3000=9000,
    # c4=4·4000=16000, c5=25000, c6=36000, c7=49000.
    # → per-customer scores r/f/m agree: c1=111, c2=111, c3=222, c4=222,
    #   c5=333, c6=444, c7=555.
    assert got == {
        111: (2, 3000),
        222: (2, 25000),
        333: (1, 25000),
        444: (1, 36000),
        555: (1, 49000),
    }


def test_sssp_bounded_planted_routes(spark):
    """Planted weighted digraph pins Bellman-Ford semantics: the cheap
    2-hop route (2+3=5) beats the direct edge (10); a still-cheaper
    4-hop chain (1+1+1+1=4) is invisible at rounds=3 (the bound is real)
    and found at rounds=4; rounds=1 sees only the direct edge."""
    from savio_training_dask_2019_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [
            (1, 2, 10),           # direct but expensive
            (1, 3, 2), (3, 2, 3),  # 2-hop, cost 5
            (1, 4, 1), (4, 5, 1), (5, 6, 1), (6, 2, 1),  # 4-hop, cost 4
        ],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")

    def run(rounds):
        return {
            r["id"]: r["cost"]
            for r in sssp_bounded(edges, seeds, rounds=rounds).collect()
        }

    assert run(1)[2] == 10
    assert run(3)[2] == 5           # 4-hop route out of reach
    assert run(4)[2] == 4
    d3 = run(3)
    assert d3[1] == 0 and d3[3] == 2 and d3[6] == 3  # 1→4→5→6


def test_sssp_bounded_matches_python_bellman_ford(spark):
    """Differential: a deterministic pseudo-random 60-node digraph vs a
    direct python Bellman-Ford with the same round bound."""
    from savio_training_dask_2019_spark.operators.graph import sssp_bounded

    n, rounds = 60, 4
    edges = [
        (a, (a * 7 + k * 13) % n, 1 + (a * 31 + k * 17) % 9)
        for a in range(n)
        for k in range(3)
    ]
    dist = {0: 0, 1: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in edges:
            if a in dist and dist[a] + w < nxt.get(b, 1 << 60):
                nxt[b] = dist[a] + w
        dist = nxt

    got = {
        r["id"]: r["cost"]
        for r in sssp_bounded(
            spark.createDataFrame(edges, "src long, dst long, w long"),
            spark.createDataFrame([(0,), (1,)], "id long"),
            rounds=rounds,
        ).collect()
    }
    assert got == dist


def test_sssp_bounded_rounds_validation(spark):
    import pytest

    from savio_training_dask_2019_spark.operators.graph import sssp_bounded

    e = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    s = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="rounds"):
        sssp_bounded(e, s, rounds=-1)
    # rounds=0: seeds only, cost 0
    assert {r["id"]: r["cost"] for r in sssp_bounded(e, s, 0).collect()} == {1: 0}


def test_dedup_survivorship_planted_conflicts(spark, tmp_path):
    """Hand-built cluster with field conflicts: three copies of one text
    (pairwise Jaccard 1.0 → one cluster, id = min doc_id) where the
    longest n_chars wins and an n_chars tie breaks on the LOWER doc_id;
    rollups merge across all members (total chars, distinct sources).
    The unrelated singleton never appears — survivorship only speaks for
    clustered docs."""
    import pandas as pd

    dup = "alpha beta gamma delta epsilon zeta"
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 9],
            "text": [dup, dup, dup, "completely different words entirely here"],
            "lang": ["en", "fr", "de", "en"],
            "source": ["s1", "s2", "s1", "s3"],
            "n_chars": [10, 30, 30, 99],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    from savio_training_dask_2019_spark.queries.textops import (
        q_dedup_survivorship,
    )

    rows = q_dedup_survivorship(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    [r] = rows
    assert r["cluster_id"] == 1
    assert r["n_members"] == 3
    assert r["total_chars"] == 70
    assert r["n_sources"] == 2
    assert r["survivor_doc_id"] == 2  # n_chars tie 30/30 → lower doc_id
    assert r["survivor_lang"] == "fr"


def test_embedding_drift_planted_centroids(spark, tmp_path):
    """Hand-built halves pin the centroid algebra. Identical halves →
    cosine 1.0 and zero squared-L2; orthogonal centroids → cosine 0.0;
    a hand-computed shifted pair reproduces the exact floor-div
    milli-centroid moments."""
    import pandas as pd

    def write(rows):
        pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
                "label": 0,
            }
        ).to_parquet(tmp_path / "embeddings.parquet")
        spark.catalog.clearCache()

    from savio_training_dask_2019_spark.queries.vectorops import (
        _EDRIFT_DIM,
        q_embedding_drift,
    )

    def pad(v):
        return v + [0.0] * (_EDRIFT_DIM - len(v))

    # identical halves: evens and odds carry the same two vectors
    write([(0, pad([0.5, 0.25])), (2, pad([0.1, 0.3])),
           (1, pad([0.5, 0.25])), (3, pad([0.1, 0.3]))])
    [r] = q_embedding_drift(spark, str(tmp_path)).collect()
    assert (r["n_ref"], r["n_cur"]) == (2, 2)
    assert r["centroid_cosine"] == 1.0
    assert r["l2_sq_milli"] == 0

    # orthogonal centroids: ref on dim 1, cur on dim 2
    write([(0, pad([1.0, 0.0])), (1, pad([0.0, 1.0]))])
    [r] = q_embedding_drift(spark, str(tmp_path)).collect()
    assert r["centroid_cosine"] == 0.0
    assert r["l2_sq_milli"] == 1000**2 + 1000**2

    # hand-computed floor-div centroids: ref {1.0, 0.5} → sum 1500 div 2
    # = 750 milli; cur {0.25} → 250 milli; dot = 750·250, norms 750², 250²
    write([(0, pad([1.0])), (2, pad([0.5])), (1, pad([0.25]))])
    [r] = q_embedding_drift(spark, str(tmp_path)).collect()
    assert (r["n_ref"], r["n_cur"]) == (2, 1)
    assert r["centroid_cosine"] == 1.0  # same direction exactly
    assert r["l2_sq_milli"] == (750 - 250) ** 2


def test_langid_confusion_planted_matrix(spark, tmp_path):
    """Hand-built corpus with known predictions: two true-en docs predicted
    en, one true-en doc written with French markers (the off-diagonal
    cell), one true-fr doc predicted fr. Cells are exact counts and
    row_share normalizes within the TRUE language."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat and the dog of it is in that",
                "it is the best of the and to",
                "le chat la et les des est une",   # labeled en, reads fr
                "le la et les des est un une",
            ],
            "lang": ["en", "en", "en", "fr"],
            "source": "s",
            "n_chars": 10,
        }
    ).to_parquet(tmp_path / "documents.parquet")

    from savio_training_dask_2019_spark.queries.textops import q_langid_confusion

    got = {
        (r["true_lang"], r["pred_lang"]): (r["n_docs"], r["row_share"])
        for r in q_langid_confusion(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("en", "en"): (2, round(2 / 3, 4)),
        ("en", "fr"): (1, round(1 / 3, 4)),
        ("fr", "fr"): (1, 1.0),
    }


def test_kcore_peel_planted_cascade(spark):
    """Planted graph pins the peel CASCADE: a 4-clique (1-4) with a
    pendant chain 5-6 hanging off node 1. k=3: round 1 removes 6 (deg 1)
    and 5 (deg 2)... 5's only edges are 1 and 6, so deg(5)=2 < 3 —
    removed round 1; the clique survives with in-clique degree 3 each.
    k=3 rounds=0 returns the input degrees untouched (bound semantics);
    a 2-round bound on a 3-link chain shows the truncation: peeling a
    path eats one layer per round."""
    from savio_training_dask_2019_spark.operators.graph import kcore_peel

    def sym(pairs):
        return spark.createDataFrame(
            [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
            "src long, dst long",
        )

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    g = sym(clique + [(1, 5), (5, 6)])

    got = {r["id"]: r["deg"] for r in kcore_peel(g, k=3, rounds=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # clique only, pendant gone

    # rounds=0: untouched input degrees
    got0 = {r["id"]: r["deg"] for r in kcore_peel(g, k=3, rounds=0).collect()}
    assert got0[1] == 4 and got0[5] == 2 and got0[6] == 1

    # truncation: a 4-node path at k=2 loses ONE endpoint layer per round
    path = sym([(1, 2), (2, 3), (3, 4)])
    r1 = {r["id"] for r in kcore_peel(path, k=2, rounds=1).collect()}
    assert r1 == {2, 3}  # endpoints 1, 4 peeled; 2-3 still linked
    r2 = {r["id"] for r in kcore_peel(path, k=2, rounds=2).collect()}
    assert r2 == set()  # second round empties it (no 2-core exists)

    import pytest

    with pytest.raises(ValueError, match="k must"):
        kcore_peel(path, k=0, rounds=1)
    with pytest.raises(ValueError, match="rounds"):
        kcore_peel(path, k=2, rounds=-1)


def test_k_anonymity_planted_classes(spark, tmp_path):
    """Hand-built equivalence classes: one class of 6 (safe at k=5), one
    of 2 and one singleton (both violating), so n_rows_at_risk counts
    ROWS (3), not classes (2). The $500 bucket boundary is exact: 499.99
    and 500.00 land in different buckets; a negative balance truncates
    toward zero (bucket 0 for -$3)."""
    import pandas as pd

    rows = []
    # class A: nation 0, SEG, balances all inside bucket 0 → size 6
    for i in range(6):
        rows.append((i, 0, "SEG", 10.0 + i))
    # class B: nation 1, SEG, bucket 0 → size 2 (violating)
    rows.append((10, 1, "SEG", 1.0))
    rows.append((11, 1, "SEG", 2.0))
    # class C: nation 0, SEG, bucket 1 (balance 500.00) → singleton
    rows.append((12, 0, "SEG", 500.00))
    # boundary partner: 499.99 stays in bucket 0 with class A
    rows.append((13, 0, "SEG", 499.99))
    # negative balance: -3.00 → cents -300 div 50000 = 0 → joins class A
    rows.append((14, 0, "SEG", -3.00))
    pd.DataFrame(
        {
            "c_custkey": [r[0] for r in rows],
            "c_nationkey": [r[1] for r in rows],
            "c_mktsegment": [r[2] for r in rows],
            "c_acctbal": [r[3] for r in rows],
        }
    ).to_parquet(tmp_path / "customer.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_k_anonymity

    [r] = q_k_anonymity(spark, str(tmp_path)).collect()
    # classes: A has 6+1+1=8 rows (i 0-5, 13, 14); B 2; C 1 → 3 classes
    assert r["k"] == 5
    assert r["n_classes"] == 3
    assert r["n_violating_classes"] == 2
    assert r["n_rows_at_risk"] == 3
    assert r["min_class_size"] == 1
    assert r["n_rows"] == 11


def test_part_family_rollup_hand_computed(spark, tmp_path):
    """Hand-built family tree: parts 10, 11, 25 (revenue 1/2/4 dollars),
    part 3 (8 dollars). Level 1 families: 1={10,11}, 2={25}, 0={3};
    level 2: family 0 absorbs 10/11/25/3; level 3: all in family 0.
    Every ancestor sum is the exact sum of its subtree."""
    import pandas as pd

    rows = [(10, 1.00), (11, 2.00), (25, 4.00), (3, 8.00), (10, 1.00)]
    pd.DataFrame(
        {
            "l_partkey": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_part_family_rollup,
    )

    got = {
        (r["level"], r["family"]): (r["n_parts"], r["revenue_cents"])
        for r in q_part_family_rollup(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 1): (2, 100 + 100 + 200),   # parts 10 (two lines) + 11
        (1, 2): (1, 400),               # part 25
        (1, 0): (1, 800),               # part 3
        (2, 0): (4, 1600),              # every part
        (3, 0): (4, 1600),
    }


def test_grouped_minhash_sim_planted_accuracy(spark, tmp_path):
    """Accuracy contract for the per-language MinHash estimate: a planted
    identical pair estimates EXACTLY 1.0 (every signature row agrees →
    that language's max_abs_err is 0), and a planted ~half-overlap pair's
    64-hash estimate lands inside a generous binomial noise band (its
    language's max_abs_err <= 0.35)."""
    import pandas as pd

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    # ~50% shingle overlap: share the first half of the token stream
    half_a = "one two three four five six seven eight"
    half_b = "one two three four five nine ten eleven"
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [dup, dup, half_a, half_b],
            "lang": ["en", "en", "fr", "fr"],
            "source": "s",
            "n_chars": 10,
        }
    ).to_parquet(tmp_path / "documents.parquet")

    from savio_training_dask_2019_spark.queries.textops import (
        q_grouped_minhash_sim,
    )

    got = {
        r["lang"]: (r["n_pairs"], r["mean_abs_err"], r["max_abs_err"])
        for r in q_grouped_minhash_sim(spark, str(tmp_path)).collect()
    }
    assert got["en"][0] == 1 and got["en"][2] == 0.0  # identical: exact 1.0
    if "fr" in got:  # banding keeps the mid-J pair with r=2 (~99%+)
        assert got["fr"][0] == 1
        assert got["fr"][2] <= 0.35


def test_single_source_parts_planted_risk(spark, tmp_path):
    """Hand-built supply graph: brand A's part 1 ships from one supplier
    (at risk, 3 dollars) and part 2 from two suppliers (safe, 5 dollars);
    brand B's part 3 is single-sourced (all revenue at risk). Shares are
    exact one-division ratios; a repeated (part, supplier) line must not
    inflate the supplier count."""
    import pandas as pd

    pd.DataFrame(
        {
            "p_partkey": [1, 2, 3],
            "p_brand": ["A", "A", "B"],
        }
    ).to_parquet(tmp_path / "part.parquet")
    rows = [
        (1, 10, 1.00), (1, 10, 2.00),        # part 1: supplier 10 only
        (2, 10, 2.00), (2, 11, 3.00),        # part 2: two suppliers
        (3, 12, 7.00),                        # part 3: single source
    ]
    pd.DataFrame(
        {
            "l_partkey": [r[0] for r in rows],
            "l_suppkey": [r[1] for r in rows],
            "l_extendedprice": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_single_source_parts,
    )

    got = {
        r["p_brand"]: (
            r["n_parts"], r["n_single_source"], r["at_risk_cents"],
            r["at_risk_share"],
        )
        for r in q_single_source_parts(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (2, 1, 300, round(300 / 800, 4)),
        "B": (1, 1, 700, 1.0),
    }


def test_langid_confusion_ties_to_fixture_lang_counts(spark, sf_dir):
    """Integration pin on real fixture data: every document lands in
    exactly one confusion cell, so per-true-language cell sums equal the
    corpus's lang counts, global totals match the doc count, and each
    true-language's row_shares sum to ~1."""
    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.textops import q_langid_confusion
    from savio_training_dask_2019_spark.sources import load_table

    rows = q_langid_confusion(spark, sf_dir).collect()
    by_true = defaultdict(lambda: [0, 0.0])
    for r in rows:
        by_true[r["true_lang"]][0] += r["n_docs"]
        by_true[r["true_lang"]][1] += r["row_share"]
    truth = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {t: v[0] for t, v in by_true.items()} == truth
    for t, (_n, share_sum) in by_true.items():
        assert abs(share_sum - 1.0) < 0.01, t  # 4-dp rounding per cell


def test_gini_by_segment_closed_forms(spark, tmp_path):
    """Two segments with closed-form Gini: EQUAL (three customers at 100
    dollars each -> gini 0, top-decile share 0 since n < 10) and WHALE
    (ten customers where one holds everything -> gini (n-1)/n = 0.9 and
    the decile cut isolates exactly the whale -> share 1). Multi-order
    customers must collapse to one ranked row first."""
    import pandas as pd

    segs = ["EQUAL"] * 3 + ["WHALE"] * 10
    pd.DataFrame(
        {
            "c_custkey": list(range(1, 14)),
            "c_mktsegment": segs,
        }
    ).to_parquet(tmp_path / "customer.parquet")
    # EQUAL: cust 1 pays in two orders (60 + 40), 2 and 3 in one each.
    rows = [(1, 60.0), (1, 40.0), (2, 100.0), (3, 100.0)]
    # WHALE: custs 4..12 spend 0-dollar orders, cust 13 spends 500.
    rows += [(k, 0.0) for k in range(4, 13)] + [(13, 500.0)]
    pd.DataFrame(
        {
            "o_custkey": [r[0] for r in rows],
            "o_totalprice": [r[1] for r in rows],
        }
    ).to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_gini_by_segment,
    )

    got = {
        r["segment"]: (
            r["n_customers"], r["total_rev"], r["gini"], r["top_decile_share"]
        )
        for r in q_gini_by_segment(spark, str(tmp_path)).collect()
    }
    assert got == {
        "EQUAL": (3, 300, 0.0, 0.0),
        "WHALE": (10, 500, 0.9, 1.0),
    }


def test_label_propagation_two_triangles(spark):
    """Two triangles joined by one bridge edge, self-loops included:
    3 deterministic rounds settle each triangle on its smallest member
    (1 and 4) and the bridge must not merge them."""
    from savio_training_dask_2019_spark.operators.graph import (
        label_propagation,
    )

    tri = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    rows = [(a, b) for a, b in tri] + [(b, a) for a, b in tri]
    rows += [(i, i) for i in range(1, 7)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r["id"]: r["lbl"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_lpa_communities_planted_cliques(spark, tmp_path):
    """Two disjoint trade groups: suppliers {1,2} x customers {1,2} and
    the lone pair supplier 3 / customer 3. LPA settles each group on its
    smallest node id (supplier1 -> node 2, supplier3 -> node 6) with the
    exact supplier/customer splits."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": [101, 102, 103],
            "o_custkey": [1, 2, 3],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [101, 101, 102, 102, 103],
            "l_suppkey": [1, 2, 1, 2, 3],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_lpa_communities,
    )

    got = {
        r["community"]: (r["n_nodes"], r["n_suppliers"], r["n_customers"])
        for r in q_lpa_communities(spark, str(tmp_path)).collect()
    }
    assert got == {2: (4, 2, 2), 6: (2, 1, 1)}


def test_feature_mi_perfect_and_independent(spark, tmp_path):
    """Closed-form MI: brand perfectly predicts the return flag on a
    50/50 target -> MI = H(Y) = 1 bit, uncertainty coefficient 1; type
    and size bucket are constant -> MI = 0, coefficient 0."""
    import pandas as pd

    pd.DataFrame(
        {
            "p_partkey": [1, 2],
            "p_brand": ["A", "B"],
            "p_type": ["T1", "T1"],
            "p_size": [1, 1],
        }
    ).to_parquet(tmp_path / "part.parquet")
    pd.DataFrame(
        {
            "l_partkey": [1, 1, 2, 2],
            "l_returnflag": ["R", "R", "N", "N"],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_feature_mi

    got = {
        r["feature"]: (
            r["n_vals"], r["n_rows"], r["mi_bits"], r["h_target_bits"],
            r["uncertainty_coef"],
        )
        for r in q_feature_mi(spark, str(tmp_path)).collect()
    }
    assert got == {
        "brand": (2, 4, 1.0, 1.0, 1.0),
        "type": (1, 4, 0.0, 1.0, 0.0),
        "size_bucket": (1, 4, 0.0, 1.0, 0.0),
    }


def test_monthly_churn_hand_ledger(spark, tmp_path):
    """Four-month ledger with a returning-after-gap customer (c3: Feb
    then Apr -> NOT retained in Apr) and a calendar gap (May empty, c5
    in Jun -> everyone active in Apr churns at the Jun row)."""
    import pandas as pd

    rows = [
        (1, "2024-01-05"), (2, "2024-01-09"),            # c1, c2
        (1, "2024-02-05"), (3, "2024-02-07"),            # c1, c3
        (1, "2024-03-05"),                                # c1
        (3, "2024-04-02"), (4, "2024-04-09"),            # c3, c4
        (5, "2024-06-15"),                                # c5 (gap at May)
    ]
    pd.DataFrame(
        {
            "o_custkey": [r[0] for r in rows],
            "o_orderdate": pd.Series(
                [pd.Timestamp(r[1]) for r in rows], dtype="datetime64[us]"
            ),
        }
    ).to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_monthly_churn,
    )

    got = {
        r["mi"] % 12: (r["n_active"], r["n_new"], r["n_retained"], r["n_churned"])
        for r in q_monthly_churn(spark, str(tmp_path)).collect()
    }
    # mi = year*12 + month -> 2024*12 + m; key by m for readability
    assert got == {
        1: (2, 2, 0, None),   # Jan: first row
        2: (2, 1, 1, 1),      # Feb: c2 churned
        3: (1, 0, 1, 1),      # Mar: c3 churned
        4: (2, 1, 0, 1),      # Apr: c1 churned; c3 returns but NOT retained
        6: (1, 1, 0, 2),      # Jun after the May gap: both Apr actives churn
    }


def test_info_gain_splits_pure_and_mixed(spark, tmp_path):
    """Perfect split: all returns at 1bp, none at 5bp -> IG exactly 1.0
    at threshold 1. With a mixed middle value the gains match a direct
    python entropy computation and the max row is the pure cut."""
    import math

    import pandas as pd

    def h(p, n):
        if p == 0 or p == n:
            return 0.0
        f = p / n
        return -f * math.log2(f) - (1 - f) * math.log2(1 - f)

    def ig(pl, nl, pt, nt):
        nr, pr = nt - nl, pt - pl
        return round(
            h(pt, nt) - (nl / nt) * h(pl, nl) - (nr / nt) * h(pr, nr), 5
        )

    rows = [(0.01, "R")] * 4 + [(0.03, "R"), (0.03, "N")] + [(0.05, "N")] * 4
    pd.DataFrame(
        {
            "l_discount": [r[0] for r in rows],
            "l_returnflag": [r[1] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_info_gain_splits,
    )

    got = {
        r["threshold_bp"]: (
            r["n_left"], r["pos_left"], r["n_right"], r["pos_right"],
            r["ig_bits"],
        )
        for r in q_info_gain_splits(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (4, 4, 6, 1, ig(4, 4, 5, 10)),
        3: (6, 5, 4, 0, ig(5, 6, 5, 10)),
    }
    # the argmax row (pinned here instead of a float ORDER BY in-query)
    assert max(got.items(), key=lambda kv: kv[1][4])[1][4] > 0.6


def test_mutual_nn_blocked_reciprocity(spark, tmp_path):
    """Block 0: v1 and v2 point the same way (mutual), v3's NN is v2 but
    v2's is v1 -> v3 is one-sided and excluded. Block 1: an identical
    pair is mutual at cosine 1.0, and its vectors are identical to v1
    yet NEVER pair across the block boundary."""
    import math

    import pandas as pd

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 0),
        (4, [1.0, 0.0], 1),
        (5, [1.0, 0.0], 1),
    ]
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "embeddings.parquet")

    from savio_training_dask_2019_spark.queries.vectorops import q_mutual_nn

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in q_mutual_nn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(1, 2), (4, 5)}
    assert got[(4, 5)] == 1.0
    assert got[(1, 2)] == round(0.9 / math.sqrt(0.82), 5)


def test_supplier_return_ci_wilson_hand_values(spark, tmp_path):
    """Wilson 95% bounds against a direct python evaluation: the 1/1
    supplier's lower bound falls BELOW the 40/100 supplier's (the
    small-sample honesty the raw rate gets backwards), and a 0/4
    supplier keeps a lower bound of exactly 0."""
    import math

    import pandas as pd

    def wilson(k, n, z=1.96):
        p = k / n
        denom = 1.0 + z * z / n
        center = (p + z * z / (2.0 * n)) / denom
        half = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)) / denom
        return round(center - half, 4), round(center + half, 4)

    rows = [(1, "R")] * 1 + [(2, "R")] * 40 + [(2, "N")] * 60 + [(3, "N")] * 4
    pd.DataFrame(
        {
            "l_suppkey": [r[0] for r in rows],
            "l_returnflag": [r[1] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_supplier_return_ci,
    )

    got = {
        r["l_suppkey"]: (r["n"], r["k"], r["rate"], r["wilson_lo"],
                         r["wilson_hi"])
        for r in q_supplier_return_ci(spark, str(tmp_path)).collect()
    }
    assert got[1] == (1, 1, 1.0, *wilson(1, 1))
    assert got[2] == (100, 40, 0.4, *wilson(40, 100))
    assert got[3] == (4, 0, 0.0, *wilson(0, 4))
    assert got[1][3] < got[2][3]  # 1/1's lower bound below 40/100's
    assert got[3][3] == 0.0


def test_centroid_eval_hand_split(spark, tmp_path):
    """Even ids train (label 0 -> sum [2000, 0]; label 1 -> [0, 1000]),
    odd ids test: an on-axis vector scores 1.0 with its own centroid, a
    cross-axis vector is misclassified -> accuracies 0.5 and 1.0."""
    import pandas as pd

    rows = [
        (0, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (4, [0.0, 1.0], 1),  # train
        (1, [0.9, 0.1], 0),   # -> label 0, correct
        (3, [0.0, 1.0], 0),   # -> label 1, wrong
        (5, [0.1, 0.9], 1),   # -> label 1, correct
    ]
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "embeddings.parquet")

    from savio_training_dask_2019_spark.queries.vectorops import (
        q_centroid_eval,
    )

    got = {
        r["true_label"]: (r["n_test"], r["n_correct"], r["accuracy"])
        for r in q_centroid_eval(spark, str(tmp_path)).collect()
    }
    assert got == {0: (2, 1, 0.5), 1: (1, 1, 1.0)}


def test_below_avg_qty_integer_threshold(spark, tmp_path):
    """Part 1: quantities 1, 10, 10 (avg 7) -> only qty 1 is below 20%
    of the average (1 < 1.4); the STRICT boundary is pinned by part 2
    where qty 2 sits exactly AT 20% of avg 10 (5*200*3 = 3000 = sum_q)
    and must NOT count."""
    import pandas as pd

    rows = [
        (1, 1.0, 100.0), (1, 10.0, 100.0), (1, 10.0, 100.0),
        (2, 2.0, 50.0), (2, 8.0, 50.0), (2, 20.0, 50.0),  # avg 10
    ]
    pd.DataFrame(
        {
            "l_partkey": [r[0] for r in rows],
            "l_quantity": [r[1] for r in rows],
            "l_extendedprice": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    pd.DataFrame(
        {"p_partkey": [1, 2], "p_brand": ["A", "B"]}
    ).to_parquet(tmp_path / "part.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_below_avg_qty,
    )

    got = {
        r["p_brand"]: (r["n_lines"], r["n_small"], r["small_rev_cents"],
                       r["small_share"])
        for r in q_below_avg_qty(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (3, 1, 10000, round(1 / 3, 4)),
        "B": (3, 0, 0, 0.0),
    }


def test_degree_assortativity_star_and_regular(spark, tmp_path):
    """A star (one supplier, three customers) is perfectly
    disassortative: every edge joins degree 3 to degree 1 -> r = -1.
    A complete 2x2 bipartite graph is 2-regular -> zero degree variance
    -> NULL."""
    import pandas as pd

    star = tmp_path / "star"
    star.mkdir()
    pd.DataFrame(
        {"o_orderkey": [1, 2, 3], "o_custkey": [1, 2, 3]}
    ).to_parquet(star / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3], "l_suppkey": [1, 1, 1]}
    ).to_parquet(star / "lineitem.parquet")

    reg = tmp_path / "reg"
    reg.mkdir()
    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4], "o_custkey": [1, 1, 2, 2]}
    ).to_parquet(reg / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3, 4], "l_suppkey": [1, 2, 1, 2]}
    ).to_parquet(reg / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_degree_assortativity,
    )

    r = q_degree_assortativity(spark, str(star)).collect()[0]
    assert (r["n_edges"], r["assortativity"]) == (6, -1.0)
    r = q_degree_assortativity(spark, str(reg)).collect()[0]
    assert (r["n_edges"], r["assortativity"]) == (8, None)


def test_waiting_suppliers_blame_logic(spark, tmp_path):
    """Q21 semantics on planted orders: credit only in multi-supplier
    orders with EXACTLY ONE late supplier; single-supplier and
    everyone-late orders are excluded, and day +60 exactly is NOT late
    (strict >)."""
    import pandas as pd

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3, 4, 5],
            "o_orderdate": pd.Series(
                [pd.Timestamp("2024-01-01")] * 5, dtype="datetime64[us]"
            ),
        }
    )
    # (orderkey, suppkey, shipdate): +60d boundary = 2024-03-01
    lines = [
        (1, 1, "2024-03-02"), (1, 2, "2024-01-10"),  # S1 late alone -> credit
        (2, 1, "2024-03-02"), (2, 2, "2024-03-05"),  # both late -> excluded
        (3, 3, "2024-03-02"),                        # single-supplier -> excluded
        (4, 2, "2024-04-01"), (4, 3, "2024-01-05"),  # S2 late alone -> credit
        (5, 3, "2024-03-01"), (5, 1, "2024-01-02"),  # boundary: NOT late
    ]
    orders.to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [r[0] for r in lines],
            "l_suppkey": [r[1] for r in lines],
            "l_shipdate": pd.Series(
                [pd.Timestamp(r[2]) for r in lines], dtype="datetime64[us]"
            ),
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    pd.DataFrame(
        {"s_suppkey": [1, 2, 3], "s_name": ["S1", "S2", "S3"]}
    ).to_parquet(tmp_path / "supplier.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_waiting_suppliers,
    )

    got = [
        (r["s_suppkey"], r["s_name"], r["numwait"])
        for r in q_waiting_suppliers(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, "S1", 1), (2, "S2", 1)]  # tie broken by suppkey


def test_idle_customers_strict_average_and_recency(spark, tmp_path):
    """Segment A: avg positive balance 2000c — the 2000c customer sits AT
    the average (strict > excludes), the 3000c customer is above but
    ordered recently (anti-joined away) -> no A row. Segment B: the
    300c customer is above the 200c average and last ordered in 2000 ->
    the one idle row. Negative balances stay out of the average."""
    import pandas as pd

    pd.DataFrame(
        {
            "c_custkey": [1, 2, 3, 4, 5, 6],
            "c_mktsegment": ["A", "A", "A", "A", "B", "B"],
            "c_acctbal": [10.00, 20.00, 30.00, -5.00, 1.00, 3.00],
        }
    ).to_parquet(tmp_path / "customer.parquet")
    pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_custkey": [3, 6],
            "o_orderdate": pd.Series(
                [
                    pd.Timestamp("2001-02-01"),  # cust 3: recent -> excluded
                    pd.Timestamp("2000-12-31"),  # cust 6: old -> still idle
                ],
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp_path / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_idle_customers,
    )

    got = [
        (r["c_mktsegment"], r["n_custs"], r["total_cents"], r["avg_bal"])
        for r in q_idle_customers(spark, str(tmp_path)).collect()
    ]
    assert got == [("B", 1, 300, 3.0)]


def test_auc_by_type_hand_pairs(spark, tmp_path):
    """Group F: pos scores {30, 20}, neg {10, 20} -> pairwise wins
    1 + 1 + 1 + 0.5 tie = 3.5 of 4 -> AUC 0.875 (the tie handled by
    average ranks). Group O: perfect separation -> AUC 1.0."""
    import pandas as pd

    rows = [  # (linestatus, returnflag, extendedprice)
        ("F", "R", 0.30), ("F", "R", 0.20), ("F", "N", 0.10), ("F", "N", 0.20),
        ("O", "R", 1.00), ("O", "N", 0.01),
    ]
    pd.DataFrame(
        {
            "l_linestatus": [r[0] for r in rows],
            "l_returnflag": [r[1] for r in rows],
            "l_extendedprice": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_auc_by_type

    got = {
        r["l_linestatus"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in q_auc_by_type(spark, str(tmp_path)).collect()
    }
    assert got == {"F": (2, 2, 0.875), "O": (1, 1, 1.0)}


def test_welch_ttest_python_reference(spark, tmp_path):
    """Two event types with hand-set values; each row's t and df checked
    against a direct python Welch computation on the same cents."""
    import pandas as pd

    a = [1.00, 2.00, 3.00, 4.00]
    b = [2.00, 4.00, 6.00]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": 1,
            "event_type": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "props": "{}",
        }
    ).to_parquet(tmp_path / "events.parquet")

    def welch(xs, ys):
        n1, n2 = len(xs), len(ys)
        m1, m2 = sum(xs) / n1, sum(ys) / n2
        v1 = sum((x - m1) ** 2 for x in xs) / (n1 - 1)
        v2 = sum((y - m2) ** 2 for y in ys) / (n2 - 1)
        se2 = v1 / n1 + v2 / n2
        t = (m1 - m2) / se2**0.5
        df = se2**2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
        return round(t, 4), round(df, 2)

    ac = [v * 100 for v in a]
    bc = [v * 100 for v in b]

    from savio_training_dask_2019_spark.queries.relational import q_welch_ttest

    got = {
        r["event_type"]: (r["n"], r["mean_val"], r["t_welch"], r["df_welch"])
        for r in q_welch_ttest(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (4, round(sum(a) / 4, 4), *welch(ac, bc)),
        "B": (3, round(sum(b) / 3, 4), *welch(bc, ac)),
    }


def test_spearman_corr_monotone_and_degenerate(spark, tmp_path):
    """y = x^2 (monotone, nonlinear) -> rho exactly 1; y = -x -> -1;
    constant y -> NULL via the exact zero-variance guard (where Pearson
    on ranks would hit 0/0)."""
    import pandas as pd

    rows = []
    for i in range(1, 6):
        rows.append(("N", float(i), i * i / 10000.0))  # y = x^2
        rows.append(("A", float(i), (10 - i) / 1000.0))  # y decreasing in x
        rows.append(("R", float(i), 0.05))  # constant y
    pd.DataFrame(
        {
            "l_returnflag": [r[0] for r in rows],
            "l_quantity": [r[1] for r in rows],
            "l_discount": [r[2] for r in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_spearman_corr,
    )

    got = {
        r["l_returnflag"]: (r["n"], r["rho_spearman"])
        for r in q_spearman_corr(spark, str(tmp_path)).collect()
    }
    assert got == {"N": (5, 1.0), "A": (5, -1.0), "R": (5, None)}


def _write_trade_edges(tmp_path, edges):
    """edges: (custkey, suppkey) pairs materialized as one order per edge."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": range(len(edges)),
            "o_custkey": [c for c, _ in edges],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": range(len(edges)),
            "l_suppkey": [s for _, s in edges],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")


def test_resource_alloc_hand_scores(spark, tmp_path):
    """Shared customers 10 (deg 2), 20 (deg 3), 30 (deg 2): pair (1,2)
    scores 1e6//2 + 1e6//3, pair (2,3) the same sum from different
    customers, pair (1,3) only the deg-3 customer; the degree-1
    customer 40 contributes to NO pair; jaccard uses each side's own
    degree."""
    _write_trade_edges(
        tmp_path,
        [(10, 1), (10, 2), (20, 1), (20, 2), (20, 3), (30, 2), (30, 3),
         (40, 1)],
    )
    from savio_training_dask_2019_spark.queries.relational import (
        q_resource_alloc,
    )

    got = [
        (r["s1"], r["s2"], r["n_common"], r["jaccard"], r["ra_micro"])
        for r in q_resource_alloc(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (1, 2, 2, 0.5, 500000 + 333333),
        (2, 3, 2, round(2 / 3, 5), 333333 + 500000),
        (1, 3, 1, 0.25, 333333),
    ]


def test_random_walks_matches_python_reference(spark, tmp_path):
    """Every walk reproduced by a direct python implementation of the
    same indexed-adjacency + LCG-mod pick; every hop must be a real
    neighbor of the previous node."""
    import random

    rng = random.Random(7)
    edges = sorted({(rng.randint(100, 109), rng.randint(1, 6))
                    for _ in range(25)})
    _write_trade_edges(tmp_path, edges)

    sc, cs = {}, {}
    for c, s in edges:
        sc.setdefault(s, []).append(c)
        cs.setdefault(c, []).append(s)
    for v in sc.values():
        v.sort()
    for v in cs.values():
        v.sort()

    def pick(adj, node, walk, step):
        nbrs = adj[node]
        h = (node * 1103515245 + walk * 12345 + step * 2531011) % 2147483648
        return nbrs[h % len(nbrs)]

    want = {}
    for s0 in sorted(sc):
        for w in (0, 1):
            c1 = pick(sc, s0, w, 1)
            s2 = pick(cs, c1, w, 2)
            c3 = pick(sc, s2, w, 3)
            want[(s0, w)] = (c1, s2, c3, f"{s0}>{c1}>{s2}>{c3}")

    from savio_training_dask_2019_spark.queries.relational import (
        q_random_walks,
    )

    got = {
        (r["start_s"], r["walk"]): (r["hop1_c"], r["hop2_s"], r["hop3_c"],
                                    r["path"])
        for r in q_random_walks(spark, str(tmp_path)).collect()
    }
    assert got == want
    for (s0, _w), (c1, s2, c3, _p) in got.items():
        assert c1 in sc[s0] and s2 in cs[c1] and c3 in sc[s2]


def test_trimmed_mean_hand_values(spark, tmp_path):
    """Ten values with one whale at each end: k = 1 drops 1 and 1000 ->
    trimmed mean of the middle eight; winsorized clamps the whales to
    2 and 9. A 9-value group has k = 0 -> both means collapse to the
    plain mean."""
    import pandas as pd

    a = [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]  # dollars
    b = [1, 2, 3, 4, 5, 6, 7, 8, 100]      # n=9 -> k=0
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    pd.DataFrame(
        {
            "l_returnflag": [g for g, _ in rows],
            "l_extendedprice": [float(v) for _, v in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_trimmed_mean

    got = {
        r["l_returnflag"]: (r["n"], r["n_trimmed_each_side"],
                            r["trimmed_mean"], r["winsorized_mean"])
        for r in q_trimmed_mean(spark, str(tmp_path)).collect()
    }
    mid8 = sum([2, 3, 4, 5, 6, 7, 8, 9]) / 8
    wins = (sum([2, 3, 4, 5, 6, 7, 8, 9]) + 2 + 9) / 10
    assert got == {
        "A": (10, 1, round(mid8, 4), round(wins, 4)),
        "B": (9, 0, round(sum(b) / 9, 4), round(sum(b) / 9, 4)),
    }


def test_simpsons_check_textbook_paradox(spark, tmp_path):
    """Both groups trend UP within themselves (+1 cents/bp) while the
    pooled cloud trends DOWN (group B sits at high x, low y) -> both
    rows flag the paradox; a constant-x group gets NULL within-slope
    and no flag."""
    import pandas as pd

    #        g    x(bp) y(cents)
    rows = [("A", 0, 1000), ("A", 1, 1001),
            ("B", 8, 0), ("B", 9, 1),
            ("C", 5, 77), ("C", 5, 999)]  # constant x -> NULL
    pd.DataFrame(
        {
            "l_returnflag": [g for g, _, _ in rows],
            "l_discount": [x / 10000.0 for _, x, _ in rows],
            "l_extendedprice": [y / 100.0 for _, _, y in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    def ols(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        return round(
            (float(n) * float(sxy) - float(sx) * float(sy))
            / (float(n) * float(sxx) - float(sx) * float(sx)),
            6,
        )

    pooled = ols([(x, y) for _, x, y in rows])
    assert pooled < 0  # the paradox is real in the fixture

    from savio_training_dask_2019_spark.queries.relational import (
        q_simpsons_check,
    )

    got = {
        r["l_returnflag"]: (r["n"], r["slope_within"], r["slope_pooled"],
                            r["simpson_flag"])
        for r in q_simpsons_check(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (2, 1.0, pooled, True),
        "B": (2, 1.0, pooled, True),
        "C": (2, None, pooled, False),
    }


def test_welch_ttest_degenerate_slices_null(spark, tmp_path):
    """A lone event type (empty complement), a 1-row side, and an
    all-constant corpus must all yield NULL t/df instead of a
    divide-by-zero artifact; the mean still reports."""
    import pandas as pd

    def write(d, rows):
        d.mkdir(exist_ok=True)
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.Timestamp("2024-01-01"),
                "user_id": 1,
                "event_type": [t for t, _ in rows],
                "value": [v for _, v in rows],
                "props": "{}",
            }
        ).to_parquet(d / "events.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_welch_ttest

    lone = tmp_path / "lone"
    write(lone, [("A", 1.0), ("A", 2.0), ("A", 3.0)])
    [r] = q_welch_ttest(spark, str(lone)).collect()
    assert (r["event_type"], r["n"], r["mean_val"], r["t_welch"],
            r["df_welch"]) == ("A", 3, 2.0, None, None)

    tiny = tmp_path / "tiny"
    write(tiny, [("A", 1.0), ("A", 2.0), ("B", 5.0)])  # B side n=1
    got = {r["event_type"]: (r["t_welch"], r["df_welch"])
           for r in q_welch_ttest(spark, str(tiny)).collect()}
    assert got == {"A": (None, None), "B": (None, None)}

    const = tmp_path / "const"
    write(const, [("A", 5.0), ("A", 5.0), ("B", 5.0), ("B", 5.0)])
    got = {r["event_type"]: (r["t_welch"], r["df_welch"])
           for r in q_welch_ttest(spark, str(const)).collect()}
    assert got == {"A": (None, None), "B": (None, None)}


def test_weighted_walks_matches_python_reference(spark, tmp_path):
    """Every weighted walk reproduced by a direct python CDF-range pick
    over the same cumulative cents; a dominant-weight neighbor must win
    both walks where a uniform pick would spread."""
    import pandas as pd

    # (custkey, suppkey, cents): supplier 1's edge to customer 200
    # carries ~all its weight
    edges = [
        (100, 1, 1), (200, 1, 10_000), (300, 1, 1),
        (100, 2, 500), (200, 2, 500),
        (300, 3, 7), (100, 3, 3),
    ]
    pd.DataFrame(
        {
            "o_orderkey": range(len(edges)),
            "o_custkey": [c for c, _, _ in edges],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": range(len(edges)),
            "l_suppkey": [s for _, s, _ in edges],
            "l_extendedprice": [cents / 100.0 for _, _, cents in edges],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.relational import (
        q_weighted_walks,
    )

    sc = defaultdict(list)  # s -> [(c, w)] sorted by c
    cs = defaultdict(list)
    for c, s, w in edges:
        sc[s].append((c, w))
        cs[c].append((s, w))
    for v in sc.values():
        v.sort()
    for v in cs.values():
        v.sort()

    M = 2305843009213693952

    def pick(adj, node, wk, step):
        h = (node * 1103515245 + wk * 12345 + step * 2531011) % M
        r = h % sum(w for _, w in adj[node])
        cum = 0
        for nbr, w in adj[node]:
            cum += w
            if r < cum:
                return nbr
        raise AssertionError("r outside total")

    want = {}
    for s0 in sorted(sc):
        for wk in (0, 1):
            c1 = pick(sc, s0, wk, 1)
            s2 = pick(cs, c1, wk, 2)
            c3 = pick(sc, s2, wk, 3)
            want[(s0, wk)] = (c1, s2, c3)

    got = {
        (r["start_s"], r["walk"]): (r["hop1_c"], r["hop2_s"], r["hop3_c"])
        for r in q_weighted_walks(spark, str(tmp_path)).collect()
    }
    assert got == want
    # the 10000/1/1 edge dominates: both of supplier 1's walks go to 200
    assert got[(1, 0)][0] == 200 and got[(1, 1)][0] == 200


def test_hits_scores_matches_python_power_iteration(spark, tmp_path):
    """Two exact HITS rounds vs a python power iteration on a planted
    bipartite graph; the hub attached to the shared (high-authority)
    customers must outrank an equal-degree hub on exclusive customers."""
    import random
    from collections import defaultdict

    import pandas as pd

    rng = random.Random(11)
    edges = sorted({(rng.randint(100, 111), rng.randint(1, 5))
                    for _ in range(30)})
    # planted contrast: hubs 8 and 9 both have degree 2, but 8's
    # customers are shared by everyone (high authority), 9's are private
    edges += [(100, 8), (101, 8), (900, 9), (901, 9)]
    edges = sorted(set(edges))
    pd.DataFrame(
        {"o_orderkey": range(len(edges)), "o_custkey": [c for c, _ in edges]}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": range(len(edges)), "l_suppkey": [s for _, s in edges]}
    ).to_parquet(tmp_path / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_hits_scores

    sc = defaultdict(set)
    cs = defaultdict(set)
    for c, s in edges:
        sc[s].add(c)
        cs[c].add(s)
    h = {s: 1 for s in sc}
    for _ in range(2):
        a = {c: sum(h[s] for s in cs[c]) for c in cs}
        h = {s: sum(a[c] for c in sc[s]) for s in sc}
    want = sorted(
        ((s, h[s], len(sc[s])) for s in sc), key=lambda t: (-t[1], t[0])
    )[:20]

    got = [
        (r["s_suppkey"], r["hub_score"], r["n_customers"])
        for r in q_hits_scores(spark, str(tmp_path)).collect()
    ]
    assert got == want
    scores = dict((s, hv) for s, hv, _ in got)
    assert scores[8] > scores[9]  # shared customers beat private ones
