"""Property-based differential tests (SURVEY.md §5.3): hypothesis-generated
filter + aggregation combinations over lineitem must agree between Spark and
DuckDB — the net that catches null/type-coercion semantics drift (integer
division, null ordering, boundary comparisons) that hand-written queries
miss.

Settings are deliberately small (each example runs a Spark job + a DuckDB
query); determinism comes from derandomize=True.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from savio_training_dask_2019_spark.sources import load_table
from tests.conftest import SF_DIR

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
KEY_COLS = ["l_returnflag", "l_linestatus"]
CMP_OPS = ["<", "<=", ">", ">=", "="]

filters = st.tuples(
    st.sampled_from(NUM_COLS),
    st.sampled_from(CMP_OPS),
    st.floats(min_value=0.0, max_value=60.0, allow_nan=False, allow_infinity=False),
)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(f=filters, key=st.sampled_from(KEY_COLS), agg_col=st.sampled_from(NUM_COLS))
def test_filter_agg_matches_duckdb(f, key, agg_col, spark, duck):
    col, op, threshold = f
    threshold = round(threshold, 3)

    li = load_table(spark, SF_DIR, "lineitem")
    spark_ops = {"<": "__lt__", "<=": "__le__", ">": "__gt__", ">=": "__ge__", "=": "__eq__"}
    pred = getattr(F.col(col), spark_ops[op])(F.lit(threshold))
    sdf = (
        li.filter(pred)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(agg_col), 2).alias("s"),
            F.round(F.avg(agg_col), 4).alias("a"),
        )
        .toPandas()
    )

    odf = duck.execute(
        f"""SELECT {key}, count(*) AS n, round(sum({agg_col}), 2) AS s,
                   round(avg({agg_col}), 4) AS a
            FROM lineitem WHERE {col} {op} {threshold}
            GROUP BY {key}"""
    ).df()

    s = {tuple(r) for r in sdf.itertuples(index=False, name=None)}
    o = {tuple(r) for r in odf.itertuples(index=False, name=None)}
    assert s == o, f"{col} {op} {threshold} group {key} agg {agg_col}: {s ^ o}"


# --- connected components vs a union-find reference -------------------------

edge_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
    min_size=1,
    max_size=25,
).filter(lambda es: any(a != b for a, b in es))


def _uf_clusters(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_connected_components_matches_union_find(edges, spark):
    """Min-label propagation over arbitrary hypothesis-generated graphs
    (self-loops, duplicate edges, multiple components, chains) must agree
    with a driver-side union-find on every node's cluster id."""
    from savio_training_dask_2019_spark.operators import connected_components

    edges = [(a, b) for a, b in edges if a != b]  # drop self-loops, like pairs do
    if not edges:
        return
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == _uf_clusters(edges)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_connected_components_star_matches_union_find(edges, spark):
    """The large-star/small-star variant must satisfy the same union-find
    contract as propagation on arbitrary hypothesis-generated graphs."""
    from savio_training_dask_2019_spark.operators import connected_components_star

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["cluster_id"] for r in connected_components_star(df).collect()
    }
    assert got == _uf_clusters(edges)


# --- join parity ------------------------------------------------------------

key_ranges = st.tuples(
    st.integers(min_value=0, max_value=1000),
    st.integers(min_value=0, max_value=4000),
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(kr=key_ranges, how=st.sampled_from(["inner", "left_semi", "left_anti"]))
def test_filtered_join_matches_duckdb(kr, how, spark, duck):
    """customer⋈orders under hypothesis-chosen key-range filters must agree
    with DuckDB for inner/semi/anti — join-type semantics at the boundary
    (empty sides, no matches, full overlap) included."""
    lo, hi = min(kr), max(kr)
    c = load_table(spark, SF_DIR, "customer").filter(F.col("c_custkey").between(lo, hi))
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    if how == "inner":
        sdf = c.join(o, "c_custkey").groupBy("c_custkey").count()
        sql = f"""SELECT c_custkey, count(*) AS count FROM customer
                  JOIN orders ON o_custkey = c_custkey
                  WHERE c_custkey BETWEEN {lo} AND {hi} GROUP BY 1"""
    elif how == "left_semi":
        sdf = c.join(o, "c_custkey", "left_semi").select("c_custkey")
        sql = f"""SELECT c_custkey FROM customer
                  WHERE c_custkey BETWEEN {lo} AND {hi}
                  AND c_custkey IN (SELECT o_custkey FROM orders)"""
    else:
        sdf = c.join(o, "c_custkey", "left_anti").select("c_custkey")
        sql = f"""SELECT c_custkey FROM customer
                  WHERE c_custkey BETWEEN {lo} AND {hi}
                  AND c_custkey NOT IN (SELECT o_custkey FROM orders)"""
    s = sorted(tuple(r) for r in sdf.collect())
    o_rows = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert s == o_rows, f"{how} {lo}-{hi}"


# --- window-function parity -------------------------------------------------

_WIN_FNS = ["row_number", "rank", "dense_rank", "lag", "running_sum"]


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fn=st.sampled_from(_WIN_FNS),
    part=st.sampled_from(["o_orderstatus", "o_orderpriority"]),
    order=st.sampled_from(["o_totalprice", "o_orderdate"]),
    desc=st.booleans(),
)
def test_window_functions_match_duckdb(fn, part, order, desc, spark, duck):
    """Hypothesis-chosen window function × partition × (possibly tied)
    order column must agree with DuckDB — the drift net for tie handling,
    frame defaults, and lag NULL boundaries. o_orderkey is appended as a
    unique tie-break so both engines rank deterministically."""
    from pyspark.sql import Window

    o = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderkey") <= 3000)
    ocol = F.col(order).desc() if desc else F.col(order).asc()
    w = Window.partitionBy(part).orderBy(ocol, F.col("o_orderkey"))
    if fn == "lag":
        expr = F.lag("o_totalprice", 1).over(w)
    elif fn == "running_sum":
        expr = F.round(F.sum("o_totalprice").over(w), 2)
    else:
        expr = getattr(F, fn)().over(w)
    sdf = o.select("o_orderkey", expr.alias("v"))

    dir_sql = "DESC" if desc else "ASC"
    if fn == "lag":
        call = "lag(o_totalprice, 1) OVER w"
    elif fn == "running_sum":
        call = "round(sum(o_totalprice) OVER w, 2)"
    else:
        call = f"{fn}() OVER w"
    sql = f"""SELECT o_orderkey, {call} AS v FROM orders
              WHERE o_orderkey <= 3000
              WINDOW w AS (PARTITION BY {part}
                           ORDER BY {order} {dir_sql}, o_orderkey)"""
    s = sorted(tuple(r) for r in sdf.collect())
    d = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert s == d, f"{fn} over {part}/{order} {dir_sql}"


# --- dedup operators vs pure-Python references --------------------------------

# Tiny alphabet + short docs force duplicated windows and hash-group ties —
# the regimes where keep-first ordering and interval merging can drift.
_words = st.sampled_from(["aa", "bb", "cc"])
_doc_texts = st.lists(_words, min_size=0, max_size=12).map(" ".join)
_corpora = st.lists(_doc_texts, min_size=1, max_size=8)


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpora, span_w=st.sampled_from([2, 3]))
def test_substring_dup_removal_matches_python(texts, span_w, spark):
    """Operator == reference: global keep-first rank over (id, pos), mark
    non-first duplicated-window ranges, merge overlaps per doc."""
    from savio_training_dask_2019_spark.operators import substring_dup_removal

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["id"]: (r["n_tok"], r["removed"])
        for r in substring_dup_removal(df, "text", "doc_id", span_w=span_w).collect()
    }

    first_seen: set[str] = set()
    ranges: dict[int, list] = {}
    n_tok: dict[int, int] = {}
    for did, text in sorted(enumerate(texts)):
        tk = text.split()
        if len(tk) < span_w:
            continue
        n_tok[did] = len(tk)
        for i in range(len(tk) - span_w + 1):
            s = " ".join(tk[i : i + span_w])
            if s in first_seen:
                ranges.setdefault(did, []).append((i + 1, i + span_w))
            else:
                first_seen.add(s)
    want = {}
    for did, rs in ranges.items():
        rs.sort()
        removed, cs, ce = 0, None, None
        for s, e in rs:
            if ce is None or s > ce:
                if ce is not None:
                    removed += ce - cs + 1
                cs, ce = s, e
            else:
                ce = max(ce, e)
        removed += ce - cs + 1
        want[did] = (n_tok[did], removed)
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(_doc_texts, st.integers(min_value=0, max_value=3)),
        min_size=1,
        max_size=10,
    )
)
def test_keep_best_by_hash_matches_python(rows, spark):
    """Operator == reference argmax by (score desc, id asc) per exact text
    group, with first_id = min id and divergence flagged."""
    from savio_training_dask_2019_spark.operators import keep_best_by_hash

    data = [(i, t, float(sc)) for i, (t, sc) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "text", "score"])
    got = {
        r["keep_id"]: (r["n_copies"], r["kept_score"], r["first_id"], r["policy_diverges"])
        for r in keep_best_by_hash(
            df, "text", "doc_id", score=F.col("score"), normalize=False
        ).collect()
    }
    groups: dict[str, list] = {}
    for i, t, sc in data:
        groups.setdefault(t, []).append((i, sc))
    want = {}
    for members in groups.values():
        keep_id, keep_sc = min(members, key=lambda m: (-m[1], m[0]))
        first_id = min(m[0] for m in members)
        want[keep_id] = (len(members), keep_sc, first_id, keep_id != first_id)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    costs=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    block=st.sampled_from([2, 3, 2048]),
    sparse=st.booleans(),
)
def test_pack_offsets_match_python_cumsum(costs, block, sparse, spark):
    """The three-level cascade == a plain Python exclusive cumsum in id
    order, for any block size, including SPARSE ids (id DIV B blocks may
    be empty or ragged — the cascade must not assume dense ids)."""
    from savio_training_dask_2019_spark.operators import pack_offsets

    ids = [i * 7 + 3 for i in range(len(costs))] if sparse else list(range(len(costs)))
    df = spark.createDataFrame(list(zip(ids, costs)), "doc_id long, cost long")
    got = {
        r["doc_id"]: r["offset"]
        for r in pack_offsets(df, "doc_id", "cost", block=block).collect()
    }
    acc, want = 0, {}
    for i, c in sorted(zip(ids, costs)):
        want[i] = acc
        acc += c
    assert got == want


_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user_id (small key space)
        st.sampled_from(["a", "b"]),                # event_type
        st.integers(min_value=0, max_value=4000),   # seconds offset
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=_events, lag=st.sampled_from([60, 900]))
def test_debounce_matches_python(evs, lag, spark):
    """Operator == reference: per (user, type) in (ts, event_id) order, keep
    a row iff the previous OBSERVED same-key row is more than lag seconds
    older (strict)."""
    import datetime as dt

    from savio_training_dask_2019_spark.streaming.windows import debounce

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, e, t0 + dt.timedelta(seconds=s)) for i, (u, e, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = sorted(
        r["event_id"]
        for r in debounce(
            df, keys=("user_id", "event_type"), ts="ts",
            lag_seconds=lag, order_tiebreak="event_id",
        ).collect()
    )

    want = []
    prev: dict[tuple, dt.datetime] = {}
    for eid, u, e, ts in sorted(rows, key=lambda r: (r[1], r[2], r[3], r[0])):
        k = (u, e)
        if k not in prev or (ts - prev[k]).total_seconds() > lag:
            want.append(eid)
        prev[k] = ts  # previous OBSERVED, kept or not
    assert got == sorted(want)


# Integer-component vectors: dot products and norms are exact in float64
# regardless of summation order, so Spark's sequential fold, numpy, and
# DuckDB agree bit-for-bit — the property can assert full equality.
_vec_sets = st.lists(
    st.lists(st.integers(min_value=-3, max_value=3), min_size=6, max_size=6),
    min_size=8,
    max_size=24,
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_vec_sets)
def test_cell_knn_join_matches_python(vecs, spark):
    """Operator == reference: cells = argmax rounded cosine vs centroid
    (ties to smallest cid), probes take the top-nprobe cells, candidates
    join within cells only, top-k per query by (cosine desc, corpus_id)."""
    import math

    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.operators.similarity import cell_knn_join

    # zero vectors stay: the operator clamps norms (ADVICE r8), so an
    # all-zero embedding scores cosine 0.0 everywhere instead of NULL
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent_ids = [i for i in range(len(vecs)) if i % 5 == 0]
    query_ids = [i for i in range(len(vecs)) if i % 3 == 0]
    cents = df.where(F.col("vec_id").isin(cent_ids)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    got = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in cell_knn_join(
            df.where(F.col("vec_id").isin(query_ids)), df, cents,
            "embedding", "vec_id", k=2, nprobe=2, exclude_self=True,
        ).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = max(math.sqrt(sum(x * x for x in a)), 1e-12)  # operator's clamp
        nb = max(math.sqrt(sum(y * y for y in b)), 1e-12)
        return d / (na * nb)

    def cell_of(v):
        return min(cent_ids, key=lambda c: (-round(cos(v, vecs[c]), 5), c))

    assigned = {i: cell_of(v) for i, v in enumerate(vecs)}
    want = set()
    for q in query_ids:
        ranked = sorted(cent_ids, key=lambda c: (-round(cos(vecs[q], vecs[c]), 5), c))
        probes = set(ranked[:2])
        cands = [
            c for c in range(len(vecs)) if c != q and assigned[c] in probes
        ]
        top = sorted(
            cands, key=lambda c: (-round(cos(vecs[q], vecs[c]), 5), c)
        )[:2]
        want |= {(q, c, round(cos(vecs[q], vecs[c]), 5)) for c in top}
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpora, span_w=st.sampled_from([2, 3]))
def test_substring_dup_scrub_matches_python(texts, span_w, spark):
    """The document RECONSTRUCTION must equal the reference: rebuild each
    touched doc from the tokens outside its merged keep-first duplicate
    spans (a fully-duplicated doc comes back empty)."""
    from savio_training_dask_2019_spark.operators import substring_dup_scrub

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["id"]: (r["n_tok"], r["removed"], r["scrubbed_text"])
        for r in substring_dup_scrub(df, "text", "doc_id", span_w=span_w).collect()
    }

    first_seen: set[str] = set()
    covered: dict[int, set] = {}
    toks: dict[int, list] = {}
    for did, text in sorted(enumerate(texts)):
        tk = text.split()
        if len(tk) < span_w:
            continue
        toks[did] = tk
        for i in range(len(tk) - span_w + 1):
            s = " ".join(tk[i : i + span_w])
            if s in first_seen:
                covered.setdefault(did, set()).update(range(i, i + span_w))
            else:
                first_seen.add(s)
    want = {}
    for did, cov in covered.items():
        tk = toks[did]
        kept = [t for i, t in enumerate(tk) if i not in cov]
        want[did] = (len(tk), len(cov), " ".join(kept))
    assert got == want


# --- Bloom pre-filter: exactness under arbitrary corpora ----------------------

_bloom_texts = st.lists(
    st.text(alphabet="abcdef ", min_size=0, max_size=60),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(train_texts=_bloom_texts, eval_texts=_bloom_texts, n=st.sampled_from([2, 3]))
def test_bloom_report_equals_exact_any_corpus(train_texts, eval_texts, n, spark):
    """Structural exactness of the Bloom tier on ARBITRARY corpora (short
    alphabets force n-gram collisions and shared shingles): the
    pre-filtered report equals the exact one row for row, whatever the
    overlap structure, degenerate docs included."""
    from savio_training_dask_2019_spark.operators.decontam import (
        bloom_contamination_report,
        contamination_report,
    )

    train = spark.createDataFrame(
        list(enumerate(train_texts)), ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(eval_texts)], ["doc_id", "text"]
    )
    exact = sorted(map(tuple, contamination_report(train, ev, n=n).collect()))
    got = sorted(
        map(tuple, bloom_contamination_report(train, ev, n=n).collect())
    )
    assert got == exact


# --- Count-Min: overcount-only + batch independence on arbitrary streams ------

_cms_items = st.lists(
    st.text(alphabet="xyz", min_size=1, max_size=3), min_size=1, max_size=120
)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(items=_cms_items, width=st.sampled_from([16, 64]), depth=st.sampled_from([2, 3]))
def test_cms_overcount_only_any_stream(items, width, depth, spark):
    """For ANY stream (tiny widths force heavy collisions): est >= true for
    every item, each depth row carries exactly the total mass, and the
    table equals the same build over a different partitioning."""
    from collections import Counter

    from savio_training_dask_2019_spark.operators.sketches import (
        cms_estimates,
        count_min_table,
    )

    df = spark.createDataFrame([(t,) for t in items], "tok string")
    tab = count_min_table(df, "tok", width=width, depth=depth)
    rows = tab.collect()
    n = len(items)
    assert all(sum(r["counts"]) == n for r in rows)
    t2 = {
        r["d"]: r["counts"]
        for r in count_min_table(
            df.repartition(5), "tok", width=width, depth=depth
        ).collect()
    }
    assert {r["d"]: r["counts"] for r in rows} == t2

    true = Counter(items)
    probes = spark.createDataFrame(
        [(t, c) for t, c in true.items()], "tok string, true_count long"
    )
    est = cms_estimates(tab, probes, "tok").collect()
    assert all(r["est_count"] >= r["true_count"] for r in est)


# --- r12 additions: weighted median / streaks / gap fill vs pure Python ------


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # nation
            st.integers(min_value=1, max_value=20),   # price cents
            st.integers(min_value=1, max_value=9),    # weight
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_matches_python(rows, spark, tmp_path_factory):
    """q_weighted_median's 2*cumw >= W walk vs a direct python weighted
    median over the expanded multiset (each value repeated weight times
    -> lower median = element at ceil(W/2))."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("wmed")
    sup = pd.DataFrame({"s_suppkey": [0, 1, 2], "s_nationkey": [0, 1, 2]})
    sup.to_parquet(tmp / "supplier.parquet")
    pd.DataFrame(
        {
            "l_suppkey": [r[0] for r in rows],
            "l_extendedprice": [r[1] / 100.0 for r in rows],
            "l_quantity": [float(r[2]) for r in rows],
        }
    ).to_parquet(tmp / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_weighted_median

    got = {
        r["s_nationkey"]: r["median_cents"]
        for r in q_weighted_median(spark, str(tmp)).collect()
    }
    from collections import defaultdict

    expanded = defaultdict(list)
    for nat, cents, wgt in rows:
        expanded[nat].extend([cents] * wgt)
    for nat, vals in expanded.items():
        vals.sort()
        want = vals[(len(vals) + 1) // 2 - 1]  # lower weighted median
        assert got[nat] == want, (nat, vals)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cal=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.integers(min_value=1, max_value=25),   # day of Jan
        ),
        min_size=1,
        max_size=50,
    )
)
def test_activity_streaks_matches_python(cal, spark, tmp_path_factory):
    """q_activity_streaks vs a direct python longest-run scan over each
    user's distinct sorted days."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("streaks")
    pd.DataFrame(
        {
            "event_id": range(len(cal)),
            "ts": [pd.Timestamp(f"2024-01-{d:02d} 09:00") for _, d in cal],
            "user_id": [u for u, _ in cal],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import Counter, defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_activity_streaks,
    )

    days = defaultdict(set)
    for u, d in cal:
        days[u].add(d)
    best = {}
    for u, ds in days.items():
        run = mx = 0
        prev = None
        for d in sorted(ds):
            run = run + 1 if prev is not None and d == prev + 1 else 1
            mx = max(mx, run)
            prev = d
        best[u] = mx
    want = Counter(best.values())

    got = {
        r["best_streak"]: r["n_users"]
        for r in q_activity_streaks(spark, str(tmp)).collect()
    }
    assert got == dict(want)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),    # user (one segment each)
            st.integers(min_value=0, max_value=30),   # hour offset
            st.integers(min_value=1, max_value=500),  # cents
        ),
        min_size=1,
        max_size=30,
    )
)
def test_gap_fill_matches_python(evs, spark, tmp_path_factory):
    """q_gap_fill vs a direct python dense-grid forward fill per series
    (user 0/1 land in segments 0/1 of event_type 'view')."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("gapfill")
    pd.DataFrame(
        {
            "event_id": range(len(evs)),
            "ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h, minutes=7)
                for _, h, _ in evs
            ],
            "user_id": [u for u, _, _ in evs],
            "event_type": "view",
            "value": [c / 100.0 for _, _, c in evs],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import q_gap_fill

    series = defaultdict(lambda: defaultdict(int))
    for u, h, c in evs:
        series[u][h] += c
    want = {}
    for u, hours in series.items():
        lo, hi = min(hours), max(hours)
        carried = None
        for h in range(lo, hi + 1):
            if h in hours:
                carried = hours[h]
                want[(u, h)] = (False, carried)
            else:
                want[(u, h)] = (True, carried)

    got = {
        (r["seg"], r["bucket_ts"].day * 24 - 24 + r["bucket_ts"].hour): (
            r["is_gap"], r["cents_ffill"],
        )
        for r in q_gap_fill(spark, str(tmp)).collect()
    }
    assert got == want


# --- r13 additions: SCD2 / attribution / binned weighted quantiles ----------


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=2880),   # minutes from Jan 14
            st.integers(min_value=1, max_value=999),    # value cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_snapshot_matches_python(ev, spark, tmp_path_factory):
    """q_scd2_snapshot vs a direct python as-of walk: versions ordered by
    (micros, event_id), current = from <= T < next_from. Minute offsets
    span Jan 14-16, so events land before, exactly AT (offset 1440), and
    after the fixed cutoff."""
    import datetime as dt

    import pandas as pd

    tmp = tmp_path_factory.mktemp("scd2")
    base = dt.datetime(2024, 1, 14)
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": [pd.Timestamp(base + dt.timedelta(minutes=m)) for _, m, _ in ev],
            "user_id": [u for u, _, _ in ev],
            "event_type": "set",
            "value": [c / 100.0 for _, _, c in ev],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import q_scd2_snapshot

    got = {
        r["user_id"]: (r["version"], r["value_cents"])
        for r in q_scd2_snapshot(spark, str(tmp)).collect()
    }

    cut_us = int(dt.datetime(2024, 1, 15).timestamp()) * 1_000_000
    by_user = {}
    for eid, (u, m, c) in enumerate(ev):
        us = int((base + dt.timedelta(minutes=m)).timestamp()) * 1_000_000
        by_user.setdefault(u, []).append((us, eid, c))
    want = {}
    for u, vs in by_user.items():
        vs.sort()
        for i, (us, _eid, c) in enumerate(vs):
            nxt = vs[i + 1][0] if i + 1 < len(vs) else None
            if us <= cut_us and (nxt is None or nxt > cut_us):
                want[u] = (i + 1, c)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=300),    # minutes from base
            st.integers(min_value=0, max_value=4),      # type index
            st.integers(min_value=1, max_value=99),     # value cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sessionize_attribution_matches_python(ev, spark, tmp_path_factory):
    """q_sessionize_attribution vs a direct python last-touch walk:
    per-user (ts, event_id) order, >=30-min gaps split sessions, the
    nearest strictly-preceding view/click/signup in-session gets the
    credit, else 'direct'."""
    import datetime as dt

    import pandas as pd

    types = ["view", "click", "signup", "purchase", "error"]
    tmp = tmp_path_factory.mktemp("attr")
    base = dt.datetime(2024, 2, 1)
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": [pd.Timestamp(base + dt.timedelta(minutes=m)) for _, m, _, _ in ev],
            "user_id": [u for u, _, _, _ in ev],
            "event_type": [types[t] for _, _, t, _ in ev],
            "value": [c / 100.0 for _, _, _, c in ev],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_sessionize_attribution,
    )

    got = {
        r["channel"]: (r["n_purchases"], r["revenue_cents"])
        for r in q_sessionize_attribution(spark, str(tmp)).collect()
    }

    by_user = {}
    for eid, (u, m, t, c) in enumerate(ev):
        us = int((base + dt.timedelta(minutes=m)).timestamp()) * 1_000_000
        by_user.setdefault(u, []).append((us, eid, types[t], c))
    want = {}
    gap = 1_800_000_000
    for u, evs in by_user.items():
        evs.sort()
        prev_us, touch = None, None
        for us, _eid, typ, c in evs:
            if prev_us is None or us - prev_us >= gap:
                touch = None  # new session
            if typ == "purchase":
                ch = touch or "direct"
                n, s = want.get(ch, (0, 0))
                want[ch] = (n + 1, s + c)
            elif typ in ("view", "click", "signup"):
                touch = typ
            prev_us = us
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # nation
            st.integers(min_value=1, max_value=3000),   # price cents
            st.integers(min_value=1, max_value=9),      # weight
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_quantiles_binned_property_contains_exact(
    rows, spark, tmp_path_factory
):
    """Property form of the binned tier's error contract: for RANDOM
    weighted sets, every reported bin midpoint's bin contains the exact
    weighted q-quantile (binning preserves order), so the value error is
    always < bin_width/2 + 1."""
    from collections import defaultdict

    import pandas as pd

    tmp = tmp_path_factory.mktemp("wqb")
    pd.DataFrame({"s_suppkey": [0, 1, 2], "s_nationkey": [0, 1, 2]}).to_parquet(
        tmp / "supplier.parquet"
    )
    pd.DataFrame(
        {
            "l_suppkey": [r[0] for r in rows],
            "l_extendedprice": [r[1] / 100.0 for r in rows],
            "l_quantity": [float(r[2]) for r in rows],
        }
    ).to_parquet(tmp / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        _WQB_BIN_CENTS,
        _WQB_PCTS,
        q_weighted_quantiles_binned,
    )

    got = {
        (r["s_nationkey"], r["pct"]): r["value_cents"]
        for r in q_weighted_quantiles_binned(spark, str(tmp)).collect()
    }
    masses = defaultdict(lambda: defaultdict(int))
    for nat, cents, w in rows:
        masses[nat][cents] += w
    for nat, mm in masses.items():
        total = sum(mm.values())
        cum = 0
        pending = list(_WQB_PCTS)
        exact = {}
        for cents in sorted(mm):
            cum += mm[cents]
            while pending and 100 * cum >= pending[0] * total:
                exact[pending.pop(0)] = cents
        for pct, want_cents in exact.items():
            mid = got[(nat, pct)]
            lo = mid - _WQB_BIN_CENTS // 2
            assert lo <= want_cents < lo + _WQB_BIN_CENTS, (nat, pct)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_kcore_peel_matches_python(pairs, k, spark):
    """kcore_peel vs a direct python peel over random ≤10-node graphs:
    same symmetric edge multiset, same round-by-round degree<k removal,
    same surviving (id, residual degree) map after 4 rounds."""
    from collections import Counter

    from savio_training_dask_2019_spark.operators.graph import kcore_peel

    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    rounds = 4
    edges = list(sym)
    for _ in range(rounds):
        deg = Counter(a for a, _ in edges)
        keep = {n for n, d in deg.items() if d >= k}
        edges = [(a, b) for a, b in edges if a in keep and b in keep]
    want = dict(Counter(a for a, _ in edges))

    got = {
        r["id"]: r["deg"]
        for r in kcore_peel(
            spark.createDataFrame(sym, "src long, dst long"), k=k, rounds=rounds
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # nation
            st.sampled_from(["A", "B"]),                # segment
            st.integers(min_value=-999, max_value=1999),  # balance cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_k_anonymity_matches_python(rows, spark, tmp_path_factory):
    """q_k_anonymity vs a direct python Counter over the same
    quasi-identifier classes (trunc-division bucketing on signed
    cents)."""
    from collections import Counter

    import pandas as pd

    tmp = tmp_path_factory.mktemp("kanon")
    pd.DataFrame(
        {
            "c_custkey": range(len(rows)),
            "c_nationkey": [r[0] for r in rows],
            "c_mktsegment": [r[1] for r in rows],
            "c_acctbal": [r[2] / 100.0 for r in rows],
        }
    ).to_parquet(tmp / "customer.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        _KANON_BAL_BUCKET,
        _KANON_K,
        q_k_anonymity,
    )

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    classes = Counter(
        (nat, seg, tdiv(cents, _KANON_BAL_BUCKET)) for nat, seg, cents in rows
    )
    viol = [sz for sz in classes.values() if sz < _KANON_K]

    [r] = q_k_anonymity(spark, str(tmp)).collect()
    assert r["n_classes"] == len(classes)
    assert r["n_violating_classes"] == len(viol)
    assert r["n_rows_at_risk"] == sum(viol)
    assert r["min_class_size"] == min(classes.values())
    assert r["n_rows"] == len(rows)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),    # n_orders
            st.integers(min_value=1, max_value=28),   # last-order day of Jan
            st.integers(min_value=1, max_value=99),   # per-order dollars
        ),
        min_size=1,
        max_size=25,
    )
)
def test_rfm_segments_matches_python(custs, spark, tmp_path_factory):
    """q_rfm_segments vs a direct python NTILE (quotient+remainder group
    assignment over the same (metric, custkey) total orders) on random
    single-segment populations."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("rfm")
    n = len(custs)
    pd.DataFrame(
        {"c_custkey": range(1, n + 1), "c_mktsegment": ["S"] * n}
    ).to_parquet(tmp / "customer.parquet")
    rows, ok = [], 0
    for ck, (n_ord, day, dollars) in enumerate(custs, start=1):
        for _ in range(n_ord):
            ok += 1
            rows.append((ok, ck, f"2024-01-{day:02d}", float(dollars)))
    odf = pd.DataFrame(
        {
            "o_orderkey": [r[0] for r in rows],
            "o_custkey": [r[1] for r in rows],
            "o_orderdate": [pd.Timestamp(r[2]) for r in rows],
            "o_totalprice": [r[3] for r in rows],
        }
    )
    odf["o_orderdate"] = odf["o_orderdate"].astype("datetime64[us]")
    odf.to_parquet(tmp / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_rfm_segments

    got = {
        r["rfm"]: (r["n_customers"], r["total_cents"])
        for r in q_rfm_segments(spark, str(tmp)).collect()
    }

    import datetime as dt

    def ntile5(order):  # order: list of custkeys in window order
        m, rem = divmod(len(order), 5)
        out, i = {}, 0
        for g in range(1, 6):
            size = m + (1 if g <= rem else 0)
            for ck in order[i : i + size]:
                out[ck] = g
            i += size
        return out

    anchor = dt.date(2002, 1, 1)
    met = {}
    for ck, (n_ord, day, dollars) in enumerate(custs, start=1):
        rec = (anchor - dt.date(2024, 1, day)).days
        met[ck] = (rec, n_ord, n_ord * dollars * 100)
    r_s = ntile5(sorted(met, key=lambda c: (-met[c][0], c)))
    f_s = ntile5(sorted(met, key=lambda c: (met[c][1], c)))
    m_s = ntile5(sorted(met, key=lambda c: (met[c][2], c)))
    want = {}
    for ck in met:
        label = r_s[ck] * 100 + f_s[ck] * 10 + m_s[ck]
        cnt, tot = want.get(label, (0, 0))
        want[label] = (cnt + 1, tot + met[ck][2])
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),      # custkey
            st.integers(min_value=1, max_value=50_000),  # price cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_gini_by_segment_matches_python(orders, spark, tmp_path_factory):
    """q_gini_by_segment's rank identity vs a direct python Lorenz walk
    over the sorted per-customer dollar totals (one segment)."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("gini")
    custs = sorted({c for c, _ in orders})
    pd.DataFrame(
        {"c_custkey": custs, "c_mktsegment": ["S"] * len(custs)}
    ).to_parquet(tmp / "customer.parquet")
    pd.DataFrame(
        {
            "o_custkey": [c for c, _ in orders],
            "o_totalprice": [p / 100.0 for _, p in orders],
        }
    ).to_parquet(tmp / "orders.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.relational import (
        q_gini_by_segment,
    )

    row = q_gini_by_segment(spark, str(tmp)).collect()[0]

    cents = defaultdict(int)
    for c, p in orders:
        cents[c] += round((p / 100.0) * 100)
    xs = sorted(v // 100 for v in cents.values())
    n, t = len(xs), sum(xs)
    six = sum(i * x for i, x in enumerate(xs, start=1))
    topdec = sum(xs[n - n // 10:]) if n // 10 else 0
    if t == 0:
        # all-zero-dollar segment: inequality undefined -> NULL both sides
        assert row["total_rev"] == 0
        assert row["gini"] is None and row["top_decile_share"] is None
        return
    assert row["n_customers"] == n and row["total_rev"] == t
    assert row["gini"] == round((2 * six - (n + 1) * t) / (n * t), 4)
    assert row["top_decile_share"] == round(topdec / t, 4)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),      # day of Jan
            st.integers(min_value=-5_000, max_value=5_000),  # value cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_changepoint_cusum_matches_python(evs, spark, tmp_path_factory):
    """q_changepoint_cusum's denominator-cleared argmax vs a direct
    python prefix walk over the daily sums (earliest-day ties)."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("cusum")
    pd.DataFrame(
        {
            "event_id": list(range(len(evs))),
            "ts": [pd.Timestamp(f"2024-01-{d:02d} 09:00") for d, _ in evs],
            "user_id": [1] * len(evs),
            "event_type": ["click"] * len(evs),
            "value": [c / 100.0 for _, c in evs],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_changepoint_cusum,
    )

    row = q_changepoint_cusum(spark, str(tmp)).collect()[0]

    daily = defaultdict(int)
    for d, c in evs:
        daily[d] += round((c / 100.0) * 100)
    days = sorted(daily)
    n, t = len(days), sum(daily.values())
    p = 0
    best = (-1, None)  # (abs_ns, day) with earliest-day tie-break
    for idx, d in enumerate(days, start=1):
        p += daily[d]
        a = abs(n * p - idx * t)
        if a > best[0]:
            best = (a, d)
    assert row["n_days"] == n
    assert str(row["cp_date"])[:10] == f"2024-01-{best[1]:02d}"
    assert row["cusum_dollars"] == round(best[0] / (n * 100), 4)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    spans=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=60),   # first day offset
            st.integers(min_value=0, max_value=120),  # lifetime days
        ),
        min_size=2,
        max_size=30,
    )
)
def test_survival_curve_matches_python_km(spans, spark, tmp_path_factory):
    """q_survival_curve vs a direct python Kaplan-Meier over the same
    lifetime weeks and mean-last-day censoring rule (death = last event
    strictly before the mean last-event day; float product compared
    with 2e-4 tolerance against the 4-dp rounded output)."""
    import math

    import pandas as pd

    tmp = tmp_path_factory.mktemp("km")
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01")
    for uid, (off, life) in enumerate(spans, start=1):
        first = base + pd.Timedelta(days=off)
        last = first + pd.Timedelta(days=life)
        for ts in {first, last}:
            eid += 1
            rows.append((eid, ts, uid))
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": "view",
            "value": 0.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_survival_curve,
    )

    got = {
        r["week"]: (r["n_at_risk"], r["deaths"], r["survival"])
        for r in q_survival_curve(spark, str(tmp)).collect()
    }

    # python KM over the same rule (exact integer mean-last-day test:
    # sum_last > n * last_u, the base offset cancels)
    n_users = len(spans)
    sum_last = sum(off + life for off, life in spans)
    users = []
    for off, life in spans:
        week = life // 7
        death = sum_last > n_users * (off + life)
        users.append((week, death))
    weeks = sorted({w for w, _ in users})
    s = 1.0
    want = {}
    for w in weeks:
        n_at_risk = sum(1 for wk, _ in users if wk >= w)
        deaths = sum(1 for wk, d in users if wk == w and d)
        if deaths == 0:
            continue
        if deaths == n_at_risk:
            s = 0.0
        else:
            s *= 1.0 - deaths / n_at_risk
        want[w] = (n_at_risk, deaths, s)
    assert set(got) == set(want)
    for w, (n, d, sv) in want.items():
        gn, gd, gs = got[w]
        assert (gn, gd) == (n, d), w
        assert abs(gs - sv) < 2e-4, (w, gs, sv)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=300),    # minutes from base
            st.integers(min_value=0, max_value=4),      # type index
            st.integers(min_value=1, max_value=99),     # value cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_attribution_compare_matches_python(ev, spark, tmp_path_factory):
    """q_attribution_compare vs a direct python walk of all three
    models: per-purchase in-session strictly-preceding touch multiset,
    first/last picks, and the micro-cent floor-division linear split."""
    import datetime as dt

    import pandas as pd

    types = ["view", "click", "signup", "purchase", "error"]
    touches = ("view", "click", "signup")
    tmp = tmp_path_factory.mktemp("attrcmp")
    base = dt.datetime(2024, 2, 1)
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": [pd.Timestamp(base + dt.timedelta(minutes=m)) for _, m, _, _ in ev],
            "user_id": [u for u, _, _, _ in ev],
            "event_type": [types[t] for _, _, t, _ in ev],
            "value": [c / 100.0 for _, _, _, c in ev],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_attribution_compare,
    )

    got = {
        r["channel"]: (
            r["n_last"], r["last_cents"], r["n_first"], r["first_cents"],
            r["linear_microcents"],
        )
        for r in q_attribution_compare(spark, str(tmp)).collect()
    }

    by_user = {}
    for eid, (u, m, t, c) in enumerate(ev):
        us = int((base + dt.timedelta(minutes=m)).timestamp()) * 1_000_000
        by_user.setdefault(u, []).append((us, eid, types[t], c))
    want: dict = {}

    def bump(ch, field, v):
        cur = list(want.get(ch, (0, 0, 0, 0, 0)))
        cur[field] += v
        want[ch] = tuple(cur)

    gap = 1_800_000_000
    for u, evs in by_user.items():
        evs.sort()
        prev_us, sess = None, []
        for us, _eid, typ, c in evs:
            if prev_us is None or us - prev_us >= gap:
                sess = []  # new session
            if typ == "purchase":
                tot = len(sess)
                fc = sess[0] if sess else "direct"
                lc = sess[-1] if sess else "direct"
                bump(lc, 0, 1)
                bump(lc, 1, c)
                bump(fc, 2, 1)
                bump(fc, 3, c)
                if tot == 0:
                    bump("direct", 4, c * 1_000_000)
                else:
                    for ch in set(sess):
                        bump(ch, 4, (c * 1_000_000 * sess.count(ch)) // tot)
            elif typ in touches:
                sess.append(typ)
            prev_us = us
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=15),          # day of Jan
            st.integers(min_value=-3_000, max_value=3_000),  # value cents
        ),
        min_size=2,
        max_size=40,
    )
)
def test_theil_sen_trend_matches_python(evs, spark, tmp_path_factory):
    """q_theil_sen_trend's ranked element selection vs a direct python
    median-of-pairwise-slopes with the identical (slope, d1, d2) order."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("tsen")
    pd.DataFrame(
        {
            "event_id": list(range(len(evs))),
            "ts": [pd.Timestamp(f"2024-01-{d:02d} 09:00") for d, _ in evs],
            "user_id": 1,
            "event_type": "click",
            "value": [c / 100.0 for _, c in evs],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_theil_sen_trend,
    )

    rows = q_theil_sen_trend(spark, str(tmp)).collect()

    daily = defaultdict(int)
    base = pd.Timestamp("1970-01-01")
    for d, c in evs:
        di = (pd.Timestamp(f"2024-01-{d:02d}") - base).days
        daily[di] += round((c / 100.0) * 100)
    days = sorted(daily)
    # Spark `div` and DuckDB `//` both TRUNCATE toward zero on integers;
    # python // floors — mirror the engines' semantics exactly
    dollars = {
        d: (abs(daily[d]) // 100) * (1 if daily[d] >= 0 else -1)
        for d in days
    }
    slopes = [
        ((dollars[d2] - dollars[d1]) / (d2 - d1), d1, d2)
        for i, d1 in enumerate(days)
        for d2 in days[i + 1:]
    ]
    if not slopes:
        assert rows == []
        return
    slopes.sort()
    m = len(slopes)
    want = round(slopes[(m + 1) // 2 - 1][0], 4)
    assert len(rows) == 1
    assert (rows[0]["n_pairs"], rows[0]["ts_slope_dollars"]) == (m, want)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grid=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),   # custkey
            st.integers(min_value=1, max_value=8),   # month of 2024
        ),
        min_size=1,
        max_size=40,
    )
)
def test_monthly_churn_matches_python(grid, spark, tmp_path_factory):
    """q_monthly_churn vs a direct python set walk over the distinct
    (customer, month) grid, including calendar-gap churn attribution."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("churn")
    pd.DataFrame(
        {
            "o_custkey": [c for c, _ in grid],
            "o_orderdate": pd.Series(
                [pd.Timestamp(f"2024-{m:02d}-10") for _, m in grid],
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp / "orders.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_monthly_churn,
    )

    got = {
        r["mi"]: (r["n_active"], r["n_new"], r["n_retained"], r["n_churned"])
        for r in q_monthly_churn(spark, str(tmp)).collect()
    }

    cm = {(c, 2024 * 12 + m) for c, m in grid}
    months = sorted({mi for _, mi in cm})
    first = {}
    for c, mi in sorted(cm, key=lambda t: t[1]):
        first.setdefault(c, mi)
    want = {}
    prev_mi, prev_active = None, None
    for mi in months:
        act = {c for c, m in cm if m == mi}
        new = sum(1 for c in act if first[c] == mi)
        ret = sum(1 for c in act if (c, mi - 1) in cm)
        if prev_mi is None:
            churn = None
        elif prev_mi == mi - 1:
            churn = prev_active - ret
        else:
            churn = prev_active
        want[mi] = (len(act), new, ret, churn)
        prev_mi, prev_active = mi, len(act)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.integers(min_value=0, max_value=100),  # minutes from base
            st.integers(min_value=0, max_value=3),    # type index
        ),
        min_size=2,
        max_size=40,
    )
)
def test_behavior_entropy_matches_python(ev, spark, tmp_path_factory):
    """q_behavior_entropy vs a direct python conditional-entropy walk
    over the same (ts, event_id)-ordered per-user transitions."""
    import datetime as dt
    import math

    import pandas as pd

    types = ["view", "click", "purchase", "error"]
    tmp = tmp_path_factory.mktemp("bent")
    base = dt.datetime(2024, 3, 1)
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": [pd.Timestamp(base + dt.timedelta(minutes=m)) for _, m, _ in ev],
            "user_id": [u for u, _, _ in ev],
            "event_type": [types[t] for _, _, t in ev],
            "value": 0.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import Counter, defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_behavior_entropy,
    )

    got = {
        r["from_type"]: (r["n_trans"], r["n_branches"], r["entropy_bits"],
                         r["max_entropy_bits"])
        for r in q_behavior_entropy(spark, str(tmp)).collect()
    }

    by_user = defaultdict(list)
    for eid, (u, m, t) in enumerate(ev):
        by_user[u].append((int((base + dt.timedelta(minutes=m)).timestamp()), eid, types[t]))
    trans = Counter()
    for u, evs in by_user.items():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    want = {}
    for ft in {a for a, _ in trans}:
        row = {b: n for (a, b), n in trans.items() if a == ft}
        tot = sum(row.values())
        h = -sum((n / tot) * math.log2(n / tot) for n in row.values())
        want[ft] = (tot, len(row), round(h, 5), round(math.log2(len(row)), 5))
    assert set(got) == set(want)
    for ft, (tot, k, h, mx) in want.items():
        gt, gk, gh, gmx = got[ft]
        assert (gt, gk, gmx) == (tot, k, mx), ft
        assert abs(gh - h) < 2e-5, (ft, gh, h)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["F", "O"]),              # group
            st.booleans(),                            # positive label
            st.integers(min_value=0, max_value=20),   # price cents (ties likely)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_auc_by_type_matches_pairwise_python(rows, spark, tmp_path_factory):
    """q_auc_by_type's rank-sum identity vs the DEFINITIONAL pairwise
    count (win 1, tie 0.5) over the same scores; single-class groups
    must yield NULL."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("auc")
    pd.DataFrame(
        {
            "l_linestatus": [g for g, _, _ in rows],
            "l_returnflag": ["R" if p else "N" for _, p, _ in rows],
            "l_extendedprice": [c / 100.0 for _, _, c in rows],
        }
    ).to_parquet(tmp / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_auc_by_type

    got = {
        r["l_linestatus"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in q_auc_by_type(spark, str(tmp)).collect()
    }

    for g in {g for g, _, _ in rows}:
        pos = [c for gg, p, c in rows if gg == g and p]
        neg = [c for gg, p, c in rows if gg == g and not p]
        if not pos or not neg:
            want_auc = None
        else:
            wins = sum(
                1.0 if p > n else 0.5 if p == n else 0.0
                for p in pos
                for n in neg
            )
            want_auc = round(wins / (len(pos) * len(neg)), 6)
        assert got[g] == (len(pos), len(neg), want_auc), g


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),     # user
            st.integers(min_value=0, max_value=500),   # cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_max_drawdown_matches_python_walk(ev, spark, tmp_path_factory):
    """q_max_drawdown vs a direct python running-max walk in event_id
    order (equal timestamps force the event_id tie-break)."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("mdd")
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": pd.Timestamp("2024-03-01"),  # all equal: event_id decides
            "user_id": [u for u, _ in ev],
            "event_type": "v",
            "value": [c / 100.0 for _, c in ev],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_max_drawdown,
    )

    series = defaultdict(list)
    for eid, (u, c) in enumerate(ev):
        series[u].append(c)
    want = {}
    for u, vals in series.items():
        peak, dd = vals[0], 0
        for v in vals:
            peak = max(peak, v)
            dd = max(dd, peak - v)
        want[u] = (len(vals), peak, dd)

    got = {
        r["user_id"]: (r["n_events"], r["peak_cents"],
                       r["max_drawdown_cents"])
        for r in q_max_drawdown(spark, str(tmp)).collect()
    }
    assert got == want
    order = [r["user_id"] for r in q_max_drawdown(spark, str(tmp)).collect()]
    assert order == sorted(want, key=lambda u: (-want[u][2], u))


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),   # quantity (ties likely)
            st.integers(min_value=0, max_value=8),   # discount bp bucket
        ),
        min_size=2,
        max_size=30,
    )
)
def test_spearman_corr_matches_python_ranks(rows, spark, tmp_path_factory):
    """q_spearman_corr vs python tie-averaged ranks + the identical
    float-assembly tree over exact integer moments; constant columns ->
    NULL."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("sprm")
    pd.DataFrame(
        {
            "l_returnflag": "N",
            "l_quantity": [float(x) for x, _ in rows],
            "l_discount": [y / 10000.0 for _, y in rows],
        }
    ).to_parquet(tmp / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_spearman_corr,
    )

    def two_ranks(vals):
        # 2*avg_rank = 2*min_rank + ties - 1, exactly as both engines
        order = sorted(vals)
        first = {}
        from collections import Counter

        cnt = Counter(vals)
        for i, v in enumerate(order):
            first.setdefault(v, i + 1)
        return [2 * first[v] + cnt[v] - 1 for v in vals]

    xs = [x for x, _ in rows]
    ys = [y for _, y in rows]
    rx, ry = two_ranks(xs), two_ranks(ys)
    n = len(rows)
    if min(rx) == max(rx) or min(ry) == max(ry):
        want = None
    else:
        sx, sy = sum(rx), sum(ry)
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        num = float(n) * float(sxy) - float(sx) * float(sy)
        den = (
            (float(n) * float(sxx) - float(sx) * float(sx))
            * (float(n) * float(syy) - float(sy) * float(sy))
        ) ** 0.5
        want = round(num / den, 6)

    [r] = q_spearman_corr(spark, str(tmp)).collect()
    assert (r["n"], r["rho_spearman"]) == (n, want)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # orderkey
            st.integers(min_value=1, max_value=4),   # suppkey
            st.booleans(),                           # late?
        ),
        min_size=1,
        max_size=25,
    )
)
def test_waiting_suppliers_matches_python(lines, spark, tmp_path_factory):
    """q_waiting_suppliers vs a direct python evaluation of the Q21
    blame rule over random multi-supplier order shapes."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("q21")
    pd.DataFrame(
        {
            "o_orderkey": sorted({ok for ok, _, _ in lines}),
            "o_orderdate": pd.Series(
                [pd.Timestamp("2024-01-01")]
                * len({ok for ok, _, _ in lines}),
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [ok for ok, _, _ in lines],
            "l_suppkey": [sk for _, sk, _ in lines],
            "l_shipdate": pd.Series(
                [pd.Timestamp("2024-06-01" if late else "2024-01-05")
                 for _, _, late in lines],
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp / "lineitem.parquet")
    sups = sorted({sk for _, sk, _ in lines})
    pd.DataFrame(
        {"s_suppkey": sups, "s_name": [f"S{k}" for k in sups]}
    ).to_parquet(tmp / "supplier.parquet")

    from collections import Counter, defaultdict

    from savio_training_dask_2019_spark.queries.relational import (
        q_waiting_suppliers,
    )

    per_order = defaultdict(lambda: (set(), set()))
    for ok, sk, late in lines:
        alls, lates = per_order[ok]
        alls.add(sk)
        if late:
            lates.add(sk)
    waits = Counter()
    for alls, lates in per_order.values():
        if len(alls) >= 2 and len(lates) == 1:
            waits[next(iter(lates))] += 1
    want = sorted(
        ((sk, f"S{sk}", n) for sk, n in waits.items()),
        key=lambda t: (-t[2], t[0]),
    )[:20]

    got = [
        (r["s_suppkey"], r["s_name"], r["numwait"])
        for r in q_waiting_suppliers(spark, str(tmp)).collect()
    ]
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=40
    )
)
def test_trimmed_mean_matches_python_slice(cents, spark, tmp_path_factory):
    """q_trimmed_mean vs python sorted-slice trimming and boundary-value
    winsorizing on one random group."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("trim")
    pd.DataFrame(
        {
            "l_returnflag": "A",
            "l_extendedprice": [c / 100.0 for c in cents],
        }
    ).to_parquet(tmp / "lineitem.parquet")

    from decimal import ROUND_HALF_UP, Decimal

    from savio_training_dask_2019_spark.queries.relational import q_trimmed_mean

    def round4(x):
        # both engines round the double's SHORTEST DECIMAL repr half-up
        # (Spark BigDecimal.valueOf + HALF_UP; DuckDB agrees — oracle-equal
        # at 3 SFs); python's round() is half-even on the binary value and
        # disagrees on .xxx75 knife edges
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    s = sorted(cents)
    n = len(s)
    k = n // 10
    keep = s[k: n - k]
    wins = sum(keep) + k * s[k] + k * s[n - k - 1]

    [r] = q_trimmed_mean(spark, str(tmp)).collect()
    assert (r["n"], r["n_trimmed_each_side"]) == (n, k)
    assert r["trimmed_mean"] == round4(sum(keep) / (100 * len(keep)))
    assert r["winsorized_mean"] == round4(wins / (100 * n))


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=100, max_value=106),  # customer
            st.integers(min_value=1, max_value=5),      # supplier
        ),
        min_size=2,
        max_size=20,
    )
)
def test_resource_alloc_matches_python(edges, spark, tmp_path_factory):
    """q_resource_alloc vs a direct python common-neighbor walk with
    integer-floored RA weights over random bipartite graphs."""
    import pandas as pd

    e = sorted(edges)
    tmp = tmp_path_factory.mktemp("ra")
    pd.DataFrame(
        {"o_orderkey": range(len(e)), "o_custkey": [c for c, _ in e]}
    ).to_parquet(tmp / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": range(len(e)), "l_suppkey": [s for _, s in e]}
    ).to_parquet(tmp / "lineitem.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.relational import (
        q_resource_alloc,
    )

    nbrs = defaultdict(set)   # supplier -> customers
    cdeg = defaultdict(int)   # customer -> supplier count
    for c, s in e:
        nbrs[s].add(c)
        cdeg[c] += 1
    want = []
    sups = sorted(nbrs)
    for i, s1 in enumerate(sups):
        for s2 in sups[i + 1:]:
            common = nbrs[s1] & nbrs[s2]
            if not common:
                continue
            ra = sum(1000000 // cdeg[c] for c in common)
            jac = round(
                len(common) / (len(nbrs[s1]) + len(nbrs[s2]) - len(common)),
                5,
            )
            want.append((s1, s2, len(common), jac, ra))
    want.sort(key=lambda t: (-t[2], t[0], t[1]))

    got = [
        (r["s1"], r["s2"], r["n_common"], r["jaccard"], r["ra_micro"])
        for r in q_resource_alloc(spark, str(tmp)).collect()
    ]
    assert got == want[:30]


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),    # user
            st.integers(min_value=1, max_value=20),   # day of Jan
        ),
        min_size=1,
        max_size=40,
    )
)
def test_trailing_wau_matches_python(ev, spark, tmp_path_factory):
    """q_trailing_wau vs a direct python trailing-7-day distinct count
    at observed-day grain."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("wau")
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": pd.Series(
                [pd.Timestamp(f"2024-01-{d:02d} 12:00") for _, d in ev],
                dtype="datetime64[us]",
            ),
            "user_id": [u for u, _ in ev],
            "event_type": "v",
            "value": 0.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from savio_training_dask_2019_spark.queries.timeseries import (
        q_trailing_wau,
    )

    act = {(d, u) for u, d in ev}
    days = sorted({d for d, _ in act})
    want = {}
    for d in days:
        inwin = [(dd, u) for dd, u in act if d - 6 <= dd <= d]
        want[f"2024-01-{d:02d}"] = (len({u for _, u in inwin}), len(inwin))

    got = {
        r["day"]: (r["wau"], r["user_days_in_window"])
        for r in q_trailing_wau(spark, str(tmp)).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    custs=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),                  # segment
            st.integers(min_value=-500, max_value=1500),  # balance cents
            st.booleans(),                                # ordered recently?
        ),
        min_size=1,
        max_size=30,
    )
)
def test_idle_customers_matches_python(custs, spark, tmp_path_factory):
    """q_idle_customers vs a direct python evaluation of the strict
    above-positive-average + no-recent-order rule."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("q22")
    pd.DataFrame(
        {
            "c_custkey": range(len(custs)),
            "c_mktsegment": [s for s, _, _ in custs],
            "c_acctbal": [c / 100.0 for _, c, _ in custs],
        }
    ).to_parquet(tmp / "customer.parquet")
    recent = [i for i, (_, _, r) in enumerate(custs) if r]
    pd.DataFrame(
        {
            "o_orderkey": range(len(recent)),
            "o_custkey": recent,
            "o_orderdate": pd.Series(
                [pd.Timestamp("2001-03-01")] * len(recent),
                dtype="datetime64[us]",
            ),
        }
    ).to_parquet(tmp / "orders.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.relational import (
        q_idle_customers,
    )

    seg_pos = defaultdict(lambda: [0, 0])  # sum_pos, n_pos
    for s, c, _ in custs:
        if c > 0:
            seg_pos[s][0] += c
            seg_pos[s][1] += 1
    want = defaultdict(lambda: [0, 0])
    for i, (s, c, r) in enumerate(custs):
        sp, np_ = seg_pos[s]
        if c * np_ > sp and not r:
            want[s][0] += 1
            want[s][1] += c
    got = {
        r["c_mktsegment"]: (r["n_custs"], r["total_cents"])
        for r in q_idle_customers(spark, str(tmp)).collect()
    }
    assert got == {s: tuple(v) for s, v in want.items() if v[0] > 0}


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),    # user
            st.integers(min_value=1, max_value=59),   # day-of-span (2 months)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_stickiness_matches_python(ev, spark, tmp_path_factory):
    """q_stickiness vs a direct python DAU/MAU computation over random
    two-month activity."""
    import datetime as dt

    import pandas as pd

    base = dt.date(2024, 1, 1)
    tmp = tmp_path_factory.mktemp("stick")
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": pd.Series(
                [pd.Timestamp(base + dt.timedelta(days=d - 1)) for _, d in ev],
                dtype="datetime64[us]",
            ),
            "user_id": [u for u, _ in ev],
            "event_type": "v",
            "value": 0.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import q_stickiness

    cells = {(base + dt.timedelta(days=d - 1), u) for u, d in ev}
    bym = defaultdict(set)
    for day, u in cells:
        bym[day.strftime("%Y-%m")].add((day, u))
    got = {
        r["month"]: (r["n_days"], r["mau"], r["user_days"], r["stickiness"])
        for r in q_stickiness(spark, str(tmp)).collect()
    }
    want = {}
    for m, cs in bym.items():
        nd = len({d for d, _ in cs})
        mau = len({u for _, u in cs})
        want[m] = (nd, mau, len(cs), round(len(cs) / (nd * mau), 4))
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.integers(min_value=0, max_value=3),    # type index
        ),
        min_size=3,
        max_size=40,
    )
)
def test_top_paths_matches_python(ev, spark, tmp_path_factory):
    """q_top_paths vs a python per-user trigram Counter in event_id
    order (equal timestamps force the tie-break)."""
    import pandas as pd

    types = ["a", "b", "c", "d"]
    tmp = tmp_path_factory.mktemp("paths")
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": [u for u, _ in ev],
            "event_type": [types[t] for _, t in ev],
            "value": 0.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import Counter, defaultdict

    from savio_training_dask_2019_spark.queries.timeseries import q_top_paths

    seqs = defaultdict(list)
    for u, t in ev:
        seqs[u].append(types[t])
    cnt = Counter()
    for s in seqs.values():
        for i in range(len(s) - 2):
            cnt[f"{s[i]}>{s[i + 1]}>{s[i + 2]}"] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = [(r["path"], r["n"]) for r in q_top_paths(spark, str(tmp)).collect()]
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),    # type index
            st.integers(min_value=1, max_value=10),   # day
        ),
        min_size=1,
        max_size=40,
    )
)
def test_burstiness_matches_python(ev, spark, tmp_path_factory):
    """q_burstiness vs a python population-variance Fano over random
    daily arrivals."""
    import pandas as pd

    types = ["x", "y"]
    tmp = tmp_path_factory.mktemp("fano")
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": pd.Series(
                [pd.Timestamp(f"2024-01-{d:02d}") for _, d in ev],
                dtype="datetime64[us]",
            ),
            "user_id": 1,
            "event_type": [types[t] for t, _ in ev],
            "value": 0.0,
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from collections import Counter

    from savio_training_dask_2019_spark.queries.timeseries import q_burstiness

    got = {
        r["event_type"]: (r["n_days"], r["n_events"], r["fano"])
        for r in q_burstiness(spark, str(tmp)).collect()
    }
    for ti, t in enumerate(types):
        days = Counter(d for tt, d in ev if tt == ti)
        if not days:
            assert t not in got
            continue
        cs = list(days.values())
        n, s, q2 = len(cs), sum(cs), sum(c * c for c in cs)
        assert got[t] == (n, s, round(float(n * q2 - s * s) / (n * s), 4))


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # type index
            st.integers(min_value=0, max_value=400),  # cents
        ),
        min_size=4,
        max_size=40,
    )
)
def test_welch_ttest_matches_python(ev, spark, tmp_path_factory):
    """q_welch_ttest vs a python Welch over random slices, including the
    degenerate NULL cases (lone type / tiny side / zero pooled se)."""
    import pandas as pd

    types = ["a", "b", "c"]
    tmp = tmp_path_factory.mktemp("welch")
    pd.DataFrame(
        {
            "event_id": range(len(ev)),
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": 1,
            "event_type": [types[t] for t, _ in ev],
            "value": [c / 100.0 for _, c in ev],
            "props": "{}",
        }
    ).to_parquet(tmp / "events.parquet")

    from savio_training_dask_2019_spark.queries.relational import q_welch_ttest

    got = {
        r["event_type"]: (r["n"], r["t_welch"], r["df_welch"])
        for r in q_welch_ttest(spark, str(tmp)).collect()
    }

    for ti, t in enumerate(types):
        xs = [c for tt, c in ev if tt == ti]
        ys = [c for tt, c in ev if tt != ti]
        if not xs:
            assert t not in got
            continue
        n1, n2 = len(xs), len(ys)
        if n1 < 2 or n2 < 2:
            assert got[t] == (n1, None, None)
            continue
        m1, m2 = sum(xs) / n1, sum(ys) / n2
        v1 = (sum(x * x for x in xs) - sum(xs) ** 2 / n1) / (n1 - 1)
        v2 = (sum(y * y for y in ys) - sum(ys) ** 2 / n2) / (n2 - 1)
        se2 = v1 / n1 + v2 / n2
        if se2 == 0.0:
            assert got[t] == (n1, None, None)
            continue
        tstat = round((m1 - m2) / se2**0.5, 4) + 0.0
        df = round(
            se2**2
            / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)),
            2,
        )
        gn, gt, gdf = got[t]
        assert gn == n1
        assert gt is not None and abs(gt - tstat) < 2e-4, t
        assert gdf is not None and abs(gdf - df) < 2e-2, t


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),              # group
            st.integers(min_value=0, max_value=9),    # discount bp
            st.integers(min_value=0, max_value=200),  # price cents
        ),
        min_size=2,
        max_size=30,
    )
)
def test_simpsons_check_matches_python(rows, spark, tmp_path_factory):
    """q_simpsons_check vs python OLS slopes assembled with the identical
    float tree, including NULL zero-variance groups and the sign flag."""
    import pandas as pd

    tmp = tmp_path_factory.mktemp("simp")
    pd.DataFrame(
        {
            "l_returnflag": [g for g, _, _ in rows],
            "l_discount": [x / 10000.0 for _, x, _ in rows],
            "l_extendedprice": [y / 100.0 for _, _, y in rows],
        }
    ).to_parquet(tmp / "lineitem.parquet")

    from savio_training_dask_2019_spark.queries.relational import (
        q_simpsons_check,
    )

    def slope(pts):
        xs = [x for x, _ in pts]
        if min(xs) == max(xs):
            return None
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

    pooled = slope([(x, y) for _, x, y in rows])
    got = {
        r["l_returnflag"]: (r["n"], r["slope_within"], r["slope_pooled"],
                            r["simpson_flag"])
        for r in q_simpsons_check(spark, str(tmp)).collect()
    }
    for g in {g for g, _, _ in rows}:
        pts = [(x, y) for gg, x, y in rows if gg == g]
        sw = slope(pts)
        flag = (
            sw is not None
            and pooled is not None
            and ((sw > 0) != (pooled > 0))
            and sw != 0
            and pooled != 0
        )
        gn, gsw, gsp, gflag = got[g]
        assert gn == len(pts)
        assert gsw == sw and gsp == pooled
        assert gflag == flag, (g, sw, pooled)


# --- cosine Arrow kernels (semantic_dedup, cell assignment) ------------------
#
# Both kernels score with functions.vectors.fold_dot, the fold's exact
# order, so their cosines must EQUAL Spark's fold (==, not isclose), and
# every keep/drop or cell decision must be the fold's.


def _fold_cos(a, b):
    """Spark's dot(a, b) / (l2_norm(a) * l2_norm(b)), op for op: NULL for a
    NULL vector or component or unequal lengths (zip_with pads NULL)."""
    import math

    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    d, na, nb = 0.0, 0.0, 0.0
    for x, y in zip(a, b):
        d += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return d / (math.sqrt(na) * math.sqrt(nb))


def _spark_round5(x):
    """F.round(x, 5): HALF_UP on the double's decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.00001"), rounding=ROUND_HALF_UP))


def _exists_earlier_kept(rows, min_cosine):
    """The EXISTS-earlier reference: drop every id that has a same-cluster
    row with a smaller id whose rounded cosine passes; keep the rest."""
    dropped = set()
    for i, c, v in rows:
        for j, c2, w in rows:
            if None in (i, c, j) or c != c2 or not j < i:
                continue
            cos = _fold_cos(v, w)
            if cos is not None and _spark_round5(cos) >= min_cosine:
                dropped.add(i)
    return sorted(
        (i for i, _, _ in rows if i is None or i not in dropped),
        key=lambda i: (i is None, i),
    )


# first component never 0, so no vector is all-zero (those raise, below)
_component = st.one_of(st.none(), st.integers(-3, 3).map(float))
_sem_vec = st.one_of(
    st.none(),
    st.tuples(
        st.sampled_from([-3.0, -1.0, 1.0, 2.0]),
        st.lists(_component, min_size=1, max_size=2),
    ).map(lambda t: [t[0]] + t[1]),
)
_sem_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 15)),
        st.one_of(st.none(), st.integers(0, 2)),
        _sem_vec,
    ),
    min_size=1,
    max_size=18,
)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_sem_rows, min_cosine=st.sampled_from([0.3, 0.6, 0.95]))
def test_semantic_dedup_matches_exists_earlier_model(rows, min_cosine, spark):
    """semantic_dedup == the EXISTS-earlier model over NULL clusters, ids,
    vectors and components, duplicate ids, and rows of unequal length
    (which never pair, so they survive)."""
    from savio_training_dask_2019_spark.operators import semantic_dedup

    df = spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<double>"
    )
    got = sorted(
        (r["vec_id"] for r in semantic_dedup(
            df, "embedding", "vec_id", "cluster", min_cosine=min_cosine
        ).collect()),
        key=lambda i: (i is None, i),
    )
    assert got == _exists_earlier_kept(rows, min_cosine)


@pytest.mark.parametrize("tile_rows", [1, 2, 5, 1000])
def test_semantic_dedup_kernel_tiles_match_model(tile_rows, monkeypatch):
    """The kernel itself (in process, no Spark): whatever the tile height,
    each row's best earlier cosine is the fold's max, bit for bit, over a
    cluster with duplicate ids, NULL components and two vector lengths."""
    import random

    import pyarrow as pa

    from savio_training_dask_2019_spark.operators import dedup

    rng = random.Random(tile_rows)
    rows = []
    for _ in range(40):
        width = rng.choice([3, 3, 3, 2])
        v = [rng.uniform(-1, 1) for _ in range(width)]
        if rng.random() < 0.1:
            v[1] = None
        rows.append((rng.randrange(30), v))
    monkeypatch.setattr(dedup, "_PAIR_TILE_BYTES", 8 * len(rows) * tile_rows)
    out = dedup._best_earlier_cosine(
        (pa.scalar(7),),
        pa.table(
            {
                "__id": pa.array([i for i, _ in rows], pa.int64()),
                "__v": pa.array([v for _, v in rows], pa.list_(pa.float64())),
            }
        ),
    )
    got = sorted(zip(out.column("__id").to_pylist(), out.column("__best").to_pylist()))
    want = []
    for i, v in rows:
        cos = [_fold_cos(v, w) for j, w in rows if j < i]
        cos = [c for c in cos if c is not None]
        if cos:
            want.append((i, max(cos)))
    assert got == sorted(want)


def test_semantic_dedup_cluster_larger_than_one_tile(spark):
    """One 1,600-row cluster: the kernel scores it in two row tiles of the
    production budget, and the kept set is still the model's."""
    import random

    from savio_training_dask_2019_spark.operators import dedup

    n = 1600
    assert dedup._PAIR_TILE_BYTES // (8 * n) < n  # really more than one tile
    rng = random.Random(5)
    rows = [
        (i, 0, [float(rng.randint(1, 4)), float(rng.randint(-4, 4)), float(rng.randint(-4, 4))])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")
    # 0.99: ~ the duplicates of a few directions survive, most rows drop
    got = sorted(
        r["vec_id"]
        for r in dedup.semantic_dedup(
            df, "embedding", "vec_id", "cluster", min_cosine=0.99
        ).collect()
    )
    # reference: a row survives iff no earlier row passes (model, O(n²))
    keep, seen = [], []
    for i, _, v in rows:
        if not any(_spark_round5(_fold_cos(v, w)) >= 0.99 for w in seen):
            keep.append(i)
        seen.append(v)
    assert got == keep and 0 < len(keep) < n


def test_semantic_dedup_zero_norm_vector_raises(spark):
    """A zero vector that pairs with another row of its cluster has no
    cosine (0/0): the kernel raises a ValueError naming the cluster and the
    id — where numpy's NaN would pass every threshold and silently drop
    every later row. Alone in its cluster, or next to rows it cannot pair
    with (a NULL component), it raises nothing."""
    from pyspark.errors import PythonException

    from savio_training_dask_2019_spark.operators import semantic_dedup

    schema = "vec_id long, cluster int, embedding array<double>"
    df = spark.createDataFrame(
        [(1, 4, [1.0, 0.0]), (5, 4, [0.0, 0.0]), (9, 4, [0.0, 1.0])], schema
    )
    with pytest.raises(PythonException, match=r"ValueError: semantic_dedup: cluster 4: id 5 "):
        semantic_dedup(df, "embedding", "vec_id", "cluster").collect()
    quiet = spark.createDataFrame(
        [(1, 4, [0.0, 0.0]), (2, 5, [0.0, 0.0]), (3, 5, [None, 1.0])], schema
    )
    assert semantic_dedup(quiet, "embedding", "vec_id", "cluster").count() == 3


def _vec_frame(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")


def test_semantic_dedup_kernel_cosines_equal_fold_bits(spark):
    """Site 1, bit for bit: each row's kernel __best == the max of Spark's
    own fold cosine (the former self-join's expression) over its earlier
    same-cluster rows, on random float vectors where the summation order
    does change the last bits."""
    import random

    from pyspark.sql.types import DoubleType, StructField, StructType

    from savio_training_dask_2019_spark.functions.vectors import as_double, dot, l2_norm
    from savio_training_dask_2019_spark.operators.dedup import _best_earlier_cosine

    rng = random.Random(11)
    rows = [
        (i, i % 4, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)
    ]
    v = _vec_frame(spark, rows).select(
        F.col("cluster").alias("__c"),
        F.col("vec_id").alias("__id"),
        as_double(F.col("embedding")).alias("__v"),
    )
    got = {
        r["__id"]: r["__best"]
        for r in v.groupBy("__c").applyInArrow(
            _best_earlier_cosine,
            StructType([v.schema["__id"], StructField("__best", DoubleType())]),
        ).collect()
    }
    n = v.withColumn("__n", l2_norm(F.col("__v")))
    a, b = n.alias("a"), n.alias("b")
    want = {
        r["id"]: r["best"]
        for r in a.join(
            b, (F.col("a.__c") == F.col("b.__c")) & (F.col("a.__id") > F.col("b.__id"))
        )
        .groupBy(F.col("a.__id").alias("id"))
        .agg(
            F.max(
                dot(F.col("a.__v"), F.col("b.__v")) / (F.col("a.__n") * F.col("b.__n"))
            ).alias("best")
        )
        .collect()
    }
    assert got == want and len(got) == 116


def test_semantic_dedup_half_boundary_matches_fold(spark):
    """Direction D's boundary case: pairs whose unrounded cosine lies
    within a few ulps of 0.299995 — the 5th-decimal half boundary at
    threshold 0.3 — get the fold's keep/drop decision, and the sample
    really straddles the boundary (both decisions occur)."""
    import math

    from savio_training_dask_2019_spark.functions.vectors import dot, l2_norm
    from savio_training_dask_2019_spark.operators import semantic_dedup

    # b = (x, 1) against a = (1, 0): cos = x / sqrt(x² + 1)
    t = 0.299995
    x0 = t / math.sqrt(1 - t * t)
    xs = [x0]
    for _ in range(40):
        xs.append(math.nextafter(xs[-1], math.inf))
        xs.insert(0, math.nextafter(xs[0], -math.inf))
    rows = []
    for k, x in enumerate(xs):
        rows += [(2 * k, k, [1.0, 0.0]), (2 * k + 1, k, [x, 1.0])]
    df = _vec_frame(spark, rows)
    kept = {r["vec_id"] for r in semantic_dedup(df, "embedding", "vec_id", "cluster", min_cosine=0.3).collect()}
    a = df.where(F.col("vec_id") % 2 == 0).select("cluster", F.col("embedding").alias("a"))
    b = df.where(F.col("vec_id") % 2 == 1).select("cluster", "vec_id", F.col("embedding").alias("b"))
    fold_drops = {
        r["vec_id"]: r["drop"]
        for r in a.join(b, "cluster").select(
            "vec_id",
            (
                F.round(dot(F.col("a"), F.col("b")) / (l2_norm(F.col("a")) * l2_norm(F.col("b"))), 5)
                >= 0.3
            ).alias("drop"),
        ).collect()
    }
    assert set(fold_drops.values()) == {True, False}
    assert {i: i not in kept for i in fold_drops} == fold_drops


def test_cell_kernel_cosines_equal_fold_bits(spark):
    """Site 2, bit for bit: every (row, centroid) cosine the assignment
    kernel returns == Spark's fold ``dot(v, ce) / (n * cn)`` with both norms
    clamped — NULL exactly where the fold is NULL (NULL vector or
    component, unequal lengths), including a zero vector and a NULL-vector
    centroid."""
    import random

    from savio_training_dask_2019_spark.functions.vectors import dot, l2_norm
    from savio_training_dask_2019_spark.operators.similarity import (
        _NORM_FLOOR,
        _centroid_model,
        _score_cells,
    )

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(32)]) for i in range(60)]
    rows += [(60, None), (61, [0.0] * 32), (62, [1.0] * 31 + [None]), (63, [1.0] * 16)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    cents = spark.createDataFrame(
        [(c, rows[c][1]) for c in (0, 7, 13, 21)]
        + [(30, [2.0] * 16), (40, None)],
        "cid long, ce array<double>",
    )
    scored = _score_cells(df, "v", _centroid_model(cents))
    got = {r["id"]: (r["n"], list(r["sims"])) for r in scored.collect()}
    clamp = lambda c: F.greatest(l2_norm(c), F.lit(_NORM_FLOOR))  # noqa: E731
    fold = (
        df.crossJoin(cents)
        .select(
            "id",
            "cid",
            clamp(F.col("v")).alias("n"),
            (dot(F.col("v"), F.col("ce")) / (clamp(F.col("v")) * clamp(F.col("ce")))).alias("s"),
        )
        .collect()
    )
    want = {}
    for r in sorted(fold, key=lambda r: r["cid"]):
        want.setdefault(r["id"], (r["n"], []))[1].append(r["s"])
    assert got == want
    assert want[60][1] == [None] * 6 and want[63][1][:4] == [None] * 4


def test_assign_cells_matches_fold_assignment(spark):
    """assign_cells == the former per-row fold assignment (argmax of
    struct(round(cosine, 5), -cid) over a broadcast centroid array),
    computed here in Spark: a NULL-vector row, a NULL-component row and a
    row no centroid shares the length of keep today's cell — the smallest
    cid — and a zero vector takes it by the tie rule."""
    import random

    from savio_training_dask_2019_spark.functions.vectors import dot, l2_norm
    from savio_training_dask_2019_spark.operators.similarity import _NORM_FLOOR, assign_cells

    rng = random.Random(9)
    rows = [(i, [float(rng.randint(-3, 3)) for _ in range(6)]) for i in range(40)]
    rows += [(40, None), (41, [1.0] * 5 + [None]), (42, [1.0, 2.0]), (43, [0.0] * 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.where(F.col("vec_id").isin(3, 8, 17, 25)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    got = {r["id"]: r["cell"] for r in assign_cells(df, "embedding", "vec_id", cents).collect()}
    clamp = lambda c: F.greatest(l2_norm(c), F.lit(_NORM_FLOOR))  # noqa: E731
    want = {
        r["vec_id"]: -r["m"]["negcid"]
        for r in df.crossJoin(cents)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.round(
                        dot(F.col("embedding"), F.col("ce"))
                        / (clamp(F.col("embedding")) * clamp(F.col("ce"))),
                        5,
                    ).alias("s"),
                    (-F.col("cid")).alias("negcid"),
                )
            ).alias("m")
        )
        .collect()
    }
    assert got == want
    assert got[40] == got[41] == got[42] == got[43] == 3
