"""Similarity-search / vector queries over ``embeddings`` (SURVEY.md §2.9,
§2.12): exact brute-force kNN (single query + query-set join), LSH approximate
kNN, and the dask.array-style vector reductions — all as ArrayType column math
(no ndarray engine; see SURVEY.md §2.9 for the deliberate narrowing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import BoundedCache
from ..functions.vectors import as_double, dot as _sim_dot, l2_norm
from ..operators.dedup import embedding_near_dup_pairs, semantic_dedup
from ..operators.similarity import (
    IVFIndex,
    brute_knn,
    brute_knn_join,
    build_ivf_index,
    hard_negative_mining,
    ivf_query,
    lsh_knn,
)
from ..partitioning import spread
from ..sources import load_table

# DuckDB: cast float32 list → double list before any math, mirroring as_double.
_DD = "list_transform({col}, x -> CAST(x AS DOUBLE))"


_QVEC_CACHE: BoundedCache[tuple[str, int], list[float]] = BoundedCache(capacity=32)

# Fitted IVF indexes per (app, sf_dir, nlist): the build (KMeans + assignment,
# persisted corpus) runs once per corpus; every q_knn_ivf call after that is a
# pure probe. Evicted indexes unpersist their assigned DataFrame.
_IVF_CACHE: BoundedCache[tuple[str, str, int], IVFIndex] = BoundedCache(
    capacity=4, on_evict=lambda idx: idx.unpersist()
)


def invalidate_cached_indexes() -> None:
    """Drop every fitted ANN index (unpersisting their assigned corpora).

    MUST be called alongside any blanket ``spark.catalog.clearCache()``:
    clearCache unpersists the index's assigned DataFrame behind the cache's
    back, leaving an entry that still believes it is persisted — every
    subsequent probe would silently recompute the k-means assignment,
    breaking the "build once, pure probe" cost model. bench.py does this
    after each measured query."""
    _IVF_CACHE.clear()


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    # memoized: the 1-row lookup is query SETUP, and re-running a Spark job
    # for it on every invocation dominates small-SF latency
    def _fetch() -> list[float]:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        return list(row["embedding"])

    return _QVEC_CACHE.get_or_create((sf_dir, vec_id), _fetch)


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 vs the vec_id=0 embedding (TakeOrderedAndProject —
    per-partition heaps, no global sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return brute_knn(emb, "embedding", "vec_id", qv, k=10, exclude_id=0)


_KNN_BRUTE_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id AS id,
       -- + 0.0: a tiny-negative cosine must not round to -0.0 (r17 slot fix)
       round(list_cosine_similarity({_DD.format(col='embedding')},
                                    {_DD.format(col='qe')}), 5) + 0.0 AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, id LIMIT 10
"""


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN for a query set (vec_id < 5) via broadcast cross-score +
    per-query top-k window. One shuffle; corpus is never replicated."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_knn_join(
        emb.filter(F.col("vec_id") < 5), emb, "embedding", "vec_id",
        k=3, exclude_self=True,
    )


_KNN_JOIN_SQL = f"""
SELECT query_id, corpus_id, cosine FROM (
  SELECT query_id, corpus_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           -- + 0.0: a tiny-negative cosine must not round to -0.0 (r16 slot fix)
           round(list_cosine_similarity({_DD.format(col='c.embedding')},
                                        {_DD.format(col='q.embedding')}), 5) + 0.0 AS cosine
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 5
  )
) WHERE rn <= 3
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding training (DPR, arXiv:2004.04906):
    per anchor (vec_id < 8), the top-3 most cosine-similar corpus vectors
    with a DIFFERENT label. Broadcast anchor batch, one corpus scan, one
    per-anchor top-k shuffle — see operators.similarity.hard_negative_mining
    for the full scale argument."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb.filter(F.col("vec_id") < 8), emb, "embedding", "vec_id", "label", k=3
    )


_HARD_NEGATIVES_SQL = f"""
SELECT query_id, corpus_id, cosine, neg_label FROM (
  SELECT query_id, corpus_id, cosine, neg_label,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           -- + 0.0: a tiny-negative cosine must not round to -0.0 (r17 slot fix)
           round(list_cosine_similarity({_DD.format(col='c.embedding')},
                                        {_DD.format(col='q.embedding')}), 5) + 0.0 AS cosine,
           c.label AS neg_label
    FROM embeddings q JOIN embeddings c ON q.label <> c.label
    WHERE q.vec_id < 8
  )
) WHERE rn <= 3
"""


_REVAL_NQ = 8   # evaluation query set: vec_id < 8 (the hard_negatives batch)
_REVAL_K = 10   # retrieval depth


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — the metrics loop that grades every
    ANN tier (brute/LSH/IVF/IVF-PQ) before it ships: per evaluation query
    (vec_id < {nq}), retrieve the exact cosine top-{k} (the ground-truth
    ranking the approximate tiers are judged against), mark a hit when the
    neighbor shares the query's ``label``, and report precision@{k}
    (``p_at_k``) and reciprocal rank of the first hit (``rr`` — the MRR
    contribution; 0.0 when no hit lands in the top {k}).

    Scale: the broadcast-query scored join is ``brute_knn_join`` (one
    corpus scan, per-query top-k — the evaluation query set is small BY
    DESIGN; approximate tiers exist precisely so only the eval harness
    pays the exact scan). The retrieved set is O(nq·k) rows, so the label
    join-backs broadcast the retrieved side against one corpus scan; the
    ranking window partitions by query_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _REVAL_NQ)
    r = brute_knn_join(q, emb, "embedding", "vec_id", k=_REVAL_K, exclude_self=True)
    labels = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("label").alias("corpus_label")
    )
    qlab = emb.filter(F.col("vec_id") < _REVAL_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    scored = (
        labels.join(F.broadcast(r), "corpus_id")
        .join(F.broadcast(qlab), "query_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "match", (F.col("corpus_label") == F.col("query_label")).cast("int")
        )
    )
    return scored.groupBy("query_id", "query_label").agg(
        F.round(F.avg("match"), 4).alias("p_at_k"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("match") == 1, F.lit(1.0) / F.col("rn"))),
                F.lit(0.0),
            ),
            6,
        ).alias("rr"),
    )


q_retrieval_eval.__doc__ = q_retrieval_eval.__doc__.format(nq=_REVAL_NQ, k=_REVAL_K)

_RETRIEVAL_EVAL_SQL = f"""
WITH r AS (
  SELECT query_id, corpus_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           round(list_cosine_similarity({_DD.format(col='c.embedding')},
                                        {_DD.format(col='q.embedding')}), 5) AS cosine
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {_REVAL_NQ}
  )
),
s AS (
  SELECT r.query_id, ql.label AS query_label,
         CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END AS match, r.rn
  FROM r
  JOIN embeddings cl ON r.corpus_id = cl.vec_id
  JOIN embeddings ql ON r.query_id = ql.vec_id
  WHERE r.rn <= {_REVAL_K}
)
SELECT query_id, query_label,
       round(avg(match), 4) AS p_at_k,
       round(coalesce(max(CASE WHEN match = 1 THEN 1.0 / rn END), 0.0), 6) AS rr
FROM s GROUP BY query_id, query_label
"""


_RRF_K = 60      # the standard RRF smoothing constant (Cormack et al. 2009)
_RRF_DEPTH = 10  # per-arm retrieval depth


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Büttcher, SIGIR 2009) — the modern RAG default: fuse a LEXICAL ranking
    (BM25 top-{d} over documents, the q_bm25_search arm) with a DENSE
    ranking (exact-cosine top-{d} vs the vec_id=0 query embedding, the
    q_knn_brute arm) as ``rrf = Σ_arms 1/({k} + rank)``, full-outer so a
    doc ranked by only one arm still scores (the realistic partial-overlap
    case — the fixture's embedding set covers a subset of the document
    id space, exactly the production shape where only part of the corpus
    is embedded). Ranks come from each arm's ROUNDED score with an id
    tie-break, so the fused order is engine-independent; the two-term sum
    is a fixed-order add of two IEEE doubles, no accumulation.

    Scale: each arm is its own already-audited plan (BM25: query-term
    filter BEFORE the tf agg; dense: one corpus scan TakeOrdered). The
    fusion itself touches 2×{d} rows: two ranking windows each strictly
    above a top-{d} limit (allowlisted with that bound) + one {d}-row
    full-outer join. Fusing rankers costs nothing; running them does."""
    from .textops import q_bm25_search

    lex = q_bm25_search(spark, sf_dir)  # (doc_id, bm25) top-N
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    dense = brute_knn(
        emb, "embedding", "vec_id", qv, k=_RRF_DEPTH, exclude_id=0
    )  # (id, cosine)

    from pyspark.sql import Window

    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    wd = Window.orderBy(F.col("cosine").desc(), F.col("id").asc())
    lr = lex.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(wl).cast("int").alias("r_lex"),
    )
    dr = dense.select(
        "id", F.row_number().over(wd).cast("int").alias("r_dense")
    )
    fused = lr.join(dr, "id", "full")
    return fused.select(
        "id",
        "r_lex",
        "r_dense",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_dense")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    ).orderBy(F.col("rrf").desc(), F.col("id").asc())


q_rrf_hybrid.__doc__ = q_rrf_hybrid.__doc__.format(d=_RRF_DEPTH, k=_RRF_K)


def _rrf_sql() -> str:
    from .textops import _BM25_SQL

    return f"""
WITH lex AS ({_BM25_SQL}),
lr AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_lex
  FROM lex
),
dense AS ({_KNN_BRUTE_SQL}),
dr AS (
  SELECT id,
         CAST(row_number() OVER (ORDER BY cosine DESC, id) AS INTEGER) AS r_dense
  FROM dense
)
SELECT coalesce(lr.id, dr.id) AS id, r_lex, r_dense,
       round(coalesce(1.0 / ({_RRF_K} + r_lex), 0.0)
           + coalesce(1.0 / ({_RRF_K} + r_dense), 0.0), 6) AS rrf
FROM lr FULL OUTER JOIN dr ON lr.id = dr.id
ORDER BY rrf DESC, id
"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via BucketedRandomProjectionLSH (rows-only: LSH bucket
    assignment is engine-specific; recall is pytest-checked against brute)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return lsh_knn(emb, "embedding", "vec_id", qv, k=10)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cell) approximate NN — the second ANN scale path
    (rows-only: cell assignment is model-specific; recall pytest-checked).

    Build/query split: the index (KMeans fit + persisted cell assignment) is
    built once per (session, sf_dir, nlist) and cached; this call is a pure
    probe of nprobe/nlist of the corpus — the production cost model."""
    qv = _query_vec(spark, sf_dir, 0)
    nlist = 16
    index = _IVF_CACHE.get_or_create(
        (spark.sparkContext.applicationId, sf_dir, nlist),
        lambda: build_ivf_index(
            load_table(spark, sf_dir, "embeddings"), "embedding", "vec_id", nlist=nlist
        ),
    )
    return ivf_query(index, qv, k=10, nprobe=8)


_CELL_MOD = 31  # vec_id % 31 == 0 rows are the demo centroids (~n/31 cells)
_CELL_QUERY_MOD = 50  # vec_id % 50 == 0 rows are the query set


def q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided IVF cell-join k-NN — the corpus×corpus scale path where
    the query set is TOO BIG to broadcast (``knn_join``'s model) and too
    numerous for per-query driver probes (``knn_ivf``'s model): probe rows
    and corpus rows are both assigned to centroid cells by a narrow Arrow
    kernel against ONE broadcast centroid model, then joined cell ⋈ cell
    with a
    shuffle_hash hint so neither fact side ever broadcasts (plan-pinned).
    Exact within the probed cells, and fully oracle-checkable because the
    demo centroids are a deterministic corpus subset (vec_id % 31 == 0)
    rather than fitted k-means — the assignment replays in SQL. Top-3 per
    query over nprobe=2 cells; see operators.similarity.cell_knn_join for
    the 100 TB argument (nlist = join parallelism, hot cell = AQE skew
    case, machine-pinned in tests/test_skew.py).

    Oracle-parity caveat (ADVICE r8): parity rests on round(cosine, 5)
    agreeing between Spark's dot/(cn*qn) fold and DuckDB's
    list_cosine_similarity INSIDE THE ARGMAX CELL ASSIGNMENT, where a
    last-ulp difference at a rounding boundary would flip a whole cell's
    membership — a larger blast radius than the same round-5 comparison in
    knn_join's final scores. On the fixture embeddings every pair's
    unrounded cosine sits ≥ ~5e-10 from the nearest round-half boundary —
    ~1e4× the cross-engine summation-order noise floor (pinned by
    tests/test_similarity_guard.py::test_knn_cells_assignment_margin) —
    so the amplification cannot bite at fixture scale; at other scales
    the margin check is the thing to re-run."""
    from ..operators.similarity import cell_knn_join

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where((F.col("vec_id") % _CELL_MOD) == 0).select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("ce")
    )
    return cell_knn_join(
        emb.where((F.col("vec_id") % _CELL_QUERY_MOD) == 0),
        emb,
        cents,
        "embedding",
        "vec_id",
        k=3,
        nprobe=2,
        exclude_self=True,
    )


_KNN_CELLS_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, {_DD.format(col='embedding')} AS ce
  FROM embeddings WHERE vec_id % {_CELL_MOD} = 0
),
scored_cells AS (
  SELECT e.vec_id,
         round(list_cosine_similarity({_DD.format(col='e.embedding')}, c.ce), 5) AS s,
         c.cid
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM scored_cells
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM scored_cells WHERE vec_id % {_CELL_QUERY_MOD} = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id AS corpus_id,
         -- + 0.0: a tiny-negative cosine must not round to -0.0 (r17 slot fix)
         round(list_cosine_similarity({_DD.format(col='q.embedding')},
                                      {_DD.format(col='x.embedding')}), 5) + 0.0 AS cosine
  FROM probes p
  JOIN assigned a USING (cell)
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings x ON x.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, corpus_id, cosine FROM (
  SELECT query_id, corpus_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn
  FROM cand
) WHERE rn <= 3
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k — the number that certifies an approximate index
    before anyone trusts it: per query (vec_id % {qm} == 0), how many of
    the EXACT cosine top-3 the cell-join tier (`knn_cells`' plan: demo
    centroids, nprobe 2) actually returned. Output (query_id, n_exact,
    n_hit, recall). `retrieval_eval` grades label relevance;
    `dedup_eval` grades MinHash; this grades the ANN index itself —
    and unlike fitted-k-means tiers it is FULLY ORACLE-BACKED, because
    the demo centroids are a deterministic corpus subset so both the
    approximate and the exact arm replay in SQL.

    Scale: the approximate arm is the cell⋈cell join (never broadcasts a
    fact side), the exact arm is the broadcast-query scored scan (the
    eval set is small by design), and the comparison is ONE left join on
    (query, neighbor) + a per-query agg."""
    from ..operators.similarity import cell_knn_join

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where((F.col("vec_id") % _CELL_MOD) == 0).select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("ce")
    )
    queries = emb.where((F.col("vec_id") % _CELL_QUERY_MOD) == 0)
    approx = cell_knn_join(
        queries, emb, cents, "embedding", "vec_id", k=3, nprobe=2,
        exclude_self=True,
    ).select("query_id", "corpus_id", F.lit(1).alias("in_a"))
    exact = brute_knn_join(
        queries, emb, "embedding", "vec_id", k=3, exclude_self=True
    ).select("query_id", "corpus_id", F.lit(1).alias("in_e"))
    j = exact.join(approx, ["query_id", "corpus_id"], "left")
    return j.groupBy("query_id").agg(
        F.sum("in_e").cast("bigint").alias("n_exact"),
        F.sum(F.coalesce("in_a", F.lit(0))).cast("bigint").alias("n_hit"),
        F.round(
            F.sum(F.coalesce("in_a", F.lit(0))) / F.sum("in_e"), 4
        ).alias("recall"),
    )


q_ann_recall.__doc__ = q_ann_recall.__doc__.format(qm=_CELL_QUERY_MOD)

_ANN_RECALL_SQL = f"""
WITH approx AS (
  SELECT query_id, corpus_id FROM ({_KNN_CELLS_SQL}) t
),
exact AS (
  SELECT query_id, corpus_id FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS corpus_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(
                        {_DD.format(col='q.embedding')},
                        {_DD.format(col='x.embedding')}), 5) DESC, x.vec_id
           ) AS rn
    FROM embeddings q JOIN embeddings x ON x.vec_id <> q.vec_id
    WHERE q.vec_id % {_CELL_QUERY_MOD} = 0
  ) WHERE rn <= 3
)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       round(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, corpus_id)
GROUP BY e.query_id
"""


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask.array-style grouped reductions over vectors: per-label count,
    mean L2 norm, mean first component."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "label",
        l2_norm(as_double(F.col("embedding"))).alias("nrm"),
        F.element_at(F.col("embedding"), 1).cast("double").alias("d0"),
    ).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("nrm"), 5).alias("avg_norm"),
        F.round(F.avg("d0"), 6).alias("avg_dim0"),
    )


_VECTOR_STATS_SQL = f"""
SELECT label, count(*) AS n_vecs,
       round(avg(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 5) AS avg_norm,
       round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_dim0
FROM embeddings GROUP BY label
"""


def q_vector_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise ufunc surface: per-row fold/max/min over the vector
    (sequential left-fold on both engines → bit-identical before rounding)."""
    emb = load_table(spark, sf_dir, "embeddings")
    arr = as_double(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x), 4).alias("vsum"),
        F.round(F.array_max(arr), 5).alias("vmax"),
        F.round(F.array_min(arr), 5).alias("vmin"),
    )


_VECTOR_ARITH_SQL = f"""
SELECT vec_id,
       round(list_sum({_DD.format(col='embedding')}), 4) AS vsum,
       round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 5) AS vmax,
       round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 5) AS vmin
FROM embeddings
"""


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact tier (oracle-checked)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return embedding_near_dup_pairs(emb, "embedding", "vec_id", min_cosine=0.45, method="brute")


_EMB_NEAR_DUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity({_DD.format(col='a.embedding')},
                                    {_DD.format(col='b.embedding')}), 5) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity({_DD.format(col='a.embedding')},
                                   {_DD.format(col='b.embedding')}), 5) >= 0.45
"""


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH tier (sub-quadratic 100 TB path; rows-only —
    bucket assignment is scheme-specific).

    The fixture embeddings are isotropic noise (max pairwise cosine ≈0.6 at
    sf0.1: there are NO genuine near-dups, and in that regime no bucketing
    scheme can separate a loose-threshold tail from random pairs — see
    embedding_near_dup_pairs physics note). So the demo does what a real
    dedup pass sees: corpus ∪ near-duplicate copies — the first 50 vectors
    deterministically perturbed to cosine ≈0.985 — then the hand-rolled
    sign-band rp tier at a REAL near-dup threshold (0.9). Each planted pair
    must come back (recall pytest-pinned ≥ 48/50); random pairs are pruned
    by the 8-bit AND bands before any cosine is computed."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    v = as_double(F.col("embedding"))
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            v, lambda x, i: x + 0.03 * F.sin(F.col("vec_id") * 64 + i)
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", v.alias("embedding")).unionByName(planted)
    return embedding_near_dup_pairs(
        corpus,
        "embedding",
        "vec_id",
        min_cosine=0.9,
        method="rp",
        # bucket_length >> |proj| → floor(proj/w) degenerates to the SIGN of
        # the projection: classic sign-SRP banding (8-bit AND per table, 6
        # tables OR'd). P(candidate) for a random pair = (1/2)^8 per table.
        bucket_length=1e6,
        num_hash_tables=6,
        projs_per_table=8,
        dim=64,
    ).orderBy("id_a", "id_b")


_SEMDEDUP_COS = 0.30  # demo threshold: fixture embeddings are isotropic noise
# (pairwise cos ~ N(0, 1/8)), so 0.30 ≈ 2.4σ yields a small real duplicate
# tail to exercise the drop path; a production pass on near-dup embeddings
# runs the same plan at ~0.95.


def q_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup summary: within each
    semantic cluster (the fixture ``label`` column stands in for the k-means
    assignment a production pass computes first), drop every vector whose
    cosine to an earlier same-cluster vector is >= the threshold; report
    per-cluster retention. The pairwise term is confined to single clusters
    — the SemDeDup scaling argument — so cost is Σ|cluster|², never n²."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    kept = semantic_dedup(
        emb, "embedding", "vec_id", "label", min_cosine=_SEMDEDUP_COS
    )
    totals = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    kept_n = kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        totals.join(kept_n, "label", "left")
        .select(
            "label",
            "n_vecs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_vecs") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
            F.round(
                (F.col("n_vecs") - F.coalesce("n_kept", F.lit(0)))
                / F.col("n_vecs"),
                4,
            ).alias("drop_frac"),
        )
    )


_SEMDEDUP_SQL = f"""
WITH dups AS (
  SELECT DISTINCT a.vec_id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id > b.vec_id
  WHERE round(list_cosine_similarity({_DD.format(col='a.embedding')},
                                     {_DD.format(col='b.embedding')}), 5)
        >= {_SEMDEDUP_COS}
)
SELECT e.label,
       count(*) AS n_vecs,
       count(*) - count(d.vec_id) AS n_kept,
       count(d.vec_id) AS n_dropped,
       round(CAST(count(d.vec_id) AS DOUBLE) / count(*), 4) AS drop_frac
FROM embeddings e LEFT JOIN dups d ON e.vec_id = d.vec_id
GROUP BY e.label
"""


def q_svd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 singular values of the embedding matrix (dask.array
    ``da.linalg.svd`` surface via RowMatrix; rows-only — no SQL oracle can
    eigendecompose, correctness is pytest-checked against numpy)."""
    from ..operators.linalg import svd_singular_values

    emb = load_table(spark, sf_dir, "embeddings")
    return svd_singular_values(emb, "embedding", k=10).select(
        "rank", F.round("sigma", 4).alias("sigma")
    )


def q_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy balance — the pre-flight diagnostic for every
    cell-partitioned ANN plan (``knn_cells``, ``knn_ivf``): assign the
    corpus to its argmax-cosine cells (same demo vec_id % 31 centroids as
    ``knn_cells``, so the assignment replays in SQL) and report the
    occupancy distribution in one row: non-empty cells, rows, min/max/avg
    cell size, and skew_ratio = max/avg — the number that says whether the
    cell ⋈ cell join needs AQE's skew split (tests/test_skew.py pins that
    it fires) or a bigger nlist.

    Scale: one narrow assignment kernel (no shuffle; the centroid model
    is collected at build and broadcast as a variable), one
    groupBy(cell) count (map-side combine), one O(n_cells) final agg to a
    single row. This is the cheapest possible look at the quantizer before
    committing to a corpus×corpus join."""
    from ..operators.similarity import assign_cells

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where((F.col("vec_id") % _CELL_MOD) == 0).select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("ce")
    )
    per_cell = (
        assign_cells(emb, "embedding", "vec_id", cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.min("n").alias("min_cell"),
        F.max("n").alias("max_cell"),
        F.round(F.avg("n"), 4).alias("avg_cell"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )


_IVF_BALANCE_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, {_DD.format(col='embedding')} AS ce
  FROM embeddings WHERE vec_id % {_CELL_MOD} = 0
),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(
                        {_DD.format(col='e.embedding')}, c.ce), 5) DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
per_cell AS (
  SELECT cell, count(*) AS n FROM assigned GROUP BY cell
)
SELECT count(*) AS n_cells,
       CAST(sum(n) AS BIGINT) AS n_rows,
       min(n) AS min_cell,
       max(n) AS max_cell,
       round(avg(n), 4) AS avg_cell,
       round(CAST(max(n) AS DOUBLE) / avg(n), 4) AS skew_ratio
FROM per_cell
"""


_PQ_M = 4          # subspaces
_PQ_DIM = 64       # embedding dim
_PQ_CB_MOD = 29    # vec_id % 29 == 0 rows are the demo codebook
_PQ_ROW_LIMIT = 100  # rows encoded by the catalog demo


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011, IEEE TPAMI) — the
    memory-compression half of IVF-PQ, the billion-scale ANN layout
    (``assign_cells``/``knn_cells`` is the coarse-quantizer half): each
    64-dim vector becomes 4 centroid ids (one per 16-dim subspace) plus a
    reconstruction MSE. The demo codebook is a deterministic corpus subset
    (vec_id % {mod} == 0), so nearest-centroid selection — argmax of
    round(dot(x_j, c_j) − ||c_j||²/2, 5), the ||x||²-free min-L2 form,
    ties to smallest cid — replays exactly in SQL; production swaps in
    per-subspace k-means without touching the encode.

    Scale: the codebook folds into ONE broadcast array row; encoding is a
    narrow per-row fold (|codebook|·dim multiply-adds per row, no shuffle,
    no Python). See operators.similarity.pq_encode."""
    from ..operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb = emb.where((F.col("vec_id") % _PQ_CB_MOD) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    return (
        pq_encode(
            emb.where(F.col("vec_id") < _PQ_ROW_LIMIT),
            "embedding",
            "vec_id",
            cb,
            m=_PQ_M,
            dim=_PQ_DIM,
        )
        .select(F.col("id").alias("vec_id"), "code_str", "mse")
    )


q_pq_encode.__doc__ = q_pq_encode.__doc__.format(mod=_PQ_CB_MOD)

_PQ_DSUB = _PQ_DIM // _PQ_M

_PQ_SQL = f"""
WITH cb AS (
  SELECT s.j AS sub, e.vec_id AS cid, e.embedding AS ce,
         list_sum(list_transform(range(1 + s.j * {_PQ_DSUB}, 1 + (s.j + 1) * {_PQ_DSUB}),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           AS cn2
  FROM embeddings e, (SELECT unnest(range(0, {_PQ_M})) AS j) s
  WHERE e.vec_id % {_PQ_CB_MOD} = 0
),
scored AS (
  SELECT e.vec_id, cb.sub, cb.cid,
         round(list_sum(list_transform(range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))
               - 0.5 * cb.cn2, 5) AS s,
         (list_sum(list_transform(range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
          - 2.0 * list_sum(list_transform(range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
                           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))
          + cb.cn2) AS d2
  FROM embeddings e CROSS JOIN cb
  WHERE e.vec_id < {_PQ_ROW_LIMIT}
),
best AS (
  SELECT vec_id, sub, cid, d2 FROM (
    SELECT vec_id, sub, cid, d2,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY s DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT vec_id,
       string_agg(CAST(cid AS VARCHAR), '-' ORDER BY sub) AS code_str,
       round(list_sum(list(d2 ORDER BY sub)) / {_PQ_DIM}, 4) AS mse
FROM best GROUP BY vec_id
"""


_PQ_ADC_CB_CAP = 1000  # bounded codebook for the ADC demo: vec_id < 1000


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (Jégou et al. 2011 §IV) — the query
    half of ``pq_encode``: the corpus is scanned as CODES ONLY (m small
    ints per row); the raw query vector meets them through a driver-built
    per-subspace distance table shipped as one map literal. Scoring a row
    is m lookups + a fold — no vector math, no join, no shuffle; top-10 by
    (adc asc, vec_id). This is the 10⁹-row ANN memory model: vectors live
    nowhere hot, codes are a few bytes per row. The literal holds exactly
    m·|codebook| (key, double) entries — {m}·(≤{cap}/{mod}) ≈ dozens here,
    2,048 at the production 256×8 shape, always KB-scale model state —
    and pq_adc_topk raises past 65,536 entries rather than inflating the
    plan (operators/similarity.py:_ADC_TABLE_MAX_ENTRIES).

    The demo codebook is bounded by construction (vec_id % {mod} == 0 AND
    vec_id < {cap} → ≤ {cap}/{mod} rows at ANY scale factor) so the
    driver-side table build is O(1), and deterministic so the whole
    pipeline — encode AND search — replays in SQL; the SQL twin rebuilds
    the distance table with the same sequential sums and sums the m
    entries in subspace order (list(d2 ORDER BY sub) → list_sum)."""
    from ..operators.similarity import pq_adc_topk, pq_encode

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cb_df = emb.where(
        ((F.col("vec_id") % _PQ_CB_MOD) == 0) & (F.col("vec_id") < _PQ_ADC_CB_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    cb_rows = [
        (int(r["cid"]), [float(x) for x in r["ce"]]) for r in cb_df.collect()
    ]  # bounded: <= _PQ_ADC_CB_CAP / _PQ_CB_MOD rows by construction
    codes = pq_encode(emb, "embedding", "vec_id", cb_df, m=_PQ_M, dim=_PQ_DIM)
    qv = _query_vec(spark, sf_dir, 0)
    return pq_adc_topk(
        codes, cb_rows, qv, _PQ_M, _PQ_DIM, k=10
    ).withColumnRenamed("id", "vec_id")


q_pq_adc.__doc__ = q_pq_adc.__doc__.format(
    mod=_PQ_CB_MOD, cap=_PQ_ADC_CB_CAP, m=_PQ_M
)

_PQ_ADC_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cb AS (
  SELECT s.j AS sub, e.vec_id AS cid, e.embedding AS ce,
         list_sum(list_transform(range(1 + s.j * {_PQ_DSUB}, 1 + (s.j + 1) * {_PQ_DSUB}),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           AS cn2
  FROM embeddings e, (SELECT unnest(range(0, {_PQ_M})) AS j) s
  WHERE e.vec_id % {_PQ_CB_MOD} = 0 AND e.vec_id < {_PQ_ADC_CB_CAP}
),
best AS (
  SELECT vec_id, sub, cid FROM (
    SELECT e.vec_id, cb.sub, cb.cid,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.sub
             ORDER BY round(list_sum(list_transform(
                        range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))
                      - 0.5 * cb.cn2, 5) DESC, cb.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cb
  ) WHERE rn = 1
),
dtab AS (
  SELECT cb.sub, cb.cid,
         round(list_sum(list_transform(range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
               i -> (CAST(q.qe[i] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                  * (CAST(q.qe[i] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE)))), 5) AS d2
  FROM cb, q
)
SELECT vec_id, round(list_sum(list(d2 ORDER BY sub)), 4) AS adc
FROM best JOIN dtab USING (sub, cid)
GROUP BY vec_id
ORDER BY adc ASC, vec_id ASC LIMIT 10
"""


def q_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ search composition (Jégou et al. 2011 §V): coarse
    cell prune (top-nprobe cells for the query, chosen driver-side against
    the O(nlist) model) + PQ asymmetric distance over ONLY the probed
    cells' codes — the billion-scale ANN read path where a query touches
    nprobe/nlist of the corpus and only its code bytes, never vectors.
    Demo centroids (vec_id % {cm}) and capped codebook (vec_id % {pm}
    < {cap}) are deterministic corpus subsets, so assignment, pruning,
    encoding, and ADC ALL replay in SQL — the composition is
    oracle-checked end-to-end, not just its stages. Top-10 by (adc asc,
    vec_id); see operators.similarity.ivfpq_topk."""
    from ..operators.similarity import ivfpq_topk

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where((F.col("vec_id") % _CELL_MOD) == 0).select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("ce")
    )
    cb = emb.where(
        ((F.col("vec_id") % _PQ_CB_MOD) == 0) & (F.col("vec_id") < _PQ_ADC_CB_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    qv = _query_vec(spark, sf_dir, 0)
    return ivfpq_topk(
        emb, "embedding", "vec_id", cents, cb, qv,
        m=_PQ_M, dim=_PQ_DIM, k=10, nprobe=2,
    ).withColumnRenamed("id", "vec_id")


q_ivfpq.__doc__ = q_ivfpq.__doc__.format(
    cm=_CELL_MOD, pm=_PQ_CB_MOD, cap=_PQ_ADC_CB_CAP
)


_RERANK_K = 30  # ADC candidate pool for the exact third stage


def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the exact re-rank third stage (Jégou et al. 2011 §V-E;
    the standard production recipe): coarse prune + ADC keep the top
    {rk} CANDIDATES (not the final k), their RAW vectors are re-read —
    at scale a {rk}-row point lookup against the partitionBy(cell)
    layout, the only stage that touches vectors — and the final top-10
    is cut on exact cosine. This recovers most of the recall PQ
    compression gave up while still scanning only code bytes for the
    bulk of the corpus. Deterministic demo models make all four stages
    SQL-replayable, so the full composition is oracle-checked
    end-to-end. Returns (vec_id, cell, adc, cosine) by (cosine desc,
    vec_id)."""
    from ..operators.similarity import ivfpq_topk

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where((F.col("vec_id") % _CELL_MOD) == 0).select(
        F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("ce")
    )
    cb = emb.where(
        ((F.col("vec_id") % _PQ_CB_MOD) == 0) & (F.col("vec_id") < _PQ_ADC_CB_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    qv = _query_vec(spark, sf_dir, 0)
    return ivfpq_topk(
        emb, "embedding", "vec_id", cents, cb, qv,
        m=_PQ_M, dim=_PQ_DIM, k=10, nprobe=2, rerank_k=_RERANK_K,
    ).withColumnRenamed("id", "vec_id")


q_ivfpq_rerank.__doc__ = q_ivfpq_rerank.__doc__.format(rk=_RERANK_K)

# Shared CTE chain for the IVF-PQ composition and its reranked variant:
# query vec → centroid model → probe choice → cell prune → codebook →
# per-subspace code assignment → ADC distance table.
_IVFPQ_CTES = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cents AS (
  SELECT vec_id AS ccid, {_DD.format(col='embedding')} AS cce
  FROM embeddings WHERE vec_id % {_CELL_MOD} = 0
),
probes AS (
  SELECT ccid AS cell FROM (
    SELECT c.ccid,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity({_DD.format(col='q.qe')}, c.cce), 5)
                      DESC, c.ccid
           ) AS rn
    FROM cents c, q
  ) WHERE rn <= 2
),
assigned AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT e.vec_id, c.ccid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(
                        {_DD.format(col='e.embedding')}, c.cce), 5) DESC, c.ccid
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
pruned AS (
  SELECT a.vec_id, a.cell FROM assigned a JOIN probes USING (cell)
),
cb AS (
  SELECT s.j AS sub, e.vec_id AS cid, e.embedding AS ce,
         list_sum(list_transform(range(1 + s.j * {_PQ_DSUB}, 1 + (s.j + 1) * {_PQ_DSUB}),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           AS cn2
  FROM embeddings e, (SELECT unnest(range(0, {_PQ_M})) AS j) s
  WHERE e.vec_id % {_PQ_CB_MOD} = 0 AND e.vec_id < {_PQ_ADC_CB_CAP}
),
best AS (
  SELECT vec_id, sub, cid FROM (
    SELECT e.vec_id, cb.sub, cb.cid,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.sub
             ORDER BY round(list_sum(list_transform(
                        range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)))
                      - 0.5 * cb.cn2, 5) DESC, cb.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cb
    WHERE e.vec_id IN (SELECT vec_id FROM pruned)
  ) WHERE rn = 1
),
dtab AS (
  SELECT cb.sub, cb.cid,
         round(list_sum(list_transform(range(1 + cb.sub * {_PQ_DSUB}, 1 + (cb.sub + 1) * {_PQ_DSUB}),
               i -> (CAST(q.qe[i] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                  * (CAST(q.qe[i] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE)))), 5) AS d2
  FROM cb, q
),
adcs AS (
  SELECT b.vec_id, p.cell, round(list_sum(list(d.d2 ORDER BY b.sub)), 4) AS adc
  FROM best b JOIN dtab d ON b.sub = d.sub AND b.cid = d.cid
  JOIN pruned p ON p.vec_id = b.vec_id
  GROUP BY b.vec_id, p.cell
)"""

_IVFPQ_SQL = (
    _IVFPQ_CTES
    + """
SELECT vec_id, cell, adc FROM adcs
ORDER BY adc ASC, vec_id ASC LIMIT 10
"""
)

_IVFPQ_RERANK_SQL = (
    _IVFPQ_CTES
    + f""",
cand AS (
  SELECT vec_id, cell, adc FROM adcs
  ORDER BY adc ASC, vec_id ASC LIMIT {_RERANK_K}
)
SELECT c.vec_id, c.cell, c.adc,
       -- + 0.0: a tiny-negative cosine must not round to -0.0 (DuckDB
       -- keeps the sign, Spark's BigDecimal round drops it)
       round(list_cosine_similarity({_DD.format(col='q.qe')},
             {_DD.format(col='e.embedding')}), 5) + 0.0 AS cosine
FROM cand c JOIN embeddings e USING (vec_id), q
ORDER BY cosine DESC, c.vec_id ASC
LIMIT 10
"""
)


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric absmax int8 quantization of the embedding corpus
    (``operators.similarity.scalar_quantize_int8`` — the FAISS SQ8 tier:
    4x smaller scans than float32 for ~1e-2 relative error, the first
    lever when an ANN corpus outgrows page cache; PQ is the next). One row
    per vector with the quantization scale and the reconstruction error it
    commits to: max |v - recon| and per-dim MSE.

    Scale: pure narrow per-row Catalyst work — no shuffle, no join, no
    Python boundary; at 100 TB this is a streaming re-encode of the corpus.
    Oracle-exact because every step is bit-deterministic on doubles on
    both engines: float->double widening, abs/max, floor(x+0.5)
    round-half-up, and a sequential error fold (the vector_arith
    precedent), rounded wide enough that summation noise cannot flip a
    digit."""
    from ..operators.similarity import scalar_quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = scalar_quantize_int8(emb, "embedding", "vec_id", keep=("embedding",))
    errs = F.zip_with(
        as_double(F.col("embedding")),
        F.col("codes"),
        lambda a, c: F.abs(a - c.cast("double") * F.col("scale") / 127),
    )
    return q.select(
        "vec_id",
        "n_dims",
        F.round("scale", 6).alias("scale_r"),
        F.round(F.array_max(errs), 6).alias("max_abs_err"),
        F.round(
            F.aggregate(errs, F.lit(0.0), lambda acc, e: acc + e * e)
            / F.col("n_dims"),
            9,
        ).alias("mse"),
    )


_QUANT_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
),
c AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> floor(x / greatest(scale, 1e-30) * 127 + 0.5)) AS codes
  FROM q
),
e AS (
  SELECT vec_id, v, scale,
         list_transform(range(1, len(v) + 1),
                        i -> abs(v[i] - codes[i] * scale / 127)) AS errs
  FROM c
)
SELECT vec_id,
       CAST(len(v) AS INTEGER) AS n_dims,
       round(scale, 6) AS scale_r,
       round(list_max(errs), 6) AS max_abs_err,
       round(list_sum(list_transform(errs, x -> x * x)) / len(v), 9) AS mse
FROM e
"""


_SEM_DECONTAM_MOD = 23  # eval split: vec_id % 23 == 0 (mirrors decontam_check)
_SEM_DECONTAM_T = 0.40  # flag threshold on the rounded max cosine
# (fixture embeddings are isotropic noise — cross-split max cosines top out
# ~0.42 at sf0.01 — so 0.40 exercises the flag path at every SF; a real
# paraphrase-leak threshold on trained embeddings would sit at ~0.9)


def q_decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding tier of the decontam family
    (exact n-gram `decontam_check`, Bloom-prefiltered `decontam_bloom`,
    scrub `decontam_scrub`, and now paraphrase-level): each training vector
    scores its max cosine against EVERY eval vector
    (``operators.similarity.max_cosine_vs_set``) and is flagged above a
    threshold — catches reworded eval leakage that n-gram overlap misses
    (the phi/llama-class report step).

    Scale: the eval suite is collected once, when the query is built, as
    a bounded model (the eval-side-is-small contract all decontam tiers
    share); each corpus row is scored against it by one narrow Arrow
    kernel, the one ``knn_cells`` runs — no corpus shuffle, no join. Its
    bits are the Spark fold's (the exact-order rule), so the oracle match
    is exact. When the eval side outgrows the driver the same question
    becomes the cell join (`knn_cells` shape). The flag thresholds the
    ROUNDED cosine, so the cut is engine-independent (emb_near_dup
    precedent)."""
    from ..operators.similarity import max_cosine_vs_set

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % _SEM_DECONTAM_MOD == 0
    scored = max_cosine_vs_set(
        emb.where(~is_eval), "embedding", "vec_id", emb.where(is_eval)
    )
    return scored.select(
        "vec_id",
        F.round("max_cos", 5).alias("max_eval_cos"),
        (F.round("max_cos", 5) >= _SEM_DECONTAM_T).alias("flagged"),
    )


_SEM_DECONTAM_SQL = f"""
WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % {_SEM_DECONTAM_MOD} = 0),
tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_SEM_DECONTAM_MOD} <> 0),
scored AS (
  SELECT t.vec_id,
         max(list_cosine_similarity({_DD.format(col='t.embedding')},
                                    {_DD.format(col='e.embedding')})) AS mc
  FROM tr t CROSS JOIN ev e GROUP BY t.vec_id
)
-- + 0.0: a tiny-negative max cosine must not round to -0.0 (r16 slot fix)
SELECT vec_id, round(mc, 5) + 0.0 AS max_eval_cos,
       round(mc, 5) >= {_SEM_DECONTAM_T} AS flagged
FROM scored
"""


_KM_K, _KM_ITERS, _KM_QUANT, _KM_OFFSET = 8, 3, 1000, 1.0


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic Lloyd k-means over the embedding corpus — the
    oracle-backed TRAINING loop behind the IVF coarse quantizer
    (``knn_ivf`` uses Spark ML's float k-means, rows-only by contract;
    this is the engine-exact counterpart — vectors quantized to a 1e-3
    grid, BIGINT distances, floor-div centroid means, ties to the
    smallest centroid id). Output: the final round's model, one row per
    (cluster, dim) with the centroid component and member count —
    k·dim = 512 rows at any scale factor.

    Scale: per iteration ONE narrow corpus scan (an Arrow-batch numpy
    argmin + partial-sum kernel, no join — r18) + ONE groupBy(cluster,
    dim) over k·dim-per-batch partial rows; driver state is the O(k·dim)
    centroid model
    (bounded by the model, never the corpus — the PQ-codebook precedent).
    See operators/kmeans.py for the determinism argument."""
    from ..operators.kmeans import kmeans_lloyd_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_exact(
        emb,
        "embedding",
        "vec_id",
        k=_KM_K,
        iters=_KM_ITERS,
        quant=_KM_QUANT,
        offset=_KM_OFFSET,
    )


def _kmeans_sql() -> str:
    from ..operators.kmeans import kmeans_oracle_cte

    return kmeans_oracle_cte(
        "embeddings",
        "vec_id",
        "embedding",
        dim=64,
        k=_KM_K,
        iters=_KM_ITERS,
        quant=_KM_QUANT,
        offset=_KM_OFFSET,
    )


_MMR_CANDS, _MMR_K, _MMR_LAM = 20, 5, 0.7


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (Carbonell & Goldstein, SIGIR'98) — the
    re-ranking stage between retrieval and the context window: retrieve
    the exact cosine top-{c} for the vec_id-0 query, then greedily select
    {k} with ``{lam}·relevance − {mlam}·max-sim-to-selected``, so
    near-duplicate passages are penalized out of the final set. Returns
    (rank, vec_id, relevance, mmr_score) in selection order.

    Scale split: retrieval is the distributed tier (brute/IVF/IVF-PQ);
    MMR itself is a small-list greedy — each step needs similarities to
    the selected set — so it runs driver-side over the O({c}·dim)
    candidate floats (the probe_cells_for bounded-driver-math pattern;
    the corpus never reaches the driver). Rows-only by contract: the
    greedy's float comparisons are not SQL-reproducible; the selection
    contracts (λ=1 ≡ relevance order, planted near-dup exclusion,
    determinism) are pinned in pytest."""
    from ..operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    top = brute_knn(emb, "embedding", "vec_id", qv, k=_MMR_CANDS, exclude_id=0)
    withv = top.join(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
    )
    # bounded collect: _MMR_CANDS rows × dim floats — the candidate list,
    # never the corpus (see docstring)
    cands = [
        (r["id"], r["cosine"], list(r["embedding"])) for r in withv.collect()
    ]
    sel = mmr_select(cands, k=_MMR_K, lam=_MMR_LAM)
    rows = [
        (i + 1, int(cid), round(rel, 5), round(score, 5))
        for i, (cid, rel, score) in enumerate(sel)
    ]
    return spark.createDataFrame(
        rows, "rank INT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE"
    )


q_mmr_rerank.__doc__ = q_mmr_rerank.__doc__.format(
    c=_MMR_CANDS, k=_MMR_K, lam=_MMR_LAM, mlam=round(1 - _MMR_LAM, 2)
)



_SP_TOPK = 8       # salient dims kept per vector
_SP_SCALE = 1000   # weight quantization (micro-ish units)
_SP_T = 0.4        # cosine threshold; exact filter is 100*dot^2 >= 16*na*nb


def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse all-pairs cosine over SPARSIFIED embeddings — the Bayardo
    prefix-filter mechanism (operators/sparse_sim.py) run end to end:
    each vector keeps its top-{k} |value| dims (the salient-dimension
    sparse retrieval shape), weights quantize to integer milli-units,
    and every pair with sparsified cosine >= {t} comes back exactly.

    THE CHECK IS THE POINT (the skyline/funnel convention): Spark runs
    the prefix-filtered candidate join — hot dims fall out of the index
    by the rarity order — while the oracle runs the DEFINITIONAL
    all-shared-dims pair join; equality proves the pruning lossless.

    Exactness: integer weights make dot and both norms exact BIGINTs;
    the threshold is applied as 100·dot² >= 16·na·nb in pure BIGINT
    (bounded: dot² <= 1.6e16, ×100 inside int64), and the reported
    cosine is ONE fixed-order dot/sqrt(na·nb) rounded to 5 dp. The
    float unit-normalization inside the operator picks PREFIXES only —
    it cannot change the answer.

    Scale: the candidate join is full⋈prefix on the dim key — one
    keyed shuffle, vocabulary-sized df table broadcast; the verify join
    touches candidates only. Honest fixture note: gaussian top-8-of-64
    vectors are prefix filtering's WORST case (uniform df, weight mass
    spread evenly), so the cut here is ~35% of the quadratic; the win
    grows with df skew and weight concentration — the hot-term pytest
    (tests/test_sparse_sim.py) shows the stopword case collapsing from
    quadratic to zero. TF-IDF text is the favorable regime."""
    from ..operators.sparse_sim import cosine_candidate_pairs
    from pyspark.sql import Window as _W

    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode(as_double(F.col("embedding"))).alias("dim0", "v"),
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    w = _W.partitionBy("vec_id").orderBy(F.abs(F.col("v")).desc(), F.col("dim").asc())
    s = (
        x.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SP_TOPK)
        .select(
            "vec_id",
            "dim",
            F.round(F.col("v") * _SP_SCALE).cast("bigint").alias("w"),
        )
    )
    pairs = cosine_candidate_pairs(s, "vec_id", "dim", "w", threshold=_SP_T)
    return (
        pairs.where(
            (F.col("dot") > 0)
            & (
                100 * F.col("dot") * F.col("dot")
                >= 16 * F.col("norm_sq_a") * F.col("norm_sq_b")
            )
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot")
                / F.sqrt(
                    (F.col("norm_sq_a") * F.col("norm_sq_b")).cast("double")
                ),
                5,
            ).alias("cosine"),
        )
    )


q_sparse_cosine_pairs.__doc__ = q_sparse_cosine_pairs.__doc__.format(
    k=_SP_TOPK, t=_SP_T
)


_SPARSE_COSINE_SQL = f"""
WITH x AS (
  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
), r AS (
  SELECT vec_id, dim, v,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY abs(v) DESC, dim ASC) AS rn
  FROM x
), s AS (
  SELECT vec_id, dim, CAST(round(v * {_SP_SCALE}) AS BIGINT) AS w
  FROM r WHERE rn <= {_SP_TOPK}
), n AS (
  SELECT vec_id, CAST(sum(w * w) AS BIGINT) AS nsq FROM s GROUP BY 1
), d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM s a JOIN s b ON a.dim = b.dim AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / sqrt(CAST(na.nsq * nb.nsq AS DOUBLE)), 5) AS cosine
FROM d
JOIN n na ON d.id_a = na.vec_id
JOIN n nb ON d.id_b = nb.vec_id
WHERE dot > 0 AND 100 * dot * dot >= 16 * na.nsq * nb.nsq
"""


_EDRIFT_DIM = 64  # fixture embedding width (knn_brute's len-64 FLOAT[])


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift — the EMBEDDING member completing the
    drift-monitor family (drift_psi: categorical mix; drift_numeric /
    drift_ks: one numeric column; THIS: the vector modality a semantic
    search / RAG index actually serves): split the corpus into reference
    and current halves (vec_id parity — in production, last week vs this
    week), compare their CENTROIDS by cosine and squared L2. A centroid
    cosine falling from ~1 is the cheap first alarm that the embedding
    distribution moved (new domain mix, new encoder version) and the ANN
    index/centroids need retraining.

    Exactness (the sparse_cosine_pairs quantization discipline): each
    component is milli-quantized to BIGINT once (round half-away-from-
    zero — identical in both engines), per-dimension sums and counts are
    exact BIGINT with map-side combine, the centroid is the exact floor
    division sum div n (milli-units), and all three moments (dot, the
    two squared norms) are pure BIGINT over the 64-row centroid join —
    the ONLY float is the final one fixed-order cosine rounded 5 dp.
    Squared-L2 drift is reported fully exact (milli² BIGINT).

    Scale: the per-dimension sum is a posexplode + groupBy(half, dim) —
    rows×dim exploded rows REDUCE to 2·dim per partition before the
    shuffle (partial agg), so the exchange carries O(dim) rows per
    partition regardless of corpus size; everything after is a 64-row
    frame. The two 1-row count attaches are the documented scalar
    crossJoin shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))"
    )
    e = emb.select(
        (F.col("vec_id") % 2).alias("half"), F.posexplode(q).alias("p0", "qv")
    )
    s = (
        e.groupBy("half", (F.col("p0") + 1).alias("p"))
        .agg(
            F.sum("qv").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        # 2·dim rows feeding three consumers (moments + both count
        # attaches): checkpoint so the corpus scan runs exactly once
        .localCheckpoint(eager=True)
    )
    m = s.select("half", "p", F.expr("s div n").alias("m"))
    a = m.where(F.col("half") == 0).select("p", F.col("m").alias("ma"))
    b = m.where(F.col("half") == 1).select("p", F.col("m").alias("mb"))
    mom = (
        a.join(b, "p")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).cast("bigint").alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).cast("bigint").alias("na"),
            F.sum(F.col("mb") * F.col("mb")).cast("bigint").alias("nb"),
            F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
            .cast("bigint")
            .alias("l2_sq_milli"),
        )
    )
    # counts ride the s frame (n is constant across p within a half) —
    # no second corpus scan
    nr = s.where((F.col("half") == 0) & (F.col("p") == 1)).select(
        F.col("n").alias("n_ref")
    )
    nc = s.where((F.col("half") == 1) & (F.col("p") == 1)).select(
        F.col("n").alias("n_cur")
    )
    return (
        mom.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_ref",
            "n_cur",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
                5,
            ).alias("centroid_cosine"),
            "l2_sq_milli",
        )
    )


_EDRIFT_SQL = f"""
WITH pos AS (SELECT unnest(range(1, {_EDRIFT_DIM} + 1)) AS p),
e AS (
  SELECT vec_id % 2 AS half, pos.p AS p,
         CAST(round(CAST(embedding[pos.p] AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM embeddings, pos
),
s AS (
  SELECT half, p, CAST(sum(qv) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
m AS (SELECT half, p, s // n AS m FROM s),
mom AS (
  SELECT CAST(sum(a.m * b.m) AS BIGINT) AS dot,
         CAST(sum(a.m * a.m) AS BIGINT) AS na,
         CAST(sum(b.m * b.m) AS BIGINT) AS nb,
         CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS l2_sq_milli
  FROM (SELECT p, m FROM m WHERE half = 0) a
  JOIN (SELECT p, m FROM m WHERE half = 1) b USING (p)
),
cnt AS (SELECT half, n FROM s WHERE p = 1)
SELECT (SELECT n FROM cnt WHERE half = 0) AS n_ref,
       (SELECT n FROM cnt WHERE half = 1) AS n_cur,
       round(CAST(dot AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)), 5)
         AS centroid_cosine,
       l2_sq_milli
FROM mom
"""


def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked reciprocal nearest-neighbor pairs — (a, b) in the same
    LABEL BLOCK where a's top-1 cosine neighbor (within the block) is b
    AND b's is a: the entity-matching / bitext-mining staple (Artetxe &
    Schwenk's margin-mining seed), run the way practice runs it — AFTER
    blocking, because both the cost and the false-match surface live in
    the cross-block pairs. knn_join ranks neighbors; THIS extracts the
    mutually-confirmed matches.

    Determinism: the top-1 is ranked by ROUNDED (5 dp) cosine with the
    neighbor-id tie-break — the repo's knn convention, so no raw-float
    ordering crosses engines; the mutual filter and a < b cut are pure
    set arithmetic on ids.

    Scale: blocking makes the pair join an EQUI-JOIN on the block key
    (Σ block² pairs, never n²; the label column is the stand-in for an
    IVF cell / LSH bucket at 100 TB — knn_cells produces exactly that
    key); cosine is SYMMETRIC, so only a < b pairs pay the expensive
    array fold (half the flops), the checkpointed scored frame is
    mirrored by a cheap projection, and the top-1 rank is one
    query-partitioned window. Hot blocks are AQE-splittable equi-join
    keys."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    rhs = emb.select(
        F.col("label").alias("blabel"),
        F.col("vec_id").alias("bid"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    scored = (
        emb.join(rhs, emb["label"] == rhs["blabel"])
        .where(F.col("vec_id") < F.col("bid"))
        .select(
            F.col("vec_id").alias("qa"),
            F.col("bid").alias("qb"),
            F.round(
                _sim_dot(F.col("v"), F.col("bv"))
                / (F.col("nrm") * F.col("bn")),
                5,
            ).alias("cosine"),
        )
        .localCheckpoint(eager=True)
    )
    sym = scored.unionByName(
        scored.select(
            F.col("qb").alias("qa"), F.col("qa").alias("qb"), "cosine"
        )
    )
    w = Window.partitionBy("qa").orderBy(
        F.col("cosine").desc(), F.col("qb").asc()
    )
    nn = (
        sym.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    a = nn.select(
        F.col("qa").alias("id_a"), F.col("qb").alias("id_b"), "cosine"
    )
    b = nn.select(F.col("qa").alias("rb"), F.col("qb").alias("ra"))
    return (
        a.join(b, (a["id_a"] == b["ra"]) & (a["id_b"] == b["rb"]))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cosine")
    )


_MUTUAL_NN_SQL = f"""
WITH scored AS (
  -- + 0.0: a tiny-negative cosine must not round to -0.0 (DuckDB round
  -- keeps the sign; Spark's BigDecimal round drops it)
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         round(list_cosine_similarity({_DD.format(col='c.embedding')},
                                      {_DD.format(col='q.embedding')}), 5)
           + 0.0 AS cosine
  FROM embeddings q JOIN embeddings c
    ON q.label = c.label AND q.vec_id <> c.vec_id
), nn AS (
  SELECT query_id, corpus_id, cosine FROM (
    SELECT query_id, corpus_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, corpus_id) AS rn
    FROM scored
  ) t WHERE rn = 1
)
SELECT a.query_id AS id_a, a.corpus_id AS id_b, a.cosine
FROM nn a JOIN nn b
  ON a.query_id = b.corpus_id AND a.corpus_id = b.query_id
WHERE a.query_id < a.corpus_id
"""

def q_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier evaluation — train on EVEN vec_ids
    (per-label centroid), score the ODD held-out half, report per-label
    accuracy: the langid_confusion of the embedding modality, and the
    go/no-go check before trusting label-based blocking (mutual_nn) or
    cluster-scoped dedup (semdedup) on this embedding space.

    THE EXACTNESS TRICK (embedding_drift's quantization + a cosine
    identity): cosine is SCALE-INVARIANT, so the centroid never needs
    the /n division — score against the raw per-label SUM vector of
    milli-quantized BIGINT components. Every dot product and squared
    norm is then EXACT INTEGER arithmetic (≤ ~6e13 at sf0.1, ×100
    headroom); the only float per (vector, centroid) pair is one
    dot/sqrt division rounded 5 dp, and the argmax ranks (rounded
    cosine, label) — the knn convention, no raw-float cross-engine
    ordering. Counts and accuracy are exact BIGINTs + one division.

    Scale: one train-half groupBy to |labels|·dim sums (map-side
    combined), the centroid table broadcast back over the test half
    (|labels| rows — a true dim table), one rank window partitioned by
    test vector, one |labels|-sized rollup."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> cast(round(cast(x as double) * 1000)"
            " as bigint))"
        ).alias("mv"),
    )
    train = emb.where(F.col("vec_id") % 2 == 0)
    cents = (
        train.select("label", F.posexplode("mv").alias("p", "x"))
        .groupBy("label", "p")
        .agg(F.sum("x").cast("bigint").alias("s"))
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("p", "s"))).alias("ps")
        )
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(ps, e -> e.s)").alias("cv"),
        )
        .withColumn(
            "cn2",
            F.aggregate(
                F.expr("transform(cv, x -> x * x)"),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ),
        )
    )
    test = emb.where(F.col("vec_id") % 2 == 1).withColumn(
        "vn2",
        F.aggregate(
            F.expr("transform(mv, x -> x * x)"),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ),
    )
    scored = test.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "clabel",
        F.round(
            F.aggregate(
                F.zip_with(F.col("mv"), F.col("cv"), lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).cast("double")
            / F.sqrt((F.col("vn2") * F.col("cn2")).cast("double")),
            5,
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("clabel").asc()
    )
    top = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return top.groupBy(F.col("label").alias("true_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum((F.col("clabel") == F.col("label")).cast("long"))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum((F.col("clabel") == F.col("label")).cast("long"))
            / F.count(F.lit(1)),
            4,
        ).alias("accuracy"),
    )


_CENTROID_EVAL_SQL = """
WITH m AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                  AS BIGINT)) AS mv
  FROM embeddings
), cents AS (
  SELECT label AS clabel, list(s ORDER BY p) AS cv
  FROM (
    SELECT label, p, CAST(sum(x) AS BIGINT) AS s
    FROM (SELECT label, unnest(mv) AS x,
                 generate_subscripts(mv, 1) AS p
          FROM m WHERE vec_id % 2 = 0) t
    GROUP BY 1, 2
  ) g GROUP BY 1
), cn AS (
  SELECT clabel, cv,
         list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b)
           AS cn2
  FROM cents
), test AS (
  SELECT vec_id, label, mv,
         list_reduce(list_transform(mv, x -> x * x), (a, b) -> a + b)
           AS vn2
  FROM m WHERE vec_id % 2 = 1
), scored AS (
  SELECT vec_id, label, clabel,
         round(CAST(list_reduce(list_transform(
                      list_zip(mv, cv),
                      z -> z[1] * z[2]), (a, b) -> a + b) AS DOUBLE)
               / sqrt(CAST(vn2 * cn2 AS DOUBLE)), 5) AS cosine
  FROM test CROSS JOIN cn
), top AS (
  SELECT vec_id, label, clabel FROM (
    SELECT vec_id, label, clabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, clabel) AS rn
    FROM scored
  ) t WHERE rn = 1
)
SELECT label AS true_label,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)
             / count(*), 4) AS accuracy
FROM top GROUP BY 1
"""


QUERIES = {

    "knn_brute": q_knn_brute,
    "svd_embeddings": q_svd_embeddings,
    "knn_join": q_knn_join,
    "mutual_nn": q_mutual_nn,
    "centroid_eval": q_centroid_eval,
    "hard_negatives": q_hard_negatives,
    "retrieval_eval": q_retrieval_eval,
    "rrf_hybrid": q_rrf_hybrid,
    "knn_lsh": q_knn_lsh,
    "knn_ivf": q_knn_ivf,
    "knn_cells": q_knn_cells,
    "vector_stats": q_vector_stats,
    "vector_arith": q_vector_arith,
    "emb_near_dup": q_emb_near_dup,
    "emb_near_dup_lsh": q_emb_near_dup_lsh,
    "semdedup_clusters": q_semdedup_clusters,
    "ivf_balance": q_ivf_balance,
    "pq_encode": q_pq_encode,
    "pq_adc": q_pq_adc,
    "ivfpq": q_ivfpq,
    "ivfpq_rerank": q_ivfpq_rerank,
    "quantize_int8": q_quantize_int8,
    "sparse_cosine_pairs": q_sparse_cosine_pairs,
    "embedding_drift": q_embedding_drift,
    "decontam_semantic": q_decontam_semantic,
    "kmeans_train": q_kmeans_train,
    "mmr_rerank": q_mmr_rerank,
    "ann_recall": q_ann_recall,
}

ORACLE = {
    "knn_brute": _KNN_BRUTE_SQL,
    "knn_join": _KNN_JOIN_SQL,
    "mutual_nn": _MUTUAL_NN_SQL,
    "centroid_eval": _CENTROID_EVAL_SQL,
    "hard_negatives": _HARD_NEGATIVES_SQL,
    "retrieval_eval": _RETRIEVAL_EVAL_SQL,
    "rrf_hybrid": _rrf_sql(),
    # knn_lsh: rows-only by design (engine-specific bucketing)
    "knn_cells": _KNN_CELLS_SQL,
    "vector_stats": _VECTOR_STATS_SQL,
    "vector_arith": _VECTOR_ARITH_SQL,
    "emb_near_dup": _EMB_NEAR_DUP_SQL,
    # emb_near_dup_lsh: rows-only (approximate recall)
    "semdedup_clusters": _SEMDEDUP_SQL,
    "ivf_balance": _IVF_BALANCE_SQL,
    "pq_encode": _PQ_SQL,
    "pq_adc": _PQ_ADC_SQL,
    "ivfpq": _IVFPQ_SQL,
    "ivfpq_rerank": _IVFPQ_RERANK_SQL,
    "quantize_int8": _QUANT_SQL,
    "sparse_cosine_pairs": _SPARSE_COSINE_SQL,
    "embedding_drift": _EDRIFT_SQL,
    "decontam_semantic": _SEM_DECONTAM_SQL,
    "kmeans_train": _kmeans_sql(),
    "ann_recall": _ANN_RECALL_SQL,
}
