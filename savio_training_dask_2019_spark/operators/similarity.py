"""Similarity search over embedding columns (LLM-pipeline extension,
SURVEY.md §2.12).

- ``brute_knn``: exact top-k cosine against a query vector. The scan is a
  narrow map (JVM higher-order fns); the top-k is ``TakeOrderedAndProject``
  — per-partition heaps + driver merge of k rows, NOT a global sort. This is
  the correct exact plan at any scale.
- ``brute_knn_join``: exact k-NN for a *set* of queries via broadcast of the
  query side.
- ``lsh_knn``: approximate NN via random-hyperplane bucketing
  (BucketedRandomProjectionLSH on unit-normalized vectors, where L2 distance
  is monotone in cosine: ||a-b||² = 2-2cos). Sub-linear candidate sets at
  the cost of recall — the 100 TB path.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import Broadcast
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from ..functions.vectors import as_double, cosine_similarity, dot, l2_norm, l2_normalize


def brute_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``df`` rows vs one query vector.

    Returns (id, cosine round 5), ordered by (cosine desc, id asc) — the id
    tie-break makes the result set deterministic across engines."""
    # single array literal (one py4j call), not 64 per-element lit() calls
    q = F.lit([float(x) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine_similarity(as_double(F.col(vec_col)), q), 5).alias("cosine"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("id") != exclude_id)
    return scored.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)


def _top_k_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    q_extra: tuple[Column, ...] = (),
    c_extra: tuple[Column, ...] = (),
    pair_filter: Column | None = None,
    min_cosine: float | None = None,
) -> DataFrame:
    """Top-``k`` corpus rows per query by cosine rounded to 5 places, ties
    to the smaller corpus id: (query_id, corpus_id, cosine, *c_extra).
    ``q_extra``/``c_extra`` ride along each side, ``pair_filter`` applies
    before scoring and ``min_cosine`` before ranking. The query side
    broadcasts and the one shuffle is the per-query window. Norms are taken
    once per side, before the cross join: per pair they would cost 2/3 of
    the scoring flops, and ``dot / (cn * qn)`` is the same arithmetic bit
    for bit."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        *q_extra,
        as_double(F.col(vec_col)).alias("qvec"),
    ).withColumn("qn", l2_norm(F.col("qvec")))
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        *c_extra,
        as_double(F.col(vec_col)).alias("cvec"),
    ).withColumn("cn", l2_norm(F.col("cvec")))
    pairs = c.crossJoin(F.broadcast(q))
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    scored = pairs.select(
        "query_id",
        "corpus_id",
        F.round(
            dot(F.col("cvec"), F.col("qvec")) / (F.col("cn") * F.col("qn")), 5
        ).alias("cosine"),
        *c.columns[1:-2],  # c_extra's names
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= min_cosine)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked.filter(F.col("rn") <= k).drop("rn")


def brute_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact k-NN for every query row: broadcast the (small) query side,
    score corpus partitions locally, keep top-k per query via window
    (:func:`_top_k_cosine`). One shuffle (the per-query top-k), no corpus
    replication.

    ``exclude_self=True`` drops corpus rows whose id equals the query id —
    only meaningful when the queries are drawn from the corpus (same id
    space). Default False: with independent id spaces an id collision is
    coincidental and the neighbor must be kept."""
    not_self = F.col("query_id") != F.col("corpus_id")
    return _top_k_cosine(
        queries, corpus, vec_col, id_col, k, pair_filter=not_self if exclude_self else None
    )


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 10,
    min_cosine: float | None = None,
) -> DataFrame:
    """Hard-negative mining for embedding-model training (the DPR recipe,
    Karpukhin et al. 2020, arXiv:2004.04906 §4.2): for every anchor in
    ``queries``, the top-``k`` most cosine-similar ``corpus`` rows whose
    ``label_col`` DIFFERS from the anchor's — the near-miss negatives that
    make contrastive training hard. Returns (query_id, corpus_id, cosine
    round 5, neg_label) per kept pair, ordered deterministically by
    (cosine desc, corpus_id asc) within each anchor.

    ``min_cosine`` additionally floors the similarity — mining only
    negatives above a confusability threshold (common when the pool is
    huge and distant negatives are free from in-batch sampling anyway).

    Scale: :func:`brute_knn_join`'s plan (:func:`_top_k_cosine`) — the
    anchor BATCH broadcasts; the corpus is scanned once, never replicated,
    and the only shuffle is the per-anchor top-k window on ``query_id`` —
    uniform 8-byte keys, k rows of state per anchor. Mining negatives for
    EVERY training example is batched exactly like this (anchor batches of
    ~10⁴ against the full pool), or routed through the IVF/rp index tiers
    when the pool itself is the bottleneck."""
    return _top_k_cosine(
        queries,
        corpus,
        vec_col,
        id_col,
        k,
        q_extra=(F.col(label_col).alias("q_label"),),
        c_extra=(F.col(label_col).alias("neg_label"),),
        pair_filter=F.col("neg_label") != F.col("q_label"),  # negatives only
        min_cosine=min_cosine,
    )


class IVFIndex:
    """A built IVF (inverted-file) index: the fitted k-means coarse quantizer
    plus the cell-assigned corpus. Build ONCE (a full clustering + assignment
    job), query MANY times (each query scans ~``nprobe/nlist`` of the data).

    ``assigned`` columns: (id, __raw original vector, cell). It is persisted
    by default so repeated queries don't re-run the assignment; call
    ``unpersist()`` when done. For a production 100 TB layout, write it out
    with ``write_ivf_corpus`` (``partitionBy("cell")``) so a probe prunes
    whole files instead of filtering rows."""

    def __init__(self, model, assigned: DataFrame, persisted: bool):
        self.model = model
        self.assigned = assigned
        self._persisted = persisted

    @property
    def centers(self):
        return self.model.clusterCenters()

    def unpersist(self) -> None:
        if self._persisted:
            self.assigned.unpersist()
            self._persisted = False


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int = 16,
    seed: int = 42,
    persist: bool = True,
) -> IVFIndex:
    """Fit the IVF coarse quantizer (k-means, ``nlist`` cells) over
    unit-normalized vectors and assign every corpus row to its cell.

    This is the expensive step — a clustering job over the corpus — and is
    deliberately separate from :func:`ivf_query` so it runs once per corpus,
    not once per query (an index *build*, not a lookup). The assignment
    itself is a narrow map (the fitted model is broadcast by Spark ML)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__raw"),
        array_to_vector(l2_normalize(as_double(F.col(vec_col)))).alias("features"),
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="features").fit(unit)
    assigned = model.transform(unit).select(
        "id", "__raw", F.col("prediction").alias("cell")
    )
    if persist:
        assigned = assigned.persist()
    return IVFIndex(model, assigned, persisted=persist)


def probe_cells_for(index: IVFIndex, query_vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` cell ids whose centroids are nearest the (normalized)
    query — driver-side math over nlist centroids, O(nlist·dim)."""
    import numpy as np

    qv = np.asarray(query_vec, dtype="float64")
    qv = qv / np.linalg.norm(qv)
    dists = [float(np.linalg.norm(qv - np.asarray(c))) for c in index.centers]
    return [int(i) for i in np.argsort(dists)[:nprobe]]


def ivf_query(
    index: IVFIndex,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k against a built :class:`IVFIndex`: scan only the
    ``nprobe`` cells nearest the query (~``nprobe/nlist`` of the corpus),
    exact cosine within the probed cells, TakeOrderedAndProject top-k.
    Recall grows with nprobe (pytest-pinned vs brute force)."""
    cells = probe_cells_for(index, query_vec, nprobe)
    q = F.lit([float(x) for x in query_vec])
    return (
        index.assigned.filter(F.col("cell").isin(cells))
        .select(
            "id",
            F.round(cosine_similarity(as_double(F.col("__raw")), q), 5).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
    )


def write_ivf_corpus(index: IVFIndex, path: str) -> None:
    """Materialize the assigned corpus ``partitionBy("cell")`` — the
    production layout where an ``ivf_query`` probe's ``cell IN (...)`` filter
    becomes a partition filter and unprobed cells' files are never read
    (plan-pinned in tests/test_similarity.py)."""
    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-shot convenience: build (unpersisted) + single query. For any
    repeated-query workload use :func:`build_ivf_index` once and
    :func:`ivf_query` per lookup — this wrapper pays the clustering job on
    every call."""
    index = build_ivf_index(df, vec_col, id_col, nlist=nlist, seed=seed, persist=False)
    return ivf_query(index, query_vec, k=k, nprobe=nprobe)


_NORM_FLOOR = 1e-12  # zero-norm clamp: cosine vs anything becomes 0, not NULL


class _CentroidModel(NamedTuple):
    """A (cid, ce) centroid model collected to the driver: ``negcids`` is
    the ``-cid`` array literal in cid order, and ``blocks`` broadcasts, per
    vector length, the centroid positions, their float64 matrix and their
    clamped norms."""

    negcids: Column
    blocks: Broadcast


def _centroid_model(centroids: DataFrame) -> _CentroidModel:
    """Collect the O(nlist) centroid model — the same bytes the former
    broadcast-exchange attach brought to the driver — sort it by cid and
    ship it with ``sc.broadcast`` (the k-means and PQ-codebook precedent).
    Norms are ``max(sqrt(fold_dot(c, c)), _NORM_FLOOR)``, the bits
    ``greatest(l2_norm(ce), _NORM_FLOOR)`` gives."""
    import numpy as np
    import pyarrow as pa

    from ..functions.vectors import fold_dot, rows_by_length

    rows = centroids.select("cid", "ce").collect()  # bounded: the model
    rows.sort(key=lambda r: (r["cid"] is not None, r["cid"]))
    ce = pa.array([r["ce"] for r in rows], pa.list_(pa.float64()))
    blocks = [
        (pos, c, np.maximum(np.sqrt(fold_dot(c, c)), _NORM_FLOOR))
        for pos, c in rows_by_length(ce)
    ]
    cid_type = centroids.schema["cid"].dataType
    return _CentroidModel(
        F.lit([None if r["cid"] is None else -r["cid"] for r in rows]).cast(
            ArrayType(cid_type)
        ),
        centroids.sparkSession.sparkContext.broadcast((len(rows), blocks)),
    )


def _score_cells(df: DataFrame, vec: str, model: _CentroidModel) -> DataFrame:
    """Append ``n`` (the row's clamped norm) and ``sims`` (the UNROUNDED
    cosine to every centroid, in cid order) in ONE narrow ``mapInArrow``
    kernel — per-row folds over nlist centroids were the assignment's whole
    cost, evaluated interpreted. Exact-order rule of ``functions/vectors``:
    ``sims`` are the bits of ``dot(v, ce) / (n * cn)``. A pair the fold
    scores NULL (NULL vector or component, unequal lengths) is NULL here;
    a row with no norm (NULL vector or component) takes ``_NORM_FLOOR``,
    as ``greatest`` skips the NULL."""
    blocks = model.blocks

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        from ..functions.vectors import fold_dot, rows_by_length

        nlist, cents = blocks.value
        for batch in batches:
            m = batch.num_rows
            norm = np.full(m, _NORM_FLOOR)
            sims = np.zeros((m, nlist))
            valid = np.zeros((m, nlist), dtype=bool)
            for rows, x in rows_by_length(batch.column(vec)):
                n = np.maximum(np.sqrt(fold_dot(x, x)), _NORM_FLOOR)
                norm[rows] = n
                for pos, c, cn in cents:
                    if c.shape[1] == x.shape[1]:
                        sims[np.ix_(rows, pos)] = fold_dot(x[:, None], c[None]) / (
                            n[:, None] * cn[None]
                        )
                        valid[np.ix_(rows, pos)] = True
            yield pa.RecordBatch.from_arrays(
                batch.columns
                + [
                    pa.array(norm),
                    pa.ListArray.from_arrays(
                        pa.array(np.arange(m + 1, dtype=np.int32) * nlist),
                        pa.array(sims.reshape(-1), mask=~valid.reshape(-1)),
                    ),
                ],
                batch.schema.names + ["n", "sims"],
            )

    out = StructType(
        df.schema.fields
        + [StructField("n", DoubleType()), StructField("sims", ArrayType(DoubleType()))]
    )
    return df.mapInArrow(kernel, out)


def _cell_sims(sims, negcids):
    """array<struct(s, negcid)>: each centroid's cosine (``sims``, from
    :func:`_score_cells`) rounded to 5 places by Spark, paired with -cid.
    Norms are clamped to ``_NORM_FLOOR``, so an all-zero vector scores
    cosine 0.0 against everything (and takes the smallest-cid cell by the
    tie rule) instead of propagating NULL and silently vanishing (ADVICE
    r8).

    ``negcid`` (= -cid) makes struct ordering break similarity ties toward
    the SMALLEST centroid id under both ``array_max`` and descending sort —
    the deterministic tie rule every oracle twin can replicate."""
    return F.zip_with(
        sims,
        negcids,
        lambda s, nc: F.struct(F.round(s, 5).alias("s"), nc.alias("negcid")),
    )


def assign_cells(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    _model: _CentroidModel | None = None,
) -> DataFrame:
    """Argmax-cosine cell assignment as a NARROW per-batch kernel against
    the broadcast centroid model (:func:`_score_cells`) — the corpus side
    of :func:`cell_knn_join`, exposed for occupancy diagnostics
    (``q_ivf_balance``) and custom cell pipelines. Returns (id, v
    double-vector, n clamped-l2-norm, cell); ties break to the smallest
    cid, zero-norm rows take cosine 0.0 everywhere and land in the
    smallest-cid cell. No shuffle; the model is collected once, at build.

    ``_model``: a prebuilt :func:`_centroid_model` — pass it when ANOTHER
    consumer uses the same model (``cell_knn_join``'s query side) so it is
    collected and broadcast once."""
    model = _centroid_model(centroids) if _model is None else _model
    scored = _score_cells(
        df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")),
        "v",
        model,
    )
    return scored.select(
        "id",
        "v",
        "n",
        (-F.array_max(_cell_sims(F.col("sims"), model.negcids))["negcid"]).alias("cell"),
    )


def cell_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    nprobe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF cell-join k-NN for a LARGE query set: exact top-``k`` within the
    ``nprobe`` probed cells per query, with NEITHER fact side broadcast —
    the corpus×corpus scale path :func:`brute_knn_join` (broadcast query
    batch) and :func:`ivf_query` (one driver-side probe) cannot cover.

    Mechanics: ``centroids`` (cid, ce double-vector — the model, O(nlist)
    rows) is collected once at build and broadcast to both fact sides
    (:func:`_centroid_model`); cell assignment is then a narrow Arrow
    kernel per batch (:func:`_score_cells`, exact fold order) plus the
    rounding and tie rule in Spark — corpus rows take their argmax-cosine
    cell, query rows explode into their top-``nprobe`` cells (ties break
    to the smallest cid via the negcid struct trick). The post-join pair
    scores (Σ|cell|·|probes(cell)|, far fewer) stay on the JVM fold.
    Probes ⋈ corpus is a plain equi join ON THE CELL ID, hinted
    ``shuffle_hash`` so Catalyst never broadcasts a fact side; scoring
    happens only within probed cells (Σ|cell|·|probes(cell)| pairs, never
    |Q|·|C|), and the per-query top-k window is the only other shuffle.

    Scale levers: nlist is the join parallelism — at 1000 executors pick
    nlist ≥ cores (the IVF sizing rule nlist ≈ √n gives this for free);
    a skewed hot cell is an AQE skew-split case — MACHINE-VERIFIED, not
    assumed: both join children are plain shuffle stages (unlike the
    agg-fed shape tests/test_skew.py proved unsplittable), and
    tests/test_skew.py::test_knn_cells_hot_cell_is_aqe_splittable pins
    ShuffledHashJoin(skew=true) firing on a planted 99.5%-hot cell.

    Zero-norm vectors: norms are clamped to ``_NORM_FLOOR`` so an all-zero
    embedding scores cosine 0.0 everywhere, takes the smallest-cid cell,
    and stays in the result set rather than vanishing as NULL (ADVICE r8).
    Returns (query_id, corpus_id, cosine round 5), top-k per query by
    (cosine desc, corpus_id)."""
    model = _centroid_model(centroids)
    c = assign_cells(corpus, vec_col, id_col, centroids, _model=model).select(
        F.col("id").alias("corpus_id"),
        F.col("v").alias("cvec"),
        F.col("n").alias("cn"),
        "cell",
    )
    q = (
        _score_cells(
            queries.select(
                F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
            ),
            "qvec",
            model,
        )
        .withColumn(
            "probe",
            F.explode(
                F.slice(
                    F.reverse(F.array_sort(_cell_sims(F.col("sims"), model.negcids))),
                    1,
                    nprobe,
                )
            ),
        )
        .select(
            "query_id", "qvec", F.col("n").alias("qn"), (-F.col("probe.negcid")).alias("cell")
        )
    )
    pairs = q.join(c.hint("shuffle_hash"), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("corpus_id"))
    # norms were computed once per side pre-join (each corpus row meets every
    # probe in its cell); dot/(cn*qn) is cosine bit-for-bit
    scored = pairs.select(
        "query_id",
        "corpus_id",
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("cn") * F.col("qn")), 5
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


class RPIndex:
    """A built sign-band random-projection index for ANN point lookups:
    fixed unit hyperplanes + the banded corpus (one packed long key per
    (table, doc)) + the unit-normalized vectors, both persisted. Build once,
    probe many — the LSH twin of :class:`IVFIndex`'s build/query split.

    Keys pack WITHOUT hashing (table index in the high bits, sign bits
    below), so a query's band keys are computable driver-side with numpy —
    a probe is a `key IN (...)` filter over the banded corpus, no join."""

    def __init__(self, planes, bands: DataFrame, unit: DataFrame):
        self.planes = planes  # (num_tables, bits, dim), unit rows
        self.bands = bands  # (key long, id)
        self.unit = unit  # (id, v array<double>)

    def unpersist(self) -> None:
        self.bands.unpersist()
        self.unit.unpersist()


def build_rp_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_tables: int = 8,
    bits: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> RPIndex:
    """Build the sign-band index: per table, ``bits`` sign bits of the unit
    vector's projections onto fixed unit hyperplanes, packed into one long
    (table << 32 | bits). One narrow map over the corpus — no shuffle."""
    import numpy as np

    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "build_rp_index: cannot infer vector dim from an empty corpus; "
                "pass dim= explicitly"
            )
        dim = len(first[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables, bits, dim))
    planes = planes / np.linalg.norm(planes, axis=2, keepdims=True)

    unit = df.select(
        F.col(id_col).alias("id"),
        l2_normalize(as_double(F.col(vec_col))).alias("v"),
    ).persist()
    # one SQL literal for the planes (py4j-cheap); data-driven band packing
    planes_sql = "array(%s)" % ",".join(
        "array(%s)"
        % ",".join("array(%s)" % ",".join(f"{float(x)!r}D" for x in p) for p in tbl)
        for tbl in planes
    )
    keys = F.transform(
        F.expr(planes_sql),
        lambda tbl, t: F.aggregate(
            F.zip_with(
                tbl,
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda plane, p: F.when(
                    dot(F.col("v"), plane) > 0,
                    F.call_function("shiftleft", F.lit(1).cast("long"), p),
                ).otherwise(F.lit(0).cast("long")),
            ),
            (t.cast("long") * F.lit(1 << 32).cast("long")),
            lambda acc, x: acc.bitwiseOR(x),
        ),
    )
    bands = unit.select("id", F.explode(keys).alias("key")).persist()
    return RPIndex(planes, bands, unit)


def rp_query(
    index: RPIndex,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """ANN point lookup against a built :class:`RPIndex`: the query's band
    keys are computed DRIVER-SIDE (numpy signs over num_tables × bits
    projections — O(tables·bits·dim) scalar math), the probe is a
    ``key IN (...)`` filter over the banded corpus (touches only matching
    buckets — sub-linear, no join, no shuffle before the top-k), then exact
    cosine + TakeOrderedAndProject over the candidates. Recall is the LSH
    tradeoff (more tables / fewer bits → more candidates), pytest-pinned vs
    brute force."""
    import numpy as np

    qv = np.asarray(query_vec, dtype="float64")
    qv = qv / np.linalg.norm(qv)
    num_tables, bits, _ = index.planes.shape
    qkeys = []
    for t in range(num_tables):
        sign_bits = (index.planes[t] @ qv) > 0
        packed = (t << 32) | int(sum(1 << p for p in range(bits) if sign_bits[p]))
        qkeys.append(packed)

    cand = index.bands.filter(F.col("key").isin(qkeys)).select("id").distinct()
    q = F.lit([float(x) for x in qv])
    return (
        cand.join(index.unit, "id")
        .select("id", F.round(cosine_similarity(F.col("v"), q), 5).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
    )


def lsh_knn(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate NN via BucketedRandomProjectionLSH on unit vectors.

    Deterministic for a fixed seed; returns (id, l2_dist round 5). Cosine
    ranking is recovered as cos = 1 - dist²/2."""
    import numpy as np
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    unit = df.select(
        F.col(id_col).alias("id"),
        array_to_vector(l2_normalize(as_double(F.col(vec_col)))).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(unit)
    qv = np.asarray(query_vec, dtype="float64")
    qv = qv / np.linalg.norm(qv)
    nn = model.approxNearestNeighbors(unit, Vectors.dense(qv), k, distCol="l2_dist")
    return nn.select(
        "id",
        F.round("l2_dist", 5).alias("l2_dist"),
        F.round(1 - F.col("l2_dist") * F.col("l2_dist") / 2, 5).alias("cosine_est"),
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Product quantization encode (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search", IEEE TPAMI): split each
    vector into ``m`` subvectors of ``dim/m`` dims; each subvector is
    replaced by the id of its nearest codebook centroid in that subspace.
    A 64-dim float32 vector (256 B) becomes m small ints — the memory
    compression that makes billion-scale ANN indexes (IVF-PQ) fit in RAM;
    pair with :func:`assign_cells` for the coarse quantizer.

    ``codebook``: (cid, ce) rows with ``ce`` of length ``dim`` — the
    per-subspace codebooks are its subvector slices (a shared-centroid
    demo formulation that replays in SQL; production fits per-subspace
    k-means and the encode below is unchanged). Nearest = argmax of
    round(dot(x_j, c_j) - 0.5·||c_j||², 5) — the ||x||²-free form of
    min-L2 — ties to the smallest cid.

    Returns (id, codes array<bigint>, code_str 'c0-c1-...-cm-1', mse)
    where mse is the reconstruction error
    round(Σ_j ||x_j - c_code_j||² / dim, 4); ``codes`` feeds
    :func:`pq_adc_topk`, ``code_str`` the cross-engine oracle compare.

    Scale: the codebook folds into ONE broadcast array row (m·|codebook|
    structs); encoding is a narrow per-row fold — no shuffle, no Python.
    Encode cost per row is m · |codebook| · dim/m = |codebook| · dim
    multiply-adds, the same arithmetic as one brute scan over the
    codebook."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    cb = (
        codebook.select(
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("cid"),
            as_double(F.col("ce")).alias("ced"),
        )
        .select(
            "sub",
            "cid",
            F.slice(F.col("ced"), F.col("sub") * dsub + 1, dsub).alias("cv"),
        )
        .withColumn("cn2", dot(F.col("cv"), F.col("cv")))
        .drop("ced")
    )
    cb_arr = F.broadcast(
        cb.select(
            F.sort_array(
                F.collect_list(F.struct("sub", "cid", "cv", "cn2"))
            ).alias("cbs")
        )
    )

    def _xsub(v, j):
        return F.slice(v, j * dsub + 1, dsub)

    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.array_max(
            F.transform(
                F.filter(F.col("cbs"), lambda c: c["sub"] == j),
                lambda c: F.struct(
                    F.round(
                        dot(_xsub(F.col("v"), j), c["cv"]) - 0.5 * c["cn2"], 5
                    ).alias("s"),
                    (-c["cid"]).alias("negcid"),
                    (
                        F.element_at(F.col("xn2s"), j + 1)
                        - 2.0 * dot(_xsub(F.col("v"), j), c["cv"])
                        + c["cn2"]
                    ).alias("d2"),
                ),
            )
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .crossJoin(cb_arr)
        .withColumn(
            "xn2s",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: dot(_xsub(F.col("v"), j), _xsub(F.col("v"), j)),
            ),
        )
        .withColumn("subs", subs)
        .select(
            "id",
            F.transform(F.col("subs"), lambda b: -b["negcid"]).alias("codes"),
            F.array_join(
                F.transform(
                    F.col("subs"), lambda b: (-b["negcid"]).cast("string")
                ),
                "-",
            ).alias("code_str"),
            F.round(
                F.aggregate(
                    F.transform(F.col("subs"), lambda b: b["d2"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / float(dim),
                4,
            ).alias("mse"),
        )
    )


_ADC_TABLE_MAX_ENTRIES = 65536  # plan-literal ceiling: ~0.5 MB of doubles


def pq_adc_topk(
    codes: DataFrame,
    codebook_rows: list[tuple[int, list[float]]],
    query_vec: list[float],
    m: int,
    dim: int,
    k: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k — the search half of IVF-PQ
    (Jégou et al. 2011 §IV): the query stays a RAW vector; each corpus
    row's distance is approximated from its stored codes via per-subspace
    lookup tables

        adc(x) = Σ_j round(||q_j − c_{code_j}||², 5)

    computed DRIVER-side over the (model-sized, O(m·|codebook|) = dozens
    of entries) codebook and shipped as ONE map literal — so scoring a
    corpus row is m map lookups + a 4-term fold, no vector math, no join,
    no shuffle; top-k is TakeOrdered. This is why PQ wins at 10⁹ rows:
    the scan touches codes (a few bytes/row), never the vectors.

    ``codebook_rows``: [(cid, full-dim centroid), ...] — the same rows fed
    to :func:`pq_encode`; per-entry distances are computed with a
    SEQUENTIAL python-float sum so the table replays digit-for-digit in
    SQL (list_sum order). Returns (id, adc round 4) by (adc asc, id).

    Size bound of the shipped literal, stated at the point of
    construction: the map holds exactly m·|codebook| (key, double)
    entries — at the production shape of 256 centroids/subspace × m=8
    that is 2,048 entries, a few KB in the plan; it is a MODEL, never
    data. Guarded: m·|codebook| > {cap} raises rather than inflating the
    query plan (a codebook that large belongs in a broadcast join, not a
    literal)."""
    import decimal

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if m * len(codebook_rows) > _ADC_TABLE_MAX_ENTRIES:
        raise ValueError(
            f"pq_adc_topk: distance table would hold {m * len(codebook_rows)}"
            f" entries (> {_ADC_TABLE_MAX_ENTRIES}); a codebook this large"
            " must ship as a broadcast join, not a plan literal"
        )
    dsub = dim // m
    q = [float(x) for x in query_vec]

    def _r5(x: float) -> float:
        # HALF_UP like Spark/DuckDB round — builtin round is half-even and
        # diverges from the oracle exactly at a 5th-decimal boundary
        # (FIXTURES.md gotcha)
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.00001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    entries: list = []
    for cid, ce in codebook_rows:
        c = [float(x) for x in ce]
        for j in range(m):
            d2 = 0.0
            for i in range(j * dsub, (j + 1) * dsub):  # sequential, like SQL
                d2 += (q[i] - c[i]) * (q[i] - c[i])
            entries.append((f"{j}:{cid}", _r5(d2)))
    dtab = F.create_map(
        *[x for key, val in entries for x in (F.lit(key), F.lit(val))]
    )
    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.col("codes"),
                lambda j, c: F.element_at(
                    dtab, F.concat(j.cast("string"), F.lit(":"), c.cast("string"))
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    return (
        codes.select(F.col("id"), adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("id").asc())
        .limit(k)
    )


pq_adc_topk.__doc__ = pq_adc_topk.__doc__.replace(
    "{cap}", str(_ADC_TABLE_MAX_ENTRIES)
)


def ivfpq_topk(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    codebook: DataFrame,
    query_vec: list[float],
    m: int = 4,
    dim: int = 64,
    k: int = 10,
    nprobe: int = 2,
    rerank_k: int | None = None,
) -> DataFrame:
    """The full IVF-PQ search composition (Jégou et al. 2011 §V) — coarse
    quantizer prune + PQ asymmetric distance within the probed cells:

      1. corpus rows are cell-assigned (:func:`assign_cells`, narrow
         Arrow kernel) and PQ-encoded (:func:`pq_encode`) — at scale
         BOTH are done once at ingest and stored ``partitionBy(cell)``
         with the codes, so a query reads only its probed cells' codes;
      2. the query's top-``nprobe`` cells are chosen driver-side against
         the O(nlist) centroid model (same argmax rule as the corpus);
      3. candidates = codes in probed cells, scored by the ADC lookup
         table — m map hits + a fold per candidate, no vector math;
      4. OPTIONAL exact re-rank (``rerank_k``): ADC keeps the top
         ``rerank_k`` candidates instead of ``k``; their RAW vectors are
         re-read (at scale: a k'-row point lookup against the cell
         layout), scored by exact cosine, and the final top-``k`` is cut
         on (cosine desc, id) — the standard third stage that recovers
         most of the recall PQ compression gave up. Off by default so the
         pure-ADC tier stays measurable (and the catalog oracle simple).

    Returns (id, cell, adc round 4) for the top-``k`` by (adc asc, id) —
    plus ``cosine`` (round 5) when ``rerank_k`` is set, ordered by it.
    Every stage is deterministic and SQL-replayable with the demo
    centroid/codebook conventions, so the whole pipeline is
    oracle-checkable end-to-end."""
    import decimal

    cent_rows = centroids.collect()  # O(nlist) by contract — the model
    q = [float(x) for x in query_vec]

    def _round5_half_up(x: float) -> float:
        # FIXTURES.md gotcha: Spark/DuckDB round HALF_UP; Python's builtin
        # round is half-even — the probe selection must match the oracle
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.00001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    nq = max(sum(x * x for x in q) ** 0.5, _NORM_FLOOR)  # loop-invariant

    def _cos_key(ce):
        c = [float(x) for x in ce]
        dot_ = 0.0
        nc = 0.0
        for i in range(dim):
            dot_ += q[i] * c[i]
            nc += c[i] * c[i]
        nc = max(nc**0.5, _NORM_FLOOR)
        return _round5_half_up(dot_ / (nq * nc))

    ranked = sorted(
        ((_cos_key(r["ce"]), -int(r["cid"])) for r in cent_rows), reverse=True
    )
    probe_cells = [-negcid for _s, negcid in ranked[:nprobe]]

    # prune FIRST, then encode only the survivors: this mirrors the real
    # layout (codes precomputed at ingest, stored partitionBy(cell), a
    # query reads only its probed cells' codes) without ever encoding the
    # unprobed corpus in the demo path
    pruned = assign_cells(corpus, vec_col, id_col, centroids).where(
        F.col("cell").isin([int(c) for c in probe_cells])
    )
    codes = pq_encode(pruned, "v", "id", codebook, m=m, dim=dim).select(
        "id", "codes"
    )
    cb_rows = [(int(r["cid"]), [float(x) for x in r["ce"]]) for r in codebook.collect()]
    top = pq_adc_topk(codes, cb_rows, q, m, dim, k=rerank_k or k)
    out = (
        pruned.join(F.broadcast(top), "id")  # the k'-row RESULT broadcasts
        .select("id", "cell", "adc", "v", "n")
    )
    if rerank_k is None:
        return out.select("id", "cell", "adc").orderBy(
            F.col("adc").asc(), F.col("id").asc()
        )
    qlit = F.lit(q)
    nq = F.greatest(  # zero-norm clamp: cosine 0.0, never NULL (ADVICE r8)
        F.sqrt(F.aggregate(qlit, F.lit(0.0), lambda a, x: a + x * x)),
        F.lit(_NORM_FLOOR),
    )
    return (
        out.withColumn(
            "cosine", F.round(dot(F.col("v"), qlit) / (F.col("n") * nq), 5)
        )
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
        .select("id", "cell", "adc", "cosine")
    )


# --- scalar int8 quantization --------------------------------------------------


def scalar_quantize_int8(
    df: DataFrame, vec_col: str, id_col: str = "vec_id", keep: tuple = ()
) -> DataFrame:
    """Symmetric absmax int8 quantization (the FAISS ``SQ8`` middle tier
    between raw float and PQ codes): per vector, scale = max |v_i| and
    code_i = round(v_i / scale * 127) — 4x smaller than float32 scans for
    ~1e-2 relative error, the standard first lever when an ANN corpus
    stops fitting in page cache. Output: (``id_col``, n_dims, scale
    double, codes array<tinyint>).

    Pure narrow per-row Catalyst work (transform / array_max / floor) —
    no shuffle, no Python boundary. Rounding is floor(x + 0.5)
    (round-half-up) because both Spark and DuckDB evaluate it bit-
    identically on doubles, which keeps the catalog query oracle-exact;
    a zero vector quantizes to all-zero codes via the eps-floored scale.
    No clamp is needed: |v_i| <= scale by construction, so the code is
    already in [-127, 127]."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    safe = F.greatest(scale, F.lit(1e-30))
    codes = F.transform(v, lambda x: F.floor(x / safe * 127 + F.lit(0.5)))
    return df.select(
        id_col,
        *keep,  # passthrough (e.g. the raw vector for error measurement)
        F.size(vec_col).alias("n_dims"),
        scale.alias("scale"),
        codes.cast("array<tinyint>").alias("codes"),
    )


def max_cosine_vs_set(
    df: DataFrame, vec_col: str, id_col: str, ref: DataFrame
) -> DataFrame:
    """Per-row maximum cosine against EVERY vector of ``ref`` — the
    semantic-membership primitive behind embedding-based decontamination
    ("is this training doc suspiciously close to any eval item") and
    reference-similarity data selection. Output: (``id_col``, max_cos
    double, raw — caller rounds/thresholds).

    Plan shape (the eval-side-is-small contract, same as the n-gram
    decontam tiers): ``ref`` is collected once, when the query is built,
    as a :func:`_centroid_model` — bounded O(|ref|·dim), the eval suite,
    never the corpus — and each corpus row is scored against all of it by
    :func:`_score_cells`, the narrow Arrow kernel :func:`assign_cells`
    runs. No shuffle, no join on the corpus side. When |ref| outgrows the
    driver, the same question becomes :func:`cell_knn_join` with the eval
    side as probes.

    Bits are the Spark fold's (exact-order rule of ``functions/vectors``):
    ``dot(v, r) / (n * rn)`` with both norms clamped to ``_NORM_FLOOR``,
    so a zero vector scores 0.0, not NULL. A pair with a NULL vector, a
    NULL component or unequal lengths has no score; a row with no scored
    pair, or an empty ``ref``, gets NULL."""
    # every ref row shares one cid: the max does not depend on their order
    model = _centroid_model(
        ref.select(F.lit(0).alias("cid"), as_double(F.col(vec_col)).alias("ce"))
    )
    scored = _score_cells(
        df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")),
        "v",
        model,
    )
    return scored.select(
        F.col("id").alias(id_col), F.array_max("sims").alias("max_cos")
    )


def mmr_select(
    cands: "list[tuple]",
    k: int,
    lam: float = 0.7,
) -> "list[tuple]":
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    1998) — the diversification stage between retrieval and the context
    window: greedily pick the candidate maximizing
    ``lam·relevance − (1−lam)·max_cosine_to_already_selected``, so near
    duplicates of an already-chosen passage are penalized out.

    ``cands`` is the RETRIEVED candidate list — (id, relevance, vector)
    tuples, len ~ top-k·(2..5) — NOT the corpus: MMR is inherently a
    small-list greedy (each step needs similarities to the selected set),
    so it runs driver-side on O(|cands|·dim) floats, exactly like
    ``probe_cells_for``'s bounded driver math. The distributed stages
    before it (scoring, top-k) are where the corpus lives. Ties break to
    the smallest id; vectors are unit-normalized here (zero-norm clamped
    at _NORM_FLOOR). Returns (id, relevance, mmr_score) in selection
    order."""
    import numpy as np

    if k < 0 or not 0.0 <= lam <= 1.0:
        raise ValueError(f"need k >= 0 and 0 <= lam <= 1, got k={k} lam={lam}")
    if not cands:
        return []
    ids = [c[0] for c in cands]
    rel = np.asarray([float(c[1]) for c in cands])
    mat = np.asarray([c[2] for c in cands], dtype="float64")
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1), _NORM_FLOOR)[:, None]
    sims = mat @ mat.T
    remaining = list(range(len(cands)))
    out = []
    max_sel = np.zeros(len(cands))  # max cosine to the selected set
    for _ in range(min(k, len(cands))):
        best = min(
            remaining,
            key=lambda i: (-(lam * rel[i] - (1.0 - lam) * max_sel[i]), ids[i]),
        )
        out.append(
            (ids[best], float(rel[best]),
             float(lam * rel[best] - (1.0 - lam) * max_sel[best]))
        )
        remaining.remove(best)
        max_sel = np.maximum(max_sel, sims[:, best])
    return out
