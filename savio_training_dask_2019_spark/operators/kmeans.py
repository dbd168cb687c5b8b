"""Exact-arithmetic Lloyd k-means — the TRAINING loop behind every IVF
coarse quantizer in the ANN tier, expressed so the result is bit-identical
across engines and partitionings.

``build_ivf_index`` (operators/similarity.py) already fits Spark ML's
float k-means for the production index build; that path is rows-only by
contract because float centroid means accumulate summation-order noise.
This module is the oracle-backed counterpart: vectors are quantized to
integer grid units up front, every distance is a BIGINT squared-L2 sum,
and every centroid update is a BIGINT floor division — the fixed-point
PageRank lesson (operators/graph.py) applied to clustering. Quantization
is part of the problem statement, not an approximation of it: both engines
cluster the SAME integer points, so "equal output" is meaningful.

Determinism by construction:
- quantize: ``floor((CAST(x AS DOUBLE) + offset) * quant)`` — float32 to
  float64 cast is exact, one IEEE add and one IEEE multiply in a fixed
  order, floor is exact; identical text runs on DuckDB.
- assign: argmin over BIGINT distances with ties to the SMALLEST centroid
  id (array_min over struct(dist, cid) — lexicographic struct ordering).
- update: per-dimension ``sum div count`` — BIGINT integer division;
  the positive ``offset`` keeps every quantized coordinate (hence every
  sum) nonnegative, where Spark's truncating ``div`` and DuckDB's
  flooring ``//`` agree. An empty cluster keeps its previous centroid.

Scale: the corpus is scanned once per iteration (assignment + per-batch
partial sums are ONE ``mapInArrow`` numpy kernel — int64 matmul argmin and
an ``np.add.at`` scatter per Arrow batch, no join; r18 — the previous
interpreted HOF fold over k×dim per row plus a posexplode of n·dim rows
was the round's dominant cost); the only shuffle per iteration is the
``groupBy(cluster, dim)`` over the k·dim-per-batch partial rows.
Driver state is the O(k·dim) centroid model per iteration (the PQ-codebook
collect precedent, similarity.py:808) — bounded by the model, never the
data. iters is fixed (an index build chooses its budget up front), so the
oracle unrolls to chained CTEs exactly like pagerank_oracle_cte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..workers import bind


def quantize_expr(vec_col: str, quant: int, offset: float):
    """Column: the integer-grid quantization of an array<float> column —
    ``floor((CAST(x AS DOUBLE) + offset) * quant)`` per component, BIGINT.
    The identical arithmetic (one add, one multiply, floor) is mirrored in
    the oracle; ``offset`` must exceed ``-min(x)`` so every output is
    nonnegative (keeps floor-div vs truncating-div engine-equal)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            (x.cast("double") + F.lit(float(offset))) * F.lit(float(quant))
        ).cast("bigint"),
    )


def _partials(cids, C, c2, dim, batches):
    """One Lloyd round's assignment and partial sums per Arrow batch of
    quantized vectors, against the centroids ``C`` (ids ``cids``, squared
    norms ``c2``) — the kernel of :func:`kmeans_lloyd_exact`'s rounds."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        col = batch.column(0)
        n = len(col)
        if n == 0:
            continue
        # ADVICE r18 #3: to_numpy(zero_copy_only=False) on an int64 list
        # array WITH NULLS yields float64 NaN, and the int64 cast below would
        # turn NaN into INT64_MIN — a silently corrupted assignment. Fail
        # loudly instead, matching the quantization guard's posture (ragged
        # rows already throw on the reshape).
        flat = col.flatten()
        if col.null_count or flat.null_count:
            raise ValueError(
                "kmeans Arrow kernel: null vector or null component "
                "in the quantized input — every row must carry a "
                f"complete {dim}-dim int64 vector"
            )
        X = flat.to_numpy(zero_copy_only=False).reshape(n, dim)
        X = np.ascontiguousarray(X, dtype=np.int64)
        # argmin_c ||x-c||² == argmin_c (||c||² - 2 x·c), ints exact
        cluster = np.argmin(c2[None, :] - 2 * (X @ C.T), axis=1)
        counts = np.bincount(cluster, minlength=len(cids))
        sums = np.zeros((len(cids), dim), dtype=np.int64)
        np.add.at(sums, cluster, X)
        nz = np.flatnonzero(counts)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(cids[nz], dim).astype(np.int32), pa.int32()),
                pa.array(np.tile(np.arange(dim, dtype=np.int32), len(nz)), pa.int32()),
                pa.array(sums[nz].reshape(-1), pa.int64()),
                pa.array(np.repeat(counts[nz], dim).astype(np.int64), pa.int64()),
            ],
            ["cluster", "d0", "s", "n"],
        )


def kmeans_lloyd_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    quant: int = 1000,
    offset: float = 1.0,
) -> DataFrame:
    """``iters`` Lloyd rounds over integer-quantized vectors; returns the
    per-(cluster, dim) model of the FINAL round — one row per non-empty
    cluster per dimension: ``(cluster int, dim int 1-based, c_q bigint,
    n_members bigint)`` where ``c_q`` is the centroid component on the
    integer grid (offset still applied — compare like with like).

    Initialization: the ``k`` vectors with the smallest ids, cluster ids
    0..k-1 in id order — deterministic, no RNG. Clusters empty in an
    INTERMEDIATE round keep their previous centroid (so they can refill);
    clusters empty in the final assignment are absent from the output —
    both rules run identically in the SQL oracle.

    Driver state: O(k·dim) longs per iteration (init collect + one
    per-round sums collect) — bounded by the model size by construction,
    never by the corpus; the final round's aggregation stays a DataFrame.
    """
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1, got k={k} iters={iters}")
    q = df.select(
        F.col(id_col).alias("id"), quantize_expr(vec_col, quant, offset).alias("qv")
    ).localCheckpoint(eager=True)  # scanned iters times — truncate lineage

    # bounded collect: O(k·dim) longs, the model's initial state
    init = q.orderBy("id").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"k={k} but only {len(init)} vectors")
    cents: dict[int, list[int]] = {
        i: [int(v) for v in r["qv"]] for i, r in enumerate(init)
    }
    for c in cents.values():
        if any(v < 0 for v in c):
            raise ValueError(
                "negative quantized coordinate — raise `offset` so floor-div"
                " and truncating-div agree (see module docstring)"
            )

    def round_sums(model: dict[int, list[int]]) -> DataFrame:
        """Assignment + per-batch partial sums in ONE ``mapInArrow`` pass
        (r18, guide §4.2): the former JVM form — a per-row interpreted
        higher-order fold over k centroids × dim components, then a
        posexplode into n·dim rows for the groupBy — spent the round in
        interpreted expression evaluation (no codegen for HOF lambdas)
        and shuffled the exploded token stream. Here each Arrow batch is
        one int64 matmul (argmin via the ||x||²-free expansion
        ``||c||² − 2·x·c`` — adding the per-row ||x||² cannot change the
        argmin or its ties) plus one ``np.add.at`` scatter, and at most
        k·dim partial rows leave the Python worker per batch, so the
        groupBy shuffles O(k·dim·batches) rows instead of n·dim.

        Exactness is unchanged BY CONSTRUCTION: every quantity is int64
        (products bounded far below 2⁶³ by the quantization guard), integer
        sums are order-independent, and np.argmin's first-minimum rule over
        centroids sorted by cid IS the struct-min / ORDER BY dist, cid tie
        rule the oracle replays."""
        import numpy as np

        items = sorted(model.items())
        cids = np.array([cid for cid, _ in items], dtype=np.int64)
        C = np.array([ce for _, ce in items], dtype=np.int64)
        c2 = (C * C).sum(axis=1)  # int64, exact
        dim = C.shape[1]

        return (
            q.select("qv")
            .mapInArrow(
                bind(_partials, "partials", cids, C, c2, dim),
                "cluster int, d0 int, s bigint, n bigint",
            )
            .groupBy("cluster", "d0")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )

    for _ in range(iters - 1):
        sums = round_sums(cents).collect()  # bounded O(k·dim)
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cid.setdefault(r["cluster"], {})[r["d0"]] = (int(r["s"]), int(r["n"]))
        cents = {
            cid: (
                [by_cid[cid][d][0] // by_cid[cid][d][1] for d in range(len(ce))]
                if cid in by_cid
                else ce  # empty intermediate cluster: carry previous
            )
            for cid, ce in cents.items()
        }

    final = round_sums(cents)
    return final.select(
        F.col("cluster"),
        (F.col("d0") + 1).cast("int").alias("dim"),
        F.expr("s div n").cast("bigint").alias("c_q"),
        F.col("n").cast("bigint").alias("n_members"),
    )


def kmeans_oracle_cte(
    src_sql: str,
    id_sql: str,
    vec_sql: str,
    dim: int,
    k: int = 8,
    iters: int = 3,
    quant: int = 1000,
    offset: float = 1.0,
) -> str:
    """The DuckDB twin as chained CTEs — one assign + one update CTE per
    Lloyd round, generated for a fixed ``iters`` (the pagerank_oracle_cte
    pattern). Same quantization text, same argmin tie rule (ORDER BY dist,
    cid), same BIGINT floor-div update, same empty-cluster carry."""
    dist = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> (q.qv[i] - c.ce[i]) * (q.qv[i] - c.ce[i])))"
    )
    parts = [
        f"""q AS (
  SELECT {id_sql} AS id,
         list_transform({vec_sql},
           x -> CAST(floor((CAST(x AS DOUBLE) + {offset!r}) * {float(quant)!r}) AS BIGINT)) AS qv
  FROM {src_sql}
)""",
        f"dims AS (SELECT CAST(unnest(range(1, {dim + 1})) AS INTEGER) AS d)",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cid, qv AS ce
  FROM (SELECT id, qv FROM q ORDER BY id LIMIT {k})
)""",
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(
            f"""a{t} AS (
  SELECT id, qv, cid FROM (
    SELECT q.id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM q, {prev} c
  ) WHERE rn = 1
)""",
        )
        parts.append(
            f"""s{t} AS (
  SELECT a.cid, d.d, CAST(sum(a.qv[d.d]) AS BIGINT) AS s, count(*) AS n
  FROM a{t} a, dims d GROUP BY a.cid, d.d
)""",
        )
        if t < iters:
            parts.append(
                f"""c{t} AS (
  SELECT p.cid, coalesce(u.ce, p.ce) AS ce
  FROM {prev} p LEFT JOIN
       (SELECT cid, list(s // n ORDER BY d) AS ce FROM s{t} GROUP BY cid) u
       USING (cid)
)""",
            )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT s.cid AS cluster, s.d AS dim, s.s // s.n AS c_q,
       CAST(s.n AS BIGINT) AS n_members
FROM s{iters} s"""
    )
