"""Guards for the similarity tier's ADVICE r8 findings:

1. Zero-norm vectors must SURVIVE cell_knn_join (norms clamped, cosine
   0.0) instead of vanishing as NULL.
2. knn_cells' oracle parity amplifies round(cosine, 5) disagreements
   through the argmax CELL ASSIGNMENT — so pin that, on the fixture
   embeddings, no (vector, demo-centroid) cosine sits near a round-5
   boundary: last-ulp cross-engine noise (~1e-12 relative) then cannot
   flip a rounded digit, hence cannot flip an assignment.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from savio_training_dask_2019_spark.queries.vectorops import (
    _CELL_MOD,
    _CELL_QUERY_MOD,
)


def test_cell_knn_zero_norm_rows_survive(spark):
    """An all-zero query vector and an all-zero corpus vector both stay in
    the result set: cosine 0.0 everywhere, smallest-cid cell by tie rule."""
    from savio_training_dask_2019_spark.operators.similarity import cell_knn_join

    rows = [
        (0, [0.0, 0.0]),   # zero QUERY (0 % 2 == 0 -> query set below)
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),   # query
        (3, [0.0, 0.0]),   # zero CORPUS row
        (4, [1.0, 1.0]),   # query
        (5, [-1.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, ce array<double>"
    )
    out = cell_knn_join(
        df.where(F.col("vec_id") % 2 == 0),
        df,
        cents,
        "embedding",
        "vec_id",
        k=10,
        nprobe=2,  # nprobe = nlist -> every query sees the whole corpus
        exclude_self=True,
    ).collect()
    got = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in out}
    qids = {r["query_id"] for r in out}
    assert 0 in qids, "zero-norm QUERY vanished from the results"
    assert any(c == 3 for (_q, c) in got), "zero-norm CORPUS row vanished"
    # zero-vector pairs score exactly 0.0, never NULL
    assert got[(0, 1)] == 0.0 and got[(2, 3)] == 0.0
    assert all(v is not None for v in got.values())
    # nprobe covers all cells, so every query ranks all 5 other rows
    assert sum(1 for (q, _c) in got if q == 0) == 5


def test_knn_cells_assignment_margin(sf_dir):
    """ADVICE r8 #4: for every (vector, demo-centroid) pair in the fixture,
    the unrounded cosine must sit > 1e-10 away from the nearest 0.5e-5
    rounding boundary (round-half cases are where engines could disagree).
    Cross-engine summation-order noise on a 64-dim double dot product is
    ~1e-14 relative; the fixture's observed minimum margin is ~5e-10
    (measured r9), ~1e4× that noise floor — so round(cosine, 5) is
    engine-stable and the argmax cell assignment cannot flip between
    Spark and DuckDB."""
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id"))
    vecs = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cents = vecs[ids % _CELL_MOD == 0]
    assert len(cents) >= 2 and (ids % _CELL_QUERY_MOD == 0).any()

    norms = np.maximum(np.linalg.norm(vecs, axis=1), 1e-12)
    cnorms = np.maximum(np.linalg.norm(cents, axis=1), 1e-12)
    cos = (vecs @ cents.T) / np.outer(norms, cnorms)
    # distance from the nearest x.xxxxx5 half-way boundary, in round-5 units
    frac = np.abs(np.mod(cos * 1e5, 1.0) - 0.5)  # 0 == exactly on boundary
    min_margin = float(frac.min()) * 1e-5
    assert min_margin > 1e-10, (
        f"cosine within {min_margin:.2e} of a round-5 boundary — the oracle "
        "comparison for knn_cells is no longer ulp-safe at this fixture"
    )


def test_pq_encode_matches_numpy(spark, sf_dir):
    """PQ codes and reconstruction MSE == a numpy argmin-L2 reference over
    the same demo codebook (ties to smallest cid, round-5 score order)."""
    from savio_training_dask_2019_spark.operators.similarity import pq_encode
    from savio_training_dask_2019_spark.queries.vectorops import (
        _PQ_CB_MOD,
        _PQ_DIM,
        _PQ_M,
    )
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = emb.where((F.col("vec_id") % _PQ_CB_MOD) == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    got = {
        r["id"]: (r["code_str"], r["mse"])
        for r in pq_encode(
            emb.where(F.col("vec_id") < 60), "embedding", "vec_id", cb,
            m=_PQ_M, dim=_PQ_DIM,
        ).collect()
    }

    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    cids = sorted(i for i in rows if i % _PQ_CB_MOD == 0)
    dsub = _PQ_DIM // _PQ_M
    for vid, x in rows.items():
        if vid >= 60:
            continue
        codes, tot = [], 0.0
        for j in range(_PQ_M):
            xj = x[j * dsub : (j + 1) * dsub]
            best = None
            for cid in cids:
                cj = rows[cid][j * dsub : (j + 1) * dsub]
                s = round(float(xj @ cj) - 0.5 * float(cj @ cj), 5)
                key = (-s, cid)
                if best is None or key < best[0]:
                    best = (key, cid, cj)
            codes.append(best[1])
            tot += float(((xj - best[2]) ** 2).sum())
        want = ("-".join(str(c) for c in codes), round(tot / _PQ_DIM, 4))
        assert got[vid] == want, (vid, got[vid], want)


def test_pq_encode_rejects_indivisible_dim(spark):
    from savio_training_dask_2019_spark.operators.similarity import pq_encode

    df = spark.createDataFrame([(0, [1.0] * 6)], "vec_id long, embedding array<double>")
    cb = spark.createDataFrame([(0, [1.0] * 6)], "cid long, ce array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_encode(df, "embedding", "vec_id", cb, m=4, dim=6)


def test_pq_adc_matches_python_reference(spark, sf_dir):
    """ADC distances == the reference pipeline run in pure Python: encode
    with the round-5 argmax (ties to smallest cid), build the round-5
    per-subspace distance table with sequential sums, sum the m entries in
    subspace order, round 4, top-10 by (adc, id)."""
    from savio_training_dask_2019_spark.queries.vectorops import (
        _PQ_ADC_CB_CAP,
        _PQ_CB_MOD,
        _PQ_DIM,
        _PQ_M,
    )
    from savio_training_dask_2019_spark.queries import QUERIES

    import decimal

    def rnd(x, nd):  # Spark/DuckDB round is HALF_UP; python round is half-even
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal(1).scaleb(-nd), rounding=decimal.ROUND_HALF_UP
            )
        )

    got = [(r["vec_id"], r["adc"]) for r in QUERIES["pq_adc"](spark, sf_dir).collect()]

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = [int(x) for x in tbl.column("vec_id").to_pylist()]
    vecs = {i: [float(x) for x in v] for i, v in zip(ids, tbl.column("embedding").to_pylist())}
    cids = sorted(i for i in ids if i % _PQ_CB_MOD == 0 and i < _PQ_ADC_CB_CAP)
    dsub = _PQ_DIM // _PQ_M
    q = vecs[0]

    def seq_dot(a, b, lo, hi):
        acc = 0.0
        for i in range(lo, hi):
            acc += a[i] * b[i]
        return acc

    dtab = {}
    for cid in cids:
        c = vecs[cid]
        for j in range(_PQ_M):
            d2 = 0.0
            for i in range(j * dsub, (j + 1) * dsub):
                d2 += (q[i] - c[i]) * (q[i] - c[i])
            dtab[(j, cid)] = rnd(d2, 5)

    scores = []
    for vid in ids:
        x = vecs[vid]
        adc = 0.0
        for j in range(_PQ_M):
            lo, hi = j * dsub, (j + 1) * dsub
            best = None
            for cid in cids:
                c = vecs[cid]
                s = rnd(seq_dot(x, c, lo, hi) - 0.5 * seq_dot(c, c, lo, hi), 5)
                key = (-s, cid)
                if best is None or key < best:
                    best, best_cid = key, cid
            adc += dtab[(j, best_cid)]
        scores.append((rnd(adc, 4), vid))
    want = [(vid, adc) for adc, vid in sorted(scores)[:10]]
    assert got == want
    # vec 0 is itself a codebook row (0 % mod == 0): codes itself, adc 0
    assert got[0] == (0, 0.0)
    assert all(a >= 0 for _v, a in got)


def test_ivfpq_prunes_to_probe_cells_and_matches_adc(spark, sf_dir):
    """The composition's contract: every returned row's cell is one of the
    query's top-2 probe cells (numpy-recomputed), and each row's adc equals
    the standalone pq_adc value for that vector (same codebook)."""
    from savio_training_dask_2019_spark.queries import QUERIES
    from savio_training_dask_2019_spark.queries.vectorops import _CELL_MOD

    rows = QUERIES["ivfpq"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id"))
    vecs = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cents_mask = ids % _CELL_MOD == 0
    cent_ids, cents = ids[cents_mask], vecs[cents_mask]
    q = vecs[ids == 0][0]
    cos = (cents @ q) / (
        np.maximum(np.linalg.norm(cents, axis=1), 1e-12) * np.linalg.norm(q)
    )
    order = sorted(range(len(cent_ids)), key=lambda i: (-round(cos[i], 5), cent_ids[i]))
    probe = {int(cent_ids[i]) for i in order[:2]}
    assert {r["cell"] for r in rows} <= probe

    adc = {r["vec_id"]: r["adc"] for r in QUERIES["pq_adc"](spark, sf_dir).collect()}
    for r in rows:
        if r["vec_id"] in adc:  # pq_adc's top-10 overlaps, values must agree
            assert adc[r["vec_id"]] == r["adc"]


def test_ivfpq_rerank_recovers_exact_order(spark, sf_dir):
    """The optional third stage: with rerank_k, the final cut is by EXACT
    cosine over the ADC shortlist — verified against numpy on the same
    probed-cell candidate set (rerank_k large enough to cover all
    candidates makes the result the exact within-cells cosine top-k)."""
    from savio_training_dask_2019_spark.operators.similarity import ivfpq_topk
    from savio_training_dask_2019_spark.queries.vectorops import (
        _CELL_MOD,
        _PQ_ADC_CB_CAP,
        _PQ_CB_MOD,
        _PQ_DIM,
        _PQ_M,
    )
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where((F.col("vec_id") % _CELL_MOD) == 0).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("ce"),
    )
    cb = emb.where(
        ((F.col("vec_id") % _PQ_CB_MOD) == 0) & (F.col("vec_id") < _PQ_ADC_CB_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    got = ivfpq_topk(
        emb, "embedding", "vec_id", cents, cb, qv,
        m=_PQ_M, dim=_PQ_DIM, k=5, nprobe=2, rerank_k=10_000,
    ).collect()
    assert len(got) == 5
    assert all(r["cosine"] is not None for r in got)

    # numpy reference: cells, prune, exact cosine, top-5
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id"))
    vecs = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cmask = ids % _CELL_MOD == 0
    cent_ids, cents_np = ids[cmask], vecs[cmask]
    cnorm = np.maximum(np.linalg.norm(cents_np, axis=1), 1e-12)
    q = vecs[ids == 0][0]
    qn = np.linalg.norm(q)
    ccos = np.round(cents_np @ q / (cnorm * qn), 5)
    order = sorted(range(len(cent_ids)), key=lambda i: (-ccos[i], cent_ids[i]))
    probe = {int(cent_ids[i]) for i in order[:2]}
    # assignment of every vector
    acos = np.round(
        vecs @ cents_np.T
        / np.outer(np.maximum(np.linalg.norm(vecs, axis=1), 1e-12), cnorm),
        5,
    )
    best = [
        min(range(len(cent_ids)), key=lambda j: (-acos[i, j], cent_ids[j]))
        for i in range(len(ids))
    ]
    cand = [i for i in range(len(ids)) if int(cent_ids[best[i]]) in probe]
    cos = np.round(
        vecs[cand] @ q / (np.maximum(np.linalg.norm(vecs[cand], axis=1), 1e-12) * qn),
        5,
    )
    want = sorted(zip(cos, [int(ids[i]) for i in cand]), key=lambda t: (-t[0], t[1]))[:5]
    assert [(r["vec_id"] if "vec_id" in r.__fields__ else r["id"], r["cosine"]) for r in got] == [
        (vid, float(c)) for c, vid in want
    ]


def test_pq_adc_literal_table_size_guard(spark):
    """The driver-built ADC distance table is a plan LITERAL — m·|codebook|
    entries. Past the documented ceiling it must raise (ship a broadcast
    join instead), never inflate the query plan."""
    import pytest

    from savio_training_dask_2019_spark.operators.similarity import (
        _ADC_TABLE_MAX_ENTRIES,
        pq_adc_topk,
    )

    codes = spark.createDataFrame(
        [(0, [0, 0])], "id long, codes array<int>"
    )
    m, dim = 2, 4
    n_cb = _ADC_TABLE_MAX_ENTRIES // m + 1  # one over the ceiling
    fake_cb = [(i, [0.0] * dim) for i in range(n_cb)]
    with pytest.raises(ValueError, match="broadcast join"):
        pq_adc_topk(codes, fake_cb, [0.0] * dim, m, dim)
    # at the ceiling it builds fine (bounded-literal contract, not a ban)
    small = [(i, [0.0] * dim) for i in range(8)]
    assert pq_adc_topk(codes, small, [0.0] * dim, m, dim).count() == 1


def test_ivfpq_rerank_recovers_exact_order_within_candidates(spark, sf_dir):
    """The exact third stage: rerank's top-10 must be the exact-cosine cut
    of the ADC top-R candidate pool — its cosines are sorted descending,
    and its best cosine is >= the exact cosine of pure-ADC's top row
    (re-ranking can only improve the metric the final cut is made on)."""
    from savio_training_dask_2019_spark.queries import QUERIES
    from savio_training_dask_2019_spark.queries.vectorops import _RERANK_K

    rer = QUERIES["ivfpq_rerank"](spark, sf_dir).collect()
    assert 1 <= len(rer) <= 10 and _RERANK_K >= 10
    assert [r["cosine"] for r in rer] == sorted(
        (r["cosine"] for r in rer), reverse=True
    )
    assert set(rer[0].asDict()) == {"vec_id", "cell", "adc", "cosine"}
    # the ADC winner is inside the candidate pool, so rerank's best exact
    # cosine dominates whatever exact cosine the ADC winner has
    adc = QUERIES["ivfpq"](spark, sf_dir).collect()
    adc_winner = adc[0]["vec_id"]
    exact_of_winner = {r["vec_id"]: r["cosine"] for r in rer}.get(adc_winner)
    if exact_of_winner is not None:
        assert rer[0]["cosine"] >= exact_of_winner


# --- scalar int8 quantization ---------------------------------------------------


def test_sq8_halfstep_error_bound_and_codes_domain(spark, sf_dir):
    """Round-half-up at step scale/127 commits at most half a step of error
    per dimension: |v - recon| <= scale/254 (+fp noise) — checked on the
    real corpus, along with the code domain [-127, 127] and tinyint type."""
    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.operators.similarity import (
        scalar_quantize_int8,
    )
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = scalar_quantize_int8(emb, "embedding", "vec_id", keep=("embedding",))
    assert dict(q.dtypes)["codes"] == "array<tinyint>"
    errs = F.zip_with(
        F.transform("embedding", lambda x: x.cast("double")),
        "codes",
        lambda a, c: F.abs(a - c.cast("double") * F.col("scale") / 127),
    )
    bad = q.where(
        (F.array_max(errs) > F.col("scale") / 254 * (1 + 1e-9))
        | (F.array_max(F.transform("codes", lambda c: F.abs(c.cast("int")))) > 127)
    ).count()
    assert bad == 0


def test_sq8_zero_vector_and_search_parity(spark):
    """A zero vector quantizes to all-zero codes with scale 0 (no NaN), and
    cosine top-10 neighbours over the RECONSTRUCTED int8 corpus recover
    >= 9/10 of the exact float top-10 on a deterministic fixture — the
    fidelity claim that justifies the 4x scan saving."""
    import math
    import random

    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.operators.similarity import (
        scalar_quantize_int8,
    )

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(32)]) for i in range(200)]
    rows.append((999, [0.0] * 32))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = scalar_quantize_int8(emb, "embedding", "vec_id")
    z = q.where("vec_id = 999").collect()[0]
    assert z["scale"] == 0.0 and all(c == 0 for c in z["codes"])

    def topk(vectors, query, k=10):
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a)) or 1e-12
            nb = math.sqrt(sum(x * x for x in b)) or 1e-12
            return d / (na / 1.0) / nb
        scored = sorted(
            ((cos(v, query), i) for i, v in vectors), key=lambda t: (-t[0], t[1])
        )
        return [i for _, i in scored[:k]]

    recon = {
        r["vec_id"]: [c * r["scale"] / 127 for c in r["codes"]]
        for r in q.collect()
    }
    query = rows[0][1]
    exact = topk([(i, v) for i, v in rows], query)
    approx = topk(sorted(recon.items()), query)
    assert len(set(exact) & set(approx)) >= 9


def test_quantize_int8_narrow_plan(spark, sf_dir):
    """The catalog query is a streaming re-encode: zero shuffles, zero
    joins, one scan."""
    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries import QUERIES

    df = QUERIES["quantize_int8"](spark, sf_dir)
    assert plans.shuffle_count(df) == 0
    assert plans.broadcast_join_count(df) == 0
    assert plans.scan_count(df) == 1


def test_max_cosine_vs_set_planted_and_decontam_semantic(spark, sf_dir):
    """max_cosine_vs_set: a train vector equal to an eval vector scores
    max_cos ~1, an orthogonal one scores ~0, a zero vector is clamped (no
    NaN); the catalog query flags at least one fixture row at its
    threshold and its plan stays narrow (one broadcast fold, no corpus
    shuffle before the scoring map)."""
    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.operators.similarity import (
        max_cosine_vs_set,
    )
    from savio_training_dask_2019_spark.queries import QUERIES

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    tr = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),   # colinear with eval 100 -> 1.0
            (2, [0.0, 0.0, 5.0]),   # orthogonal to both -> 0.0
            (3, [0.0, 0.0, 0.0]),   # zero vector -> clamped, finite
            (4, [1.0, 1.0, 0.0]),   # cos 1/sqrt(2) vs both
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["max_cos"]
        for r in max_cosine_vs_set(tr, "embedding", "vec_id", ev).collect()
    }
    assert abs(got[1] - 1.0) < 1e-9
    assert abs(got[2]) < 1e-9
    assert got[3] == 0.0  # clamped norm, never NaN/NULL
    assert abs(got[4] - 0.5**0.5) < 1e-9

    df = QUERIES["decontam_semantic"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert any(r["flagged"] for r in rows)  # threshold exercised on fixture
    assert all(r["max_eval_cos"] is not None for r in rows)


def _max_cosine_fold(df, vec_col, id_col, ref):
    """The Spark fold max_cosine_vs_set must match bit for bit: ``ref``
    folded into one array row of (vector, clamped norm), attached by a
    broadcast crossJoin, and the per-row max of ``dot / (n * rn)``."""
    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.functions.vectors import (
        as_double,
        dot,
        l2_norm,
    )
    from savio_training_dask_2019_spark.operators.similarity import _NORM_FLOOR

    def clamped(v):
        return F.greatest(l2_norm(v), F.lit(_NORM_FLOOR))

    rv = as_double(F.col(vec_col))
    refs = ref.select(F.struct(rv.alias("v"), clamped(rv).alias("n")).alias("e")).agg(
        F.collect_list("e").alias("__refs")
    )
    v = as_double(F.col(vec_col))
    return df.crossJoin(F.broadcast(refs)).select(
        id_col,
        F.array_max(
            F.transform("__refs", lambda e: dot(v, e["v"]) / (clamped(v) * e["n"]))
        ).alias("max_cos"),
    )


def test_max_cosine_vs_set_bits_equal_spark_fold(spark, sf_dir):
    """max_cosine_vs_set scores through the exact-order Arrow kernel, so
    every max_cos equals the Spark fold's double exactly (``==``, not a
    tolerance) — on the sf0.01 train/eval split and on the rows where the
    fold's NULL rules decide: a NULL vector, a NULL component and an
    unequal length on either side, a zero vector, and an empty reference
    set. String and int ids keep their types."""
    import os

    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.operators.similarity import (
        max_cosine_vs_set,
    )
    from savio_training_dask_2019_spark.sources import load_table

    def both(tr, ev, id_col="vec_id"):
        got = max_cosine_vs_set(tr, "embedding", id_col, ev)
        want = _max_cosine_fold(tr, "embedding", id_col, ev)
        assert got.dtypes == want.dtypes
        return dict(got.collect()), dict(want.collect())

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    emb = load_table(spark, sf01, "embeddings")
    is_eval = F.col("vec_id") % 23 == 0
    got, want = both(emb.where(~is_eval), emb.where(is_eval))
    assert got == want and len(got) > 0
    assert all(x is not None for x in got.values())

    schema = "vec_id long, embedding array<float>"
    ev = spark.createDataFrame(
        [
            (100, [1.0, 0.0, 0.0]),
            (101, [0.5, 2.0, -1.0]),
            (102, None),  # NULL vector: scores no pair
            (103, [1.0, None, 0.0]),  # NULL component: scores no pair
            (104, [1.0, 1.0]),  # pairs only with length-2 rows
            (105, [0.0, 0.0, 0.0]),  # zero vector: clamped norm, cosine 0
        ],
        schema,
    )
    tr = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),
            (2, [0.0, 3.0, 5.0]),
            (3, [0.0, 0.0, 0.0]),
            (4, None),
            (5, [None, 1.0, 0.0]),
            (6, [3.0, -4.0]),
            (7, [1.0, 2.0, 3.0, 4.0]),  # no ref row of length 4
        ],
        schema,
    )
    got, want = both(tr, ev)
    assert got == want
    assert got[3] == 0.0
    assert abs(got[6] + 0.2 * 0.5**0.5) < 1e-12  # only ref 104 pairs
    assert got[4] is None and got[5] is None and got[7] is None

    got, want = both(tr, ev.limit(0))
    assert got == want and set(got.values()) == {None}

    base = emb.where(F.col("vec_id") < 300)
    for id_expr, id_type in (
        (F.concat(F.lit("doc-"), F.col("vec_id")), "string"),
        (F.col("vec_id").cast("int"), "int"),
    ):
        keyed = base.select(id_expr.alias("doc_id"), "embedding", is_eval.alias("e"))
        tr, ev = keyed.where(~F.col("e")).drop("e"), keyed.where("e").drop("e")
        got_df = max_cosine_vs_set(tr, "embedding", "doc_id", ev)
        assert dict(got_df.dtypes)["doc_id"] == id_type
        got, want = both(tr, ev, "doc_id")
        assert got == want and len(got) > 0


def test_mmr_select_lambda_one_is_relevance_order(spark):
    """λ=1 disables the diversity term: selection must equal the top-k by
    (relevance desc, id asc), including the tie rule."""
    from savio_training_dask_2019_spark.operators.similarity import mmr_select

    cands = [
        (3, 0.9, [1.0, 0.0]), (1, 0.9, [0.0, 1.0]),
        (2, 0.7, [1.0, 1.0]), (4, 0.95, [0.5, 0.5]),
    ]
    got = [c[0] for c in mmr_select(cands, k=3, lam=1.0)]
    assert got == [4, 1, 3]  # 0.95, then the 0.9 tie -> smaller id first


def test_mmr_select_penalizes_near_duplicate(spark):
    """A near-duplicate of the already-selected top hit must lose to a
    less-relevant but orthogonal candidate — the operator's entire point."""
    from savio_training_dask_2019_spark.operators.similarity import mmr_select

    a = (1, 0.99, [1.0, 0.0, 0.0])
    a_dup = (2, 0.98, [1.0, 0.0, 0.0])   # identical direction to a
    b = (3, 0.60, [0.0, 1.0, 0.0])       # orthogonal
    got = [c[0] for c in mmr_select([a, a_dup, b], k=2, lam=0.7)]
    assert got == [1, 3]  # a first; dup (0.386) loses to b (0.42)
    # pure relevance WOULD have taken the duplicate
    rel_only = [c[0] for c in mmr_select([a, a_dup, b], k=2, lam=1.0)]
    assert rel_only == [1, 2]


def test_mmr_select_guards_and_bounds(spark):
    import pytest

    from savio_training_dask_2019_spark.operators.similarity import mmr_select

    assert mmr_select([], k=3) == []
    cands = [(1, 0.5, [1.0, 0.0])]
    assert [c[0] for c in mmr_select(cands, k=5)] == [1]  # k > n: all
    with pytest.raises(ValueError, match="lam"):
        mmr_select(cands, k=1, lam=1.5)
    with pytest.raises(ValueError, match="k >= 0"):
        mmr_select(cands, k=-1)


def test_mmr_rerank_catalog_contract(spark, sf_dir):
    """5 rows, ranks 1..5, rank 1 = the exact top-1, deterministic across
    invocations, and every selected id comes from the top-20 candidates."""
    from savio_training_dask_2019_spark.operators.similarity import brute_knn
    from savio_training_dask_2019_spark.queries.vectorops import (
        _query_vec,
        q_mmr_rerank,
    )
    from savio_training_dask_2019_spark.sources import load_table

    rows = q_mmr_rerank(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    emb = load_table(spark, sf_dir, "embeddings")
    top = brute_knn(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0), k=20,
        exclude_id=0,
    ).collect()
    assert rows[0]["vec_id"] == top[0]["id"]  # rank 1 == global argmax
    assert {r["vec_id"] for r in rows} <= {t["id"] for t in top}
    again = q_mmr_rerank(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]
