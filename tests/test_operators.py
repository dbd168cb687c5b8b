"""Unit tests for the custom operators (as-of join, dedup tiers, similarity)
on crafted micro-data where ground truth is computable by hand."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from savio_training_dask_2019_spark.operators import (
    asof_join,
    brute_knn,
    brute_knn_join,
    embedding_near_dup_pairs,
    keep_first_by_hash,
    minhash_banded_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from savio_training_dask_2019_spark.sources import load_table


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10, 0), "L1"),   # matches R@9:00
            (1, _ts(11, 0), "L2"),   # matches R@11:00 (inclusive, same ts)
            (1, _ts(8, 0), "L3"),    # before any right row -> null
            (2, _ts(10, 0), "L4"),   # key with no right rows -> null
        ],
        ["k", "ts", "lbl"],
    )
    right = spark.createDataFrame(
        [(1, _ts(9, 0), 90.0), (1, _ts(11, 0), 110.0), (3, _ts(9, 0), 30.0)],
        ["k", "ts", "px"],
    )
    return left, right


def test_asof_backward_inclusive(asof_frames):
    left, right = asof_frames
    out = {r["lbl"]: r["px"] for r in asof_join(left, right, on="k", ts="ts").collect()}
    assert out == {"L1": 90.0, "L2": 110.0, "L3": None, "L4": None}


def test_asof_tolerance(asof_frames):
    left, right = asof_frames
    out = {
        r["lbl"]: r["px"]
        for r in asof_join(left, right, on="k", ts="ts", tolerance="30 minutes").collect()
    }
    # L1's match (9:00) is 1h old -> nulled; L2's match is 0s old -> kept
    assert out == {"L1": None, "L2": 110.0, "L3": None, "L4": None}


def test_asof_column_collision_suffix(asof_frames):
    left, right = asof_frames
    left2 = left.withColumnRenamed("lbl", "px")  # collide with right payload
    cols = asof_join(left2, right, on="k", ts="ts").columns
    assert "px" in cols and "px_right" in cols


DOCS = [
    (1, "alpha beta gamma delta epsilon"),
    (2, "alpha beta gamma delta zeta"),     # 4/6 token overlap with 1
    (3, "alpha beta gamma delta epsilon"),  # exact dup of 1
    (4, "totally different words here now"),
    (5, "one two"),                          # shorter than shingle width
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keep_first(docs_df):
    rows = keep_first_by_hash(docs_df, "text", "doc_id").collect()
    by_copies = {r["keep_id"]: r["n_copies"] for r in rows}
    assert by_copies[1] == 2  # docs 1 and 3 collapse, lowest id kept
    assert len(rows) == 4


def test_ngram_jaccard_exact_values(docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "text", "doc_id", n=3, threshold=0.1).collect()
    }
    # doc1 shingles {abg, bgd, gde}; doc2 {abg, bgd, gdz}: |∩|=2, |∪|=4
    assert pairs[(1, 2)] == 0.5
    assert pairs[(1, 3)] == 1.0
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_deterministic_and_64bit(docs_df):
    a = {r["id"]: r["simhash64"] for r in simhash(docs_df, "text", "doc_id").collect()}
    b = {r["id"]: r["simhash64"] for r in simhash(docs_df, "text", "doc_id").collect()}
    assert a == b
    assert a[1] == a[3]
    assert any(s < 0 or s >= (1 << 32) for s in a.values())


def test_simhash_near_dup_pairs_vs_python_reference(docs_df):
    """Differential: the band-join must return exactly the pairs a Python
    re-implementation of 4×16-bit banding + Hamming filter derives from the
    signatures themselves."""
    max_h = 16
    sigs = {r["id"]: r["simhash64"] & ((1 << 64) - 1)
            for r in simhash(docs_df, "text", "doc_id").collect()}

    def bands(s):
        return {(b, (s >> (16 * b)) & 0xFFFF) for b in range(4)}

    ids = sorted(sigs)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bands(sigs[a]) & bands(sigs[b]):
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= max_h:
                    expected[(a, b)] = h

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dup_pairs(docs_df, "text", "doc_id", max_hamming=max_h).collect()}
    assert got == expected
    assert got[(1, 3)] == 0  # exact dups always collide in every band


def test_minhash_banded_matches_exact_jaccard_set(spark):
    """Hand-rolled minhash banding must recall every exact-Jaccard pair
    (J>=0.5) on the fixture corpus, with signature estimates within the
    16-hash sampling error of the exact Jaccard."""
    from savio_training_dask_2019_spark.operators import (
        minhash_banded_pairs, ngram_jaccard_pairs,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(d, "text", "doc_id", 3, 0.5).collect()}
    banded = {(r.id_a, r.id_b): 1 - r.jaccard_dist
              for r in minhash_banded_pairs(
                  d, "text", "doc_id", 3, max_jaccard_distance=0.7).collect()}
    assert set(exact) <= set(banded)  # full recall of the J>=0.5 truth set
    for pair, j in exact.items():
        assert abs(banded[pair] - j) <= 0.4  # 16-hash estimate, ~3σ bound


def test_minhash_finds_planted_dups(docs_df):
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_banded_pairs(
                 docs_df, "text", "doc_id", n=2, max_jaccard_distance=0.99).collect()}
    assert (1, 3) in pairs


VECS = [(i, [float(i == j) for j in range(4)]) for i in range(4)] + [
    (10, [1.0, 0.1, 0.0, 0.0])  # near vec 0
]


def test_brute_knn_ranking(spark):
    emb = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    top = brute_knn(emb, "embedding", "vec_id", [1.0, 0.0, 0.0, 0.0], k=2, exclude_id=0).collect()
    assert [r["id"] for r in top] == [10, 1]
    assert top[0]["cosine"] == pytest.approx(0.99504, abs=1e-5)


def test_brute_knn_join_topk_per_query(spark):
    emb = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    out = brute_knn_join(emb.filter(F.col("vec_id") <= 1), emb, "embedding", "vec_id",
                         k=2, exclude_self=True).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    assert set(per_q) == {0, 1}
    assert all(len(v) == 2 for v in per_q.values())
    assert per_q[0][0] == 10  # nearest neighbor of e0 is the planted near-dup


def test_hard_negative_mining_excludes_anchor_label(spark):
    """Mined negatives never share the anchor's label, rank by cosine with
    the id tie-break, respect k, and min_cosine floors the pool."""
    from savio_training_dask_2019_spark.operators import hard_negative_mining

    rows = [
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [0.99, 0.1, 0.0, 0.0]),   # same label: NEVER a negative
        (2, 1, [0.95, 0.3, 0.0, 0.0]),   # hardest true negative for anchor 0
        (3, 1, [0.0, 1.0, 0.0, 0.0]),    # easy negative
        (4, 2, [0.5, 0.5, 0.0, 0.0]),    # middling negative, other label
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = hard_negative_mining(
        emb.filter(F.col("vec_id") == 0), emb, "embedding", "vec_id", "label", k=2
    ).collect()
    assert [r["corpus_id"] for r in out] == [2, 4]  # hardest-first, k=2
    assert all(r["neg_label"] != 0 for r in out)
    assert out[0]["cosine"] > out[1]["cosine"]
    floored = hard_negative_mining(
        emb.filter(F.col("vec_id") == 0), emb, "embedding", "vec_id", "label",
        k=5, min_cosine=0.9,
    ).collect()
    assert [r["corpus_id"] for r in floored] == [2]  # only the hard one survives


def test_hard_negative_mining_broadcasts_anchor_side(spark, sf_dir):
    """The anchor batch must broadcast (corpus never replicated): the pair
    stage plans as a BroadcastNestedLoopJoin — correct here because the
    label-inequality condition is non-equi and the broadcast side is the
    bounded anchor BATCH, never the corpus — and no CartesianProduct (both
    sides shuffled) may appear."""
    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries import QUERIES

    plan = plans.formatted_plan(QUERIES["hard_negatives"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_ivf_knn_recall_increases_with_nprobe(spark):
    """IVF ANN: probing all cells must reproduce brute-force exactly, and
    recall must be usable at partial probe (the nprobe/nlist scan-fraction
    tradeoff the operator exists for)."""
    from savio_training_dask_2019_spark.operators import ivf_knn
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = list(emb.filter("vec_id = 0").first()["embedding"])
    brute_ids = [r["id"] for r in
                 brute_knn(emb, "embedding", "vec_id", qv, k=10, exclude_id=0).collect()]

    def ivf_ids(nprobe):
        rows = ivf_knn(emb, "embedding", "vec_id", qv, k=11, nlist=16, nprobe=nprobe).collect()
        return [r["id"] for r in rows if r["id"] != 0][:10]

    assert set(ivf_ids(16)) == set(brute_ids)      # full probe == exact
    assert len(set(ivf_ids(8)) & set(brute_ids)) >= 5   # partial probe is useful


def test_connected_components_chain_triangle_pair(spark):
    """Min-label propagation must label a 4-node chain (worst diameter), a
    triangle, and an isolated pair all by their min member id."""
    from savio_training_dask_2019_spark.operators import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12, pair 20-21
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cc_releases_only_checkpoints(spark, monkeypatch):
    """Per-round block release must free ONLY the superseded round's
    localCheckpoint RDD — never the shared adjacency cache. persist() is
    lazy, so the round-0 eager checkpoint is what first computes the sym
    cache; a release that picked its RDD out of the registry rather than
    from the superseded frame itself could evict that cached edge union,
    and every later round would recompute it.
    Pin: every frame handed to _release is rooted at a local checkpoint."""
    from savio_training_dask_2019_spark.operators import dedup, rounds

    released = []
    real = rounds._release

    def recording(df):
        released.append(df._jdf.logicalPlan().rdd().isLocallyCheckpointed())
        real(df)

    monkeypatch.setattr(rounds, "_release", recording)
    # 6-node chain: diameter forces >=3 propagation rounds, so release fires
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in dedup.connected_components(edges).collect()}
    assert got == {i: 1 for i in range(1, 7)}
    assert len(released) >= 2, "expected multiple rounds to release blocks"
    assert all(released), (
        "a released frame was not rooted at a local checkpoint; "
        "a lazily-persisted cache would be evicted"
    )


def test_rp_lsh_finds_planted_near_dups_and_prunes(spark):
    """Hand-rolled sign-band rp-LSH: every planted near-dup pair (cos≈0.985)
    must survive banding at a real near-dup threshold, with no false
    positives after the exact-cosine filter — the 100 TB dedup semantics the
    loose-threshold noise-tail regime cannot express (see operator docs)."""
    from savio_training_dask_2019_spark.queries import QUERIES

    rows = QUERIES["emb_near_dup_lsh"](spark, "/root/testdata/sf0.001").collect()
    planted = {(r.id_a, r.id_b) for r in rows if r.id_b == r.id_a + 1_000_000}
    assert len(planted) >= 48  # ≥48/50 planted pairs recalled (sign-band LSH)
    assert all(r.cosine >= 0.9 for r in rows)  # exact filter: no false pos


def test_rp_lsh_matches_brute_above_threshold(spark):
    """rp candidates are scored with exact cosine, so rp ∩ truth == rp: every
    returned pair must also be in the brute-force truth set."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    brute = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        emb, "embedding", "vec_id", min_cosine=0.3, method="brute").collect()}
    rp = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        emb, "embedding", "vec_id", min_cosine=0.3, method="rp",
        bucket_length=1e6, num_hash_tables=6, projs_per_table=4).collect()}
    assert rp <= brute


def test_rp_index_point_lookup(spark):
    """Sign-band rp ANN index: build once, probe with driver-side band keys.
    A planted near-dup of the query (cos≈0.985) must come back at the top,
    and every returned cosine must equal the brute-force exact value."""
    from savio_training_dask_2019_spark.operators import (
        brute_knn, build_rp_index, rp_query,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    planted = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999_999).alias("vec_id"),
        F.transform(v, lambda x, i: x + 0.03 * F.sin(i)).alias("embedding"),
    )
    corpus = emb.select("vec_id", v.alias("embedding")).unionByName(planted)

    index = build_rp_index(corpus, "embedding", "vec_id", num_tables=8, bits=12)
    try:
        qv = list(emb.filter("vec_id = 0").first()["embedding"])
        got = rp_query(index, qv, k=5).collect()
        ids = [r["id"] for r in got]
        assert ids[0] == 0  # the query vector itself is in the corpus
        assert 999_999 in ids[:2]  # planted near-dup found via bucket probe
        brute = {r["id"]: r["cosine"] for r in
                 brute_knn(corpus, "embedding", "vec_id", qv, k=600).collect()}
        for r in got:
            assert r["cosine"] == brute[r["id"]]  # candidates scored exactly
    finally:
        index.unpersist()


def test_ivf_build_once_query_many(spark):
    """The build/query split: one index build serves many probes, and a probe
    against the built index matches the one-shot ivf_knn wrapper exactly."""
    from savio_training_dask_2019_spark.operators import (
        build_ivf_index, ivf_knn, ivf_query,
    )
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = build_ivf_index(emb, "embedding", "vec_id", nlist=16)
    try:
        for vid in (0, 1):
            qv = list(emb.filter(f"vec_id = {vid}").first()["embedding"])
            split = [(r["id"], r["cosine"]) for r in
                     ivf_query(index, qv, k=10, nprobe=8).collect()]
            oneshot = [(r["id"], r["cosine"]) for r in
                       ivf_knn(emb, "embedding", "vec_id", qv,
                               k=10, nlist=16, nprobe=8).collect()]
            assert split == oneshot
    finally:
        index.unpersist()


def test_ivf_partitioned_corpus_prunes_files(spark, tmp_path):
    """write_ivf_corpus lays the corpus out partitionBy(cell); a probe's
    `cell IN (...)` must become a partition filter (file pruning), not a
    row filter — the 100 TB cost model for IVF."""
    from savio_training_dask_2019_spark.operators import (
        build_ivf_index, probe_cells_for, write_ivf_corpus,
    )
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = build_ivf_index(emb, "embedding", "vec_id", nlist=8, persist=False)
    path = str(tmp_path / "ivf_corpus")
    write_ivf_corpus(index, path)

    qv = list(emb.filter("vec_id = 0").first()["embedding"])
    cells = probe_cells_for(index, qv, nprobe=2)
    probe = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]
    # and the pruned scan reads only the probed cells' rows
    expected = index.assigned.filter(F.col("cell").isin(cells)).count()
    assert probe.count() == expected


def test_semantic_dedup_cluster_scoped_keep_first(spark):
    """A near-identical pair in the SAME cluster drops the higher id; the
    SAME geometry split across clusters is untouched (cluster scoping is the
    SemDeDup contract, not a heuristic); orthogonal vectors all survive."""
    from savio_training_dask_2019_spark.operators import semantic_dedup

    rows = [
        # cluster 0: 1 and 2 are near-dups (cos≈0.995) -> 2 dropped
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.1, 0.0, 0.0]),
        (3, 0, [0.0, 1.0, 0.0, 0.0]),  # orthogonal — kept
        # cluster 1: same near-dup geometry as (1,2) but cross-cluster ids
        (4, 1, [0.0, 0.0, 1.0, 0.0]),
        (5, 1, [1.0, 0.05, 0.0, 0.0]),  # near id 1, but DIFFERENT cluster — kept
    ]
    df = spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "embedding", "vec_id", "cluster", min_cosine=0.95
        ).collect()
    )
    assert kept == [1, 3, 4, 5]


def test_semantic_dedup_mega_cluster_guard(spark):
    """VERDICT r8 #4: a degenerate clustering (one cluster holding more
    than max_cluster_rows rows) must raise BEFORE the quadratic pairwise
    join launches — the 'choose k wisely' docstring contract is enforced,
    not advisory. max_cluster_rows=None opts out; the default (1e5) does
    not trip on sane inputs."""
    import pytest as _pytest

    from savio_training_dask_2019_spark.operators import semantic_dedup
    from pyspark.sql import functions as F

    # 500 rows, ALL in cluster 0 -> quadratic in the whole frame
    df = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("cluster"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="max_cluster_rows=100"):
        semantic_dedup(
            df, "embedding", "vec_id", "cluster", max_cluster_rows=100
        )
    # explicit opt-out still runs (and the default bound doesn't trip here)
    assert semantic_dedup(
        df, "embedding", "vec_id", "cluster", max_cluster_rows=None
    ).count() > 0
    assert semantic_dedup(df, "embedding", "vec_id", "cluster").count() > 0


def test_semantic_dedup_plan_has_no_cartesian(spark, sf_dir):
    """The pairwise stage must be cluster-scoped: ONE per-cluster Arrow
    kernel (FlatMapGroupsInArrow) fed by an Exchange hashpartitioning on
    the cluster column, never a CartesianProduct / nested-loop over the
    corpus — that is the whole SemDeDup scaling argument. The kernel
    replaced the cluster-keyed self-join, so no join of the frame with
    itself may come back. semantic_dedup aliases the cluster column to
    __c."""
    import re

    from savio_training_dask_2019_spark import plans
    from savio_training_dask_2019_spark.queries import QUERIES

    plan = plans.formatted_plan(QUERIES["semdedup_clusters"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    tree = plan.split("\n\n")[0]
    # the kernel, its group sort, then the cluster-keyed exchange
    m = re.search(
        r"FlatMapGroupsInArrow \(\d+\)\n.*Sort \(\d+\)\n.*Exchange \((\d+)\)", tree
    )
    assert m, tree
    exch = re.search(rf"\({m.group(1)}\) Exchange\n.*\nArguments: (.*)", plan)
    assert exch and re.match(r"hashpartitioning\(__c#\d+", exch.group(1)), exch
    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInArrow", plan, re.M)) == 1
    # the only joins left: the dup-id anti-join and the count attach
    joins = re.findall(r"Join type: (\w+)", plan)
    assert sorted(joins) == ["LeftAnti", "LeftOuter"], joins


def test_semantic_dedup_over_kmeans_assignment(spark, sf_dir):
    """The production path: cluster with the IVF k-means quantizer, then
    semantic-dedup within its cells. Pins that the operator composes with
    build_ivf_index's assignment (id/__raw/cell) and that cluster scoping
    only ever UNDER-drops relative to a global (unclustered) pass."""
    from savio_training_dask_2019_spark.operators import build_ivf_index, semantic_dedup
    from savio_training_dask_2019_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_ivf_index(emb, "embedding", "vec_id", nlist=4, persist=False)
    try:
        kept = semantic_dedup(idx.assigned, "__raw", "id", "cell", min_cosine=0.30)
        n_total = emb.count()
        n_kept = kept.count()
        assert 0 < n_kept <= n_total
        # global pass = everything in one cluster: drops at least as much
        one = idx.assigned.withColumn("cell", F.lit(0))
        n_kept_global = semantic_dedup(one, "__raw", "id", "cell", min_cosine=0.30).count()
        assert n_kept_global <= n_kept
    finally:
        idx.unpersist()


def test_keep_best_by_hash_argmax_and_normalization(spark):
    """keep_best_by_hash keeps the max-score row per content group (lowest
    id on ties), reports the keep-first answer + divergence flag, and
    normalize=True collapses case/punctuation variants into one group."""
    from savio_training_dask_2019_spark.operators import keep_best_by_hash

    rows = [
        (1, "Hello, World!", 5.0),
        (2, "hello   world", 9.0),   # same normalized content, higher score
        (3, "hello world", 9.0),     # tie with id 2 -> id 2 wins
        (4, "unique doc", 1.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "score"])
    out = {
        r["keep_id"]: r
        for r in keep_best_by_hash(df, "text", "doc_id", score=F.col("score")).collect()
    }
    assert set(out) == {2, 4}
    assert out[2]["n_copies"] == 3 and out[2]["kept_score"] == 9.0
    assert out[2]["first_id"] == 1 and out[2]["policy_diverges"]
    assert out[4]["n_copies"] == 1 and not out[4]["policy_diverges"]
    # raw hashing (normalize=False): every variant is its own group
    raw = keep_best_by_hash(df, "text", "doc_id", score=F.col("score"), normalize=False)
    assert raw.count() == 4


def test_substring_dup_removal_rejects_reserved_keep_cols(spark):
    from savio_training_dask_2019_spark.operators import substring_dup_removal

    df = spark.createDataFrame([(1, "a b c", 1)], ["doc_id", "text", "pos"])
    with pytest.raises(ValueError, match="keep_cols collide"):
        substring_dup_removal(df, "text", "doc_id", span_w=2, keep_cols=("pos",))
    with pytest.raises(ValueError, match="span_w"):
        substring_dup_removal(df, "text", "doc_id", span_w=1)


def test_semantic_dedup_null_clusters_bypass_guard(spark):
    """r9 review: rows with a NULL cluster can never join pairwise (NULL
    keys don't match an equi-join), so the mega-cluster guard must ignore
    them — and they must all SURVIVE the dedup."""
    from pyspark.sql import functions as F

    from savio_training_dask_2019_spark.operators import semantic_dedup

    df = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("long").alias("cluster"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    # 500 NULL-cluster rows with max_cluster_rows=100: must NOT raise
    kept = semantic_dedup(
        df, "embedding", "vec_id", "cluster", max_cluster_rows=100
    )
    assert kept.count() == 500  # every NULL-cluster row survives


def test_drift_psi_hand_computed(spark, tmp_path):
    """PSI terms on a planted two-half stream with known shares, including
    the epsilon floor for a class absent from one half."""
    import datetime as _dt
    import math

    from savio_training_dask_2019_spark.queries.timeseries import (
        _DRIFT_EPS,
        q_drift_psi,
    )

    a = _dt.datetime(2024, 1, 10)   # first half
    b = _dt.datetime(2024, 1, 20)   # second half
    rows = (
        [(i, "x", a, 1.0, "{}") for i in range(8)]      # x: 8/10 -> 2/10
        + [(100 + i, "x", b, 1.0, "{}") for i in range(2)]
        + [(200 + i, "y", a, 1.0, "{}") for i in range(2)]  # y: 2/10 -> 8/10
        + [(300 + i, "y", b, 1.0, "{}") for i in range(8)]
        + [(400, "z", a, 1.0, "{}")]                     # z only in half A
    )
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double, props string"
    )
    out = str(tmp_path / "drift")
    df.write.parquet(f"{out}/events.parquet")
    got = {r["event_type"]: r for r in q_drift_psi(spark, out).collect()}

    def term(pa, pb):
        pa, pb = max(pa, _DRIFT_EPS), max(pb, _DRIFT_EPS)
        return round((pa - pb) * math.log(pa / pb), 6)

    assert got["x"]["share_a"] == round(8 / 11, 4)
    assert got["x"]["psi_term"] == term(8 / 11, 2 / 10)
    assert got["y"]["psi_term"] == term(2 / 11, 8 / 10)
    # absent-in-B class: floored share produces a large FINITE term
    assert got["z"]["share_b"] == 0.0
    assert got["z"]["psi_term"] == term(1 / 11, 0.0)
    assert math.isfinite(got["z"]["psi_term"]) and got["z"]["psi_term"] > 1


def test_drift_psi_windowed_hand_computed(spark, tmp_path):
    """Rolling PSI vs a trailing 7-day reference on a planted stream:
    first day emits no row (empty reference), a flipped-mix day scores the
    hand-computed PSI, a new-class-only day scores the eps-floored terms,
    and a day whose trailing window holds no data is excluded (the
    reference really does roll off)."""
    import datetime as _dt
    import math

    from savio_training_dask_2019_spark.queries.timeseries import (
        _DRIFT_EPS,
        q_drift_psi_windowed,
    )

    d1, d2, d3 = (_dt.datetime(2024, 1, n) for n in (1, 2, 3))
    d20 = _dt.datetime(2024, 1, 20)  # ref window Jan 13-19 is empty
    rows = (
        [(i, "x", d1, 1.0, "{}") for i in range(8)]
        + [(100 + i, "y", d1, 1.0, "{}") for i in range(2)]
        + [(200 + i, "x", d2, 1.0, "{}") for i in range(2)]
        + [(300 + i, "y", d2, 1.0, "{}") for i in range(8)]
        + [(400 + i, "z", d3, 1.0, "{}") for i in range(5)]
        + [(500 + i, "x", d20, 1.0, "{}") for i in range(3)]
    )
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double, props string"
    )
    out = str(tmp_path / "drift_w")
    df.write.parquet(f"{out}/events.parquet")
    got = {r["d"].day: r for r in q_drift_psi_windowed(spark, out).collect()}
    # day 1: no reference yet; day 20: reference rolled off -> both absent
    assert set(got) == {2, 3}

    def term(pc, pr):
        pc, pr = max(pc, _DRIFT_EPS), max(pr, _DRIFT_EPS)
        return round((pc - pr) * math.log(pc / pr), 6)

    # day 2: cur (x .2, y .8, z 0) vs ref=day1 (x .8, y .2, z 0)
    assert got[2]["n_cur"] == 10 and got[2]["n_ref_tot"] == 10
    assert got[2]["psi"] == round(
        term(0.2, 0.8) + term(0.8, 0.2) + term(0.0, 0.0), 4
    )
    # day 3: cur is ONLY the new class z vs ref=days1+2 (x .5, y .5, z 0)
    assert got[3]["n_cur"] == 5 and got[3]["n_ref_tot"] == 20
    assert got[3]["psi"] == round(
        term(0.0, 0.5) + term(0.0, 0.5) + term(1.0, 0.0), 4
    )
    assert math.isfinite(got[3]["psi"]) and got[3]["psi"] > 1


def test_drift_psi_empty_half_is_finite(spark, tmp_path):
    """An entire half missing (reference window not ingested yet) must
    yield shares 0.0 and finite psi terms, never NULL/NaN (r9 review)."""
    import datetime as _dt
    import math

    from savio_training_dask_2019_spark.queries.timeseries import q_drift_psi

    rows = [
        (i, "x" if i % 2 == 0 else "y", _dt.datetime(2024, 1, 5), 1.0, "{}")
        for i in range(10)
    ]  # everything BEFORE the split: half B is empty
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double, props string"
    )
    out = str(tmp_path / "drift_empty")
    df.write.parquet(f"{out}/events.parquet")
    got = q_drift_psi(spark, out).collect()
    assert {r["event_type"] for r in got} == {"x", "y"}
    for r in got:
        assert r["share_b"] == 0.0
        assert r["psi_term"] is not None and math.isfinite(r["psi_term"])


def test_drift_numeric_hand_computed(spark, tmp_path):
    """Numeric histogram PSI on a hand-built orders table: prices planted
    so bucket shares are round fractions; terms match the closed form,
    clamping puts the 999,999 order in the top bucket, and a bucket absent
    from one half gets the eps floor (large finite term, never inf)."""
    import math
    import os

    eps = 1e-6

    def term(a, b):
        a, b = max(a, eps), max(b, eps)
        return round((a - b) * math.log(a / b), 6)

    rows = []
    # half A (1997): 8 orders in bucket 0 (< 50k), 2 in bucket 1
    for i in range(8):
        rows.append((i, "1997-06-01 00:00:00", 10_000.0))
    for i in range(8, 10):
        rows.append((i, "1997-06-01 00:00:00", 60_000.0))
    # half B (1999): 5 in bucket 0, 4 in bucket 1, 1 clamped to bucket 9
    for i in range(10, 15):
        rows.append((i, "1999-06-01 00:00:00", 10_000.0))
    for i in range(15, 19):
        rows.append((i, "1999-06-01 00:00:00", 60_000.0))
    rows.append((19, "1999-06-01 00:00:00", 999_999.0))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate string, o_totalprice double"
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS TIMESTAMP) o_orderdate", "o_totalprice"
    )
    out = str(tmp_path / "nd")
    df.write.parquet(os.path.join(out, "orders.parquet"))

    from savio_training_dask_2019_spark.queries.timeseries import q_drift_numeric

    got = {r["bucket"]: r for r in q_drift_numeric(spark, out).collect()}
    assert set(got) == {0, 1, 9}
    assert got[0]["share_a"] == 0.8 and got[0]["share_b"] == 0.5
    assert got[0]["psi_term"] == term(0.8, 0.5)
    assert got[1]["psi_term"] == term(0.2, 0.4)
    # bucket 9 exists only in half B -> eps floor on the A side
    assert got[9]["share_a"] == 0.0 and got[9]["share_b"] == 0.1
    assert got[9]["psi_term"] == term(0.0, 0.1)
    assert math.isfinite(got[9]["psi_term"])
