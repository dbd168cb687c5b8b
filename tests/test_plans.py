"""Physical-plan assertions (SURVEY.md §4 / the 100 TB posture): pushdown,
pruning, broadcast choice, and shuffle counts are part of the engine's
contract, not accidents. These tests pin the plans we designed for."""

from __future__ import annotations

from pyspark.sql import functions as F

from savio_training_dask_2019_spark import plans
from savio_training_dask_2019_spark.queries import QUERIES
from savio_training_dask_2019_spark.sources import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    pushed = " ".join(plans.pushed_filters(li))
    assert "l_quantity" in pushed and "GreaterThan" in pushed


def test_projection_pruned_to_read_schema(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = plans.read_schema_columns(li)
    assert set(cols) == {"l_orderkey", "l_quantity"}  # 2 of 11 columns read


def test_join_3way_broadcasts_dims(spark, sf_dir):
    df = QUERIES["join_3way"](spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1  # nation must broadcast


def test_agg_groupby_single_shuffle(spark, sf_dir):
    df = QUERIES["agg_groupby"](spark, sf_dir)
    # partial+final hash agg: exactly one exchange of O(groups) rows
    assert plans.shuffle_count(df) == 1


def test_topk_avoids_global_sort(spark, sf_dir):
    df = QUERIES["topk"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_knn_brute_no_shuffle_before_topk(spark, sf_dir):
    df = QUERIES["knn_brute"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    # scoring is a narrow map over the scan; top-k is TakeOrdered, not Sort
    assert "TakeOrderedAndProject" in plan
    assert plans.shuffle_count(df) == 0


def test_ngram_jaccard_uses_cached_index_and_broadcast_sizes(spark, sf_dir):
    """The inverted-index form: every consumer branch (sizes, pairs) reads
    the PERSISTED index (InMemoryTableScan in the plan), and the small size
    tables join by broadcast. Exact scan/shuffle counts vary with cache
    materialization state (explain inlines the cache-build subtree), so the
    pins are the cache reuse + broadcast choice; the end-to-end cost is
    covered by the bench."""
    df = QUERIES["ngram_jaccard"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "InMemoryTableScan" in plan  # consumers read the persisted index
    assert plans.broadcast_join_count(df) >= 1


def test_describe_summary_single_shuffle(spark, sf_dir):
    # single-pass multi-aggregate: one exchange of exactly one row
    df = QUERIES["describe_summary"](spark, sf_dir)
    assert plans.shuffle_count(df) == 1


def test_rp_near_dup_ids_only_pair_shuffle(spark, sf_dir):
    """The rp tier's candidate join must shuffle ids+keys only — the vector
    payload re-joins after dedup. A plan carrying the array<double> column
    through the pair exchange would show 'v' inside an Exchange subtree
    before the dedup aggregate."""
    from savio_training_dask_2019_spark.operators import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    df = embedding_near_dup_pairs(
        emb, "embedding", "vec_id", min_cosine=0.9, method="rp",
        bucket_length=1e6, num_hash_tables=2, projs_per_table=4, dim=64,
    )
    plan = plans.formatted_plan(df)
    dedup_nodes = [
        b for b in plan.split("\n\n")
        if "HashAggregate" in b and "Keys [2]: [id_a" in b
    ]
    assert dedup_nodes, "pair-dedup HashAggregate not found in plan"
    for node in dedup_nodes:
        assert "Input [2]:" in node  # ids only — no vector payload columns


def test_unigram_logprob_two_scans_cached_vocab_broadcast_model(spark, sf_dir):
    """The fit side (token counts) is persisted — vocab-sized — so its three
    consumers (total mass, top-K cut, model) read the cache instead of
    re-tokenizing the corpus: the plan must show EXACTLY two parquet scans
    (fit + score; the r4 formulation showed three and its hoped-for
    ReusedExchange never fired). The top-K vocab cap must be a TakeOrdered
    cut (per-partition heaps over the cached vocab), the corpus total an
    agg-to-scalar crossJoin (no unpartitioned WindowExec), and the model
    must reach the corpus by broadcast, never by shuffling the exploded
    corpus on token."""
    df = QUERIES["unigram_logprob"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.scan_count(df) <= 2  # corpus tokenized at most twice
    assert "InMemoryTableScan" in plan  # counts persisted, fit runs once
    assert "TakeOrdered" in plan  # _VOCAB_TOP_K cut, not a global sort
    assert "Window" not in plan  # no single-partition vocab stage
    assert plans.broadcast_join_count(df) >= 2  # model + 1-row total


def test_vocab_coverage_takeordered_not_global_window(spark, sf_dir):
    """The top-max(K) cut must be TakeOrderedAndProject (per-partition
    heaps), never a global row_number window over the full vocab; the
    residual ranking window runs over <= max(K) rows (constant-bounded)."""
    df = QUERIES["vocab_coverage"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrdered" in plan
    # the only Window sits strictly above the TakeOrdered cut
    assert plan.index("TakeOrdered") > plan.index("Window")


def test_passage_dedup_single_chunk_shuffle(spark, sf_dir):
    """Corpus-side cost: the keep-first window is the ONE shuffle keyed on
    the 8-byte chunk hash (never the chunk string); everything after is
    O(sources) aggregation. (The table-spread helper may add a toy-input
    round-robin exchange and the final agg its own tiny exchange — the pin
    is that no SECOND corpus-scale data shuffle exists, i.e. exactly one
    hashpartitioning on chunk_h, and that no string chunk column survives
    into any exchange.)"""
    df = QUERIES["passage_dedup"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("hashpartitioning(chunk_h") == 1
    assert "hashpartitioning(chunk#" not in plan  # strings never shuffle


# --- mechanical shape pins for every benched query --------------------------
#
# Five structural pins per headline query so a comment/plan divergence (like
# r4's unigram triple-scan) cannot land silently:
#   max_scans       — parquet scan operators in the static plan (a persisted
#                     subtree counts its build scan once; ceilings, not
#                     equalities, so cache-materialization state can't flake)
#   max_bnlj        — BroadcastNestedLoopJoin allowance. Non-zero ONLY for
#                     documented 1-row scalar crossJoins (unigram's corpus
#                     total rides into model+scoring as a broadcast 1-row
#                     cross join) — anything else is the O(n·m) fallback.
#   max_single_part — Exchange SinglePartition allowance. Non-zero ONLY for
#                     scalar aggregates (1 row per upstream partition);
#                     an unpartitioned Window/Sort would trip this.
#   max_shuffles    — Exchange operators in the static plan (r8, VERDICT r7
#                     #8: the PLANS.md inventory as a committed expectation,
#                     not prose). Includes the toy-input spread exchanges,
#                     so the ceiling == the designed count at test SF; a new
#                     shuffle (the 100 TB cost unit) fails the sweep.
#   bcast           — (min, max) BroadcastHashJoin count. min pins the
#                     broadcasts the design REQUIRES (dimension tables, eval
#                     shingle sets, fitted models); max catches a fact side
#                     silently crossing the auto-broadcast threshold.
_HEADLINE_SHAPE: dict[str, tuple[int, int, int, int, tuple[int, int]]] = {
    #        (max_scans, max_bnlj, max_single_part, max_shuffles, (bcast_min, bcast_max))
    "agg_groupby": (1, 0, 0, 1, (0, 0)),
    "join_3way": (4, 0, 0, 3, (2, 2)),  # nation+customer broadcast; orders shuffle-hash by hint
    "window_rank": (1, 0, 0, 1, (0, 0)),
    "topk": (1, 0, 0, 0, (0, 0)),  # TakeOrdered: zero shuffles
    "distinct_approx": (1, 0, 1, 1, (0, 0)),  # scalar agg → one 1-row-per-part exchange
    "json_extract": (1, 0, 0, 1, (0, 0)),
    "time_bucket": (1, 0, 0, 1, (0, 0)),
    "semi_join": (2, 0, 0, 0, (1, 1)),  # broadcast semi join, no shuffle
    "text_stats": (1, 0, 0, 1, (0, 0)),
    "knn_brute": (1, 0, 0, 0, (0, 0)),  # narrow score + TakeOrdered
    "knn_ivf": (1, 0, 0, 0, (0, 0)),  # pure probe of the cached index
    "ngram_jaccard": (2, 0, 0, 4, (2, 2)),  # cached index; size tables broadcast
    "minhash_pairs": (1, 0, 0, 1, (3, 3)),  # ids-only pair exchange; sig/band joins broadcast
    # r18: +1 spread exchange (partitioning.spread — the 64-bit vote fold
    # otherwise runs on the fixture scan's single partition)
    "simhash_pairs": (1, 0, 0, 2, (1, 1)),
    # r18: +2 spread exchanges (partitioning.spread on the corpus scan, read
    # by both the base and the planted-copy branch — the band projection
    # otherwise runs on the fixture's single scan partition; no-op at scale)
    "emb_near_dup_lsh": (2, 0, 0, 4, (3, 3)),
    "decontam_check": (2, 0, 0, 4, (1, 1)),  # eval shingles broadcast
    "passage_dedup": (1, 0, 0, 3, (0, 0)),  # chunk-hash keep-first + agg
    "unigram_logprob": (2, 2, 2, 7, (3, 3)),  # 2 × broadcast 1-row total; model broadcast
    "bigram_logprob": (2, 1, 1, 7, (3, 3)),
    # the corpus spread exchange (partitioning.spread) replans in each
    # consuming branch of the static plan (kernel input, anti-join side,
    # totals); AQE reuses one exchange at runtime. The within-cluster
    # scoring is ONE hashpartitioning(__c) exchange feeding the per-cluster
    # Arrow kernel (no self-join); the 2 broadcasts are the dup-id anti-join
    # and the kept-count attach.
    "semdedup_clusters": (3, 0, 0, 6, (2, 2)),
    # r7/r8 heavy tier, first benched r9 (VERDICT r8 #3). BNLJ/single-part
    # allowances are the documented 1-row broadcast crossJoins (centroid
    # array, corpus totals, fitted-model rows) already in the catalog
    # BNLJ allowlist below — never a fact-side nested loop.
    "substring_dup_stats": (2, 0, 0, 8, (1, 1)),
    "substring_rebuild": (3, 0, 0, 5, (2, 2)),
    # the corpus spread exchange (partitioning.spread) under each fact branch
    # (corpus assign, query assign), the cell join's two sides and the top-k
    # window. The centroid model is collected at build and broadcast as a
    # variable to the assignment kernels, so it is no plan subtree: no
    # nested-loop attach, no single-partition fold, no broadcast join.
    "knn_cells": (2, 0, 0, 5, (0, 0)),
    "dsir_weights": (3, 4, 4, 12, (6, 6)),  # 2 unigram LMs + totals, all 1-row/model broadcasts
    "bm25_search": (1, 1, 1, 3, (2, 2)),  # (N, avgdl) scalar-stats crossJoin
    # r9 additions, first benched r9. bcast == bnlj where both are 1: the
    # only broadcast is the 1-row model/scalar attach (no fact-side BHJ).
    "winnow_fp": (2, 0, 0, 3, (1, 1)),  # stats ⋈ per-lang distinct keys
    "repetition_stats": (1, 0, 0, 2, (0, 0)),  # in-row fold; spread + lang agg only
    "heavy_hitters": (0, 1, 1, 2, (1, 1)),  # summaries checkpointed (scan at build); 1-row err bound
    "pack_bfd": (1, 0, 0, 4, (1, 1)),  # rank window + broadcast segment range join
    # spread + cell count + the scalar summary; the centroid model is a
    # broadcast variable of the assignment kernel, not a plan subtree
    "ivf_balance": (1, 0, 1, 3, (0, 0)),
    "pq_encode": (2, 1, 1, 1, (1, 1)),  # codebook-array fold, narrow encode
    "pq_adc": (2, 1, 1, 3, (1, 1)),  # encode + map-literal ADC + TakeOrdered
    # 3-stage composition: the codebook attach + the top-k result broadcast;
    # the centroid model is a broadcast variable of the assignment kernel
    "ivfpq": (3, 1, 1, 5, (2, 2)),
    "drift_psi": (0, 1, 1, 2, (1, 1)),  # checkpointed agg (scan at build); 1-row totals
    # r10 additions, frozen r10. fuzzy_join: segment⋈substring equi-join —
    # AQE broadcasts the deduped substring side at toy SF but the design
    # does NOT require it (both sides are corpus-scale at 100 TB), hence
    # bcast floor 0. pagerank: the returned frame reads the final
    # iteration's checkpoint — every per-round shuffle ran eagerly at
    # build (drift_psi precedent), so the static plan is exchange-free.
    # r18: +2 spread exchanges (partitioning.spread on each _prep side —
    # toy-input-only round-robin of the slice, a no-op decision at scale;
    # the banded verify now runs map-side in the join stage so the pair
    # dedup exchange carries only true pairs, see operators/fuzzy.py)
    "fuzzy_join": (2, 0, 0, 4, (0, 1)),
    "pagerank": (0, 0, 0, 0, (0, 0)),
    # r11: final-round groupBy(cluster, dim) over the checkpointed
    # quantized corpus — ONE shuffle, zero scans (lineage truncated),
    # assignment is a broadcast-literal fold (no join at all)
    "kmeans_train": (0, 0, 0, 1, (0, 0)),
    # r11: wedge equi-join + closure equi-join + explode/groupBy + the
    # top-20 cut over checkpointed edge lists; joins may resolve as
    # shuffle or (AQE, small SFs) broadcast — both correct
    "triangle_count": (0, 0, 0, 6, (0, 2)),
    # r13: Bellman-Ford — the returned frame reads the final round's
    # checkpoint (the pagerank lineage-truncation posture), so the
    # static plan is exchange- and scan-free
    "sssp_bounded": (0, 0, 0, 0, (0, 0)),
    # lpa_communities: the returned frame is the final labels checkpoint
    # + one communities-rollup groupBy (the per-round join/agg lineage is
    # truncated by the round checkpoints, the pagerank posture)
    "lpa_communities": (0, 0, 0, 1, (0, 0)),
    # r13: customer-blocked pair-generation join over the checkpointed
    # edge list (0 static scans) — pairs + cdeg attach + the scored
    # groupBy shuffle; the TWO broadcasts the design requires are the
    # supplier-degree attaches (dim-bounded); AQE may additionally
    # broadcast the customer-degree attach at toy SF (correct, allowed)
    "resource_alloc": (0, 0, 0, 6, (2, 3)),
}


def test_headline_plan_shapes_pinned(spark, sf_dir):
    """Every query in bench.py's HEADLINE set must stay inside its pinned
    structural expectations — scan/shuffle/nested-loop/single-partition
    ceilings and the exact broadcast-join band. Fails loudly if bench.py
    grows a query this table doesn't know about."""
    import bench

    assert set(bench.HEADLINE.values()) == set(_HEADLINE_SHAPE)
    for qname, (max_scans, max_bnlj, max_single, max_shuf, bcast) in (
        _HEADLINE_SHAPE.items()
    ):
        # defined cache state per query (same contract as the bench loop)
        spark.catalog.clearCache()
        from savio_training_dask_2019_spark.queries import vectorops

        vectorops.invalidate_cached_indexes()
        df = QUERIES[qname](spark, sf_dir)
        assert plans.scan_count(df) <= max_scans, f"{qname}: scans"
        assert plans.bnlj_count(df) <= max_bnlj, f"{qname}: nested-loop joins"
        assert (
            plans.single_partition_exchange_count(df) <= max_single
        ), f"{qname}: single-partition exchanges"
        n_shuf = plans.shuffle_count(df)
        assert n_shuf <= max_shuf, f"{qname}: {n_shuf} shuffles > {max_shuf}"
        n_bcast = plans.broadcast_join_count(df)
        lo, hi = bcast
        assert lo <= n_bcast <= hi, f"{qname}: {n_bcast} broadcasts outside {bcast}"
    spark.catalog.clearCache()
    from savio_training_dask_2019_spark.queries import vectorops

    vectorops.invalidate_cached_indexes()


# Queries allowed to keep unpartitioned Windows (value = how many), each
# with a documented row bound that makes the single task safe at any
# corpus size:
#   vocab_coverage — residual ranking window runs strictly above a
#                    TakeOrdered cut, so it sees <= max(K) rows (constant).
#   zipf_curve     — ranking window runs strictly above a TakeOrdered
#                    top-K cut, so it sees <= _ZIPF_TOP_K rows (constant).
#   drift_ks       — cumulative-count window runs strictly above the
#                    localCheckpoint'ed bins table, so it sees <= _KS_B
#                    (64) rows at any corpus size.
#   rrf_hybrid     — TWO ranking windows, one per retrieval arm, each
#                    strictly above that arm's top-k limit (<= 10 rows).
_BOUNDED_WINDOW_ALLOWLIST = {
    "vocab_coverage": 1,
    "zipf_curve": 1,
    "drift_ks": 1,
    "heaps_curve": 1,
    "backlog_monthly": 2,  # two cumulative walks over the <=span-months table
    "rrf_hybrid": 2,
    # share total over the 9-digit count table — bounded by construction
    "benford_digits": 1,
    # two running walks (reverse at-risk sum + KM cumlog) over the
    # <=span/7-row lifetime-week table — calendar-bounded by construction
    "survival_curve": 2,
    # one lag walk over the <=span-months rollup — calendar-bounded
    "monthly_churn": 1,
    # cumulative + total frames over the <=|distinct discounts| (~11)
    # class-count table — value-domain-bounded by construction
    "info_gain_splits": 1,
}

# Catalog-wide parquet-scan budget (default 2). Queries above 2 carry a
# documented inherent reason — NOT a lineage-re-execution bug:
#   set_ops        — union/intersect/except demo needs 6 branch scans of
#                    the same table by definition of the set algebra demo
#   join_3way      — four distinct tables
#   semdedup_clusters — the per-cluster kernel's input (1) + anti-join
#                    back (1) + cluster totals (1); pinned in _HEADLINE_SHAPE
#   split_leakage  — train side, val side, and the planted-group probe
#   doc_tfidf      — corpus df branch, filtered tf branch, and the 1-row
#                    corpus count (cheap columnar count scan)
_MAX_PARQUET_SCANS = {
    "set_ops": 6,
    # base agg + 4 changelog branches: the demo DERIVES its changelog from
    # orders (a real changelog is one small source — the apply_cdc posture)
    "ivm_agg": 5,
    # the knn_cells arm (its query and corpus scans) + the exact eval arm's
    # query/corpus scans; the eval comparison re-runs both pipelines
    "ann_recall": 4,
    # the three-stage IVF-PQ composition: the corpus scan feeding
    # assignment+encode (printed under both the encode branch and the
    # result join) and the codebook subtree; at prod scale the codebook is
    # a separate model table and the corpus is read once from its
    # partitionBy(cell) code layout
    "ivfpq": 3,
    # ivfpq's scans; the rerank reads the candidates' raw vectors from the
    # same assignment branch (at prod scale: a rerank_k-row point lookup
    # against the partitionBy(cell) layout, not a scan)
    "ivfpq_rerank": 3,
    # two-corpus LM fits (target + source) + one shared scoring pass
    "dsir_weights": 3,
    # window-stream branch ×2 (keep-first min-agg side + salted probe side
    # — recomputing the token stream beats materializing it; r8 keep-first
    # refactor) + the per-language token-total denominator re-scan
    "substring_scrub": 3,
    # same window-stream ×2 + the token-array branch the rebuild joins back
    "substring_rebuild": 3,
    # train-side shingles + eval-side shingles (exchange-reused scan) + the
    # survivor anti-join branch back onto the train frame
    "decontam_scrub": 3,
    # snapshot-side scan (cached hist printed under count/build/confirm) +
    # the batch scan under each union branch; physically: hist persisted,
    # one batch scan per branch of the bloom split
    "dedup_incremental_bloom": 3,
    "join_3way": 4,
    "semdedup_clusters": 3,
    "split_leakage": 3,
    "doc_tfidf": 3,
    # three distinct fact tables profiled (one scan each; each keyset is
    # an independent groupBy→scalar-agg chain)
    "skew_profile": 3,
    # two-pass robust stats: median build + the dev pass feeding MAD +
    # the final scoring pass (med/mad themselves checkpointed O(groups))
    "outlier_mad": 3,
    # 3 candidate joins × both sides' per-key count tables (one scan
    # each); the fact tables themselves never join — only O(keys) tables
    "join_explosion": 6,
    # base + the 4 DEMO changelog branches (u1/u2/delete/insert), each
    # derived from orders so every op fires at every SF — a production
    # changelog is its own single-scan source (set_ops demo precedent)
    "apply_cdc": 5,
    # brute_knn_join's corpus+query branches + the corpus-label and
    # query-label join-backs (at prod scale labels live in the same scan;
    # the fixture derives all four from one table)
    "retrieval_eval": 4,
    # five distinct tables audited in two chains (lineitem's three FK
    # edges share one scan; orders appears as both parent and child)
    "ref_integrity": 6,
    # the two eval arms (banded signatures + exact inverted index) + the
    # lang dimension join — the dedup_eval two-pipelines-compared posture
    "grouped_minhash_sim": 3,
    # three distinct tables: lineitem + orders fact join, supplier dim
    "waiting_suppliers": 3,
}


def test_unpartitioned_window_detector_is_not_vacuous(spark):
    """The sweep below is only meaningful if the detector actually fires on
    the bad shape and stays quiet on the good one."""
    from pyspark.sql import Window

    df = spark.range(50).selectExpr("id s", "id % 3 g", "id * 2 v")
    bad = df.select(F.sum("v").over(Window.orderBy("s")).alias("c"))
    good = df.select(
        F.sum("v").over(Window.partitionBy("g").orderBy("s")).alias("c")
    )
    assert plans.unpartitioned_window_count(bad) == 1
    assert plans.unpartitioned_window_count(good) == 0
    assert plans.unpartitioned_window_count(df) == 0  # no window at all
    # no-ORDER-BY global window: the spec's first arg is the frame itself
    # (specifiedwindowframe(...)), not an ASC/DESC ordering — previously a
    # false negative
    unordered = df.select(
        F.sum("v").over(Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )).alias("c")
    )
    assert plans.unpartitioned_window_count(unordered) == 1
    # a partitioned spec planned in the same operator as an unpartitioned
    # one must not mask it — every spec in the block is inspected
    mixed = df.select(
        F.sum("v").over(Window.partitionBy("g").orderBy("s")).alias("a"),
        F.sum("v").over(Window.orderBy("s")).alias("b"),
    )
    assert plans.unpartitioned_window_count(mixed) >= 1


# Catalog-wide BroadcastNestedLoopJoin budget (default 0 — BNLJ is the
# O(n·m) fallback and a scale killer anywhere unplanned). Non-zero entries
# are the documented bounded cases (r8 sweep): 1-row scalar totals or
# model arrays attached by crossJoin, broadcast query/anchor batches whose
# size is the operator's documented lever, and the two intentional
# non-equi demos.
_MAX_BNLJ = {
    "basket_pairs": 1,      # 1-row basket-total attach (lift normalizer)
    "bigram_logprob": 1,    # 1-row corpus total
    "bm25_search": 1,       # 1-row corpus stats (N, avgdl)
    "ccnet_bands": 2,       # 1-row total ×2 (unigram fit + band thresholds)
    "collocations": 1,      # 1-row corpus totals
    "centroid_eval": 1,     # |labels|-row broadcast centroid-table attach
    "cms_counts": 1,        # 1-row folded CMS table attach
    "cross_join": 1,        # the intentional 5×25-row cross-join demo
    "decontam_bloom": 1,    # 1-row Bloom bitset-map attach
    "dedup_incremental_bloom": 2,  # ONE bitset attach, printed under both
                            # union branches (physically reused broadcast)
    "doc_tfidf": 1,         # 1-row corpus doc count
    "jsd_sources": 1,       # 1-row corpus token total attach
    "drift_ks": 1,          # 1-row half-totals scalar (drift family shape)
    "drift_numeric": 1,     # 1-row half-totals scalar (drift_psi's twin)
    "drift_psi": 1,         # 1-row half-totals scalar
    "drift_psi_windowed": 1,  # days×classes dense grid (tiny by construction)
    "cuped_reduction": 1,   # 1-row (min, max) cutoff attach
    "survival_curve": 1,    # 1-row censoring fold (n, sum last-day) attach
    "dsir_weights": 4,      # two LM fits × (1-row total + model attach)
    "emb_near_dup": 1,      # brute pairwise demo tier (documented oracle tier)
    "embedding_drift": 2,   # 1-row count attach ×2 (ref + cur scalars)
    "hard_negatives": 1,    # broadcast anchor batch (size = caller's lever)
    "heavy_domains": 1,     # 1-row error-bound scalar (weighted MG)
    "heavy_hitters": 1,     # 1-row error-bound scalar
    "ivfpq": 1,             # the 1-row codebook-array attach (encode stage)
    "ivfpq_rerank": 1,      # same stages as ivfpq; the top-R attach is a BHJ
    "ann_recall": 1,        # the exact arm's broadcast-query cross join
    "knn_join": 1,          # broadcast query batch (size = caller's lever)
    "mixture_weights": 1,   # 1-row normalizer
    "pq_adc": 1,            # 1-row codebook-array attach (encode stage)
    "pq_encode": 1,         # 1-row codebook-array attach
    "range_join": 1,        # intentional theta/range join demo
    "retrieval_eval": 1,    # broadcast eval-query batch (brute_knn_join)
    "rrf_hybrid": 1,        # the BM25 arm's 1-row (N, avgdl) stats attach
    "unigram_logprob": 2,   # 1-row corpus total ×2 (model + scoring)
    "vocab_coverage": 1,    # 1-row total token mass
    "welch_ttest": 1,       # 1-row grand-total moment attach
    "simpsons_check": 1,    # 1-row pooled-moment attach (welch posture)
}


# Catalog-wide Exchange SinglePartition budget (default 0). A single-
# partition exchange is safe ONLY below a scalar aggregate (its input is
# one row per upstream partition); anywhere else it is the all-rows-
# through-one-task funnel. The entries below are the documented scalar
# cases (r8 sweep): corpus totals/counts, sketch merges, and dsir's two
# LM fits.
_MAX_SINGLE_PARTITION = {
    "backlog_monthly": 1,  # the <=span-months cumulative window's exchange
    "basket_pairs": 1,  # the one-row basket-total aggregate
    "benford_digits": 1,  # the bounded 9-row share window's exchange
    "dedup_eval": 1,  # the one-row metrics aggregate
    "degree_assortativity": 1,  # the one-row moment fold
    "bigram_logprob": 1, "bm25_search": 1, "ccnet_bands": 2,
    "cms_counts": 2,  # 1-row table fold + the 20-probe global limit
    "collocations": 1, "corr_cov": 1, "decontam_bloom": 1,
    "dedup_incremental_bloom": 2,  # one bitset fold printed under both branches
    "dedup_stats": 1,
    "describe_summary": 1, "distinct_approx": 1, "doc_tfidf": 1,
    "drift_ks": 2,  # 1-row totals fold + the <=_KS_B-row cumulative window
    "drift_numeric": 1, "drift_psi": 1,
    "embedding_drift": 1,  # the 1-row centroid-moments aggregate
    "k_anonymity": 1,  # the 1-row audit summary over the class table
    "cuped_reduction": 1,  # the 1-row corpus-span fold
    "dsir_weights": 4, "fanout_compute": 1, "funnel_stages": 1,
    "heaps_curve": 1,  # the <=100-row cumulative window's exchange
    "heavy_domains": 1,
    "heavy_hitters": 1, "hll_sketch_union": 1,
    "ivf_balance": 1,  # the one-row occupancy summary
    "info_gain_splits": 1,  # the ~11-row split-candidate window's exchange
    "jsd_sources": 1,  # the 1-row corpus token-total fold

    "ivfpq": 1, "ivfpq_rerank": 1,  # the codebook-array fold
    "kll_quantiles": 1,
    "mixture_weights": 1, "norm_dedup_stats": 1,
    "monthly_churn": 1,  # the <=span-months lag window's exchange
    "null_profile": 1,  # the one-row wide profile aggregate
    "ref_integrity": 2,  # one scalar audit aggregate per chain
    "pq_adc": 1,
    "pq_encode": 1,
    "join_explosion": 3,  # one scalar fold per candidate join's key table
    "rrf_hybrid": 2,  # <=10-row ranking-window funnels, one per arm
    "sample_mod": 1,
    "skew_profile": 3,  # one scalar fold over each keyset's counts table
    "survival_curve": 2,  # the two <=span/7-row running windows' exchanges
    "unigram_logprob": 2, "vocab_coverage": 1,
    "welch_ttest": 1,  # the 1-row grand-total moment fold
    "simpsons_check": 1,  # the 1-row pooled-moment fold
}


def test_no_unpartitioned_window_anywhere_in_catalog(spark, sf_dir):
    """Catalog-wide sweep: NO query may plan an unpartitioned Window (the
    all-rows-through-one-task scale killer) — not just the benched
    headliners. pack_sequences earned its place here by hiding one in its
    block-offset cascade for four rounds (fixed r6: driver-side super-block
    prefix, the zipWithIndex pattern). Allowlisted queries carry a
    documented constant row bound instead."""
    from savio_training_dask_2019_spark.queries import vectorops

    offenders = {}
    scan_offenders = {}
    bnlj_offenders = {}
    sp_offenders = {}
    for qname, fn in sorted(QUERIES.items()):
        df = fn(spark, sf_dir)
        n = plans.unpartitioned_window_count(df)
        limit = _BOUNDED_WINDOW_ALLOWLIST.get(qname, 0)
        if n > limit:
            offenders[qname] = n
        sc = plans.scan_count(df)
        if sc > _MAX_PARQUET_SCANS.get(qname, 2):
            scan_offenders[qname] = sc
        nb = plans.bnlj_count(df)
        if nb > _MAX_BNLJ.get(qname, 0):
            bnlj_offenders[qname] = nb
        ns = plans.single_partition_exchange_count(df)
        if ns > _MAX_SINGLE_PARTITION.get(qname, 0):
            sp_offenders[qname] = ns
        spark.catalog.clearCache()
        vectorops.invalidate_cached_indexes()
    assert not offenders, f"unpartitioned Window in: {offenders}"
    # r7 audit: every catalog query reads its parquet inputs at most twice
    # per execution unless allowlisted with a documented reason — a new
    # branch silently re-executing corpus lineage (the mixture_weights /
    # collocations bug class, fixed via localCheckpoint) fails here.
    assert not scan_offenders, f"parquet scan count over budget: {scan_offenders}"
    # r8: catalog-wide nested-loop budget — a BroadcastNestedLoopJoin outside
    # the documented bounded cases (1-row scalar/model attaches, broadcast
    # query batches, the two non-equi demos) is the O(n·m) fallback landing
    # silently and fails here.
    assert not bnlj_offenders, f"nested-loop joins over budget: {bnlj_offenders}"
    # r8: catalog-wide single-partition-exchange budget — a global funnel
    # outside the documented scalar aggregates fails here.
    assert not sp_offenders, f"single-partition exchanges over budget: {sp_offenders}"


def test_knn_cells_no_fact_broadcast_shuffle_hash_on_cell(spark, sf_dir):
    """The two-sided IVF cell join's contract: the probes ⋈ corpus join is
    a ShuffledHashJoin on the cell id — neither fact side rides a
    broadcast, whatever its toy-scale size, because at 100 TB neither side
    fits one. The centroid model reaches both assignment kernels as ONE
    broadcast variable, so the plan holds no broadcast at all: no
    nested-loop model attach, no BroadcastExchange, and exactly one
    MapInArrow kernel per fact side."""
    import re

    df = QUERIES["knn_cells"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan[:1500]
    assert re.search(r"Left keys \[1\]: \[cell#\d+L\]", plan), "join not keyed on cell"
    assert plans.bnlj_count(df) == 0
    assert plans.broadcast_join_count(df) == 0
    assert "BroadcastExchange" not in plan
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 2


def test_pii_redact_no_join_no_corpus_shuffle(spark, sf_dir):
    """Detection/redaction is a pure narrow map: no joins anywhere, and the
    only exchanges are the toy-input spread + the O(sources) agg."""
    df = QUERIES["pii_redact"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.broadcast_join_count(df) == 0
    assert "Join" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Scale insurance: Spark's runtime bloom filter (InjectRuntimeFilter)
    must still fire on the selective-dim ⋈ fact shuffle-join shape — the
    dim side's predicate becomes a bloom filter applied to the FACT scan
    (`might_contain(...)` above it), so at 100 TB the shuffle moves only
    rows that can possibly join. Default thresholds are sized for real
    clusters (application side >= 10 GB), so the test floors them; if this
    pin breaks on a Spark upgrade, every selective fact-dim join in the
    catalog loses its pre-shuffle pruning silently."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        ), "runtime bloom filters are disabled session-wide"
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, (
            "runtime bloom filter no longer injected on the selective "
            "dim ⋈ fact shuffle join"
        )
        # and it must guard the FACT side's key, pre-shuffle
        import re

        assert re.search(r"might_contain\(.*xxhash64\(l_orderkey", plan)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
