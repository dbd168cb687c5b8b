"""Deduplication family (LLM-pipeline extension, SURVEY.md §2.12).

Five tiers, cheapest first — a 100 TB corpus dedup pipeline composes them in
this order so each tier shrinks the candidate set for the next:

1. exact        — hash-groupBy on a content hash (one shuffle on the hash)
2. fingerprint  — md5 of the sorted token set (order-insensitive exact)
3. n-gram Jaccard — exact set similarity via shingle inverted index
                    (self-join on shingle; only docs sharing a shingle pair up)
4. MinHash LSH  — sub-quadratic approximate Jaccard, banded in column math
5. SimHash      — 64-bit near-dup signature; Hamming-band self-join

Reference surface being generalized: ``drop_duplicates()`` (dask §2.2); tiers
2-5 are extensions mandated by BASELINE.json.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens as _tokens
from ..partitioning import pin_fanout
from .rounds import iterate

# Salt fan-out for hot-key join-backs whose build side is 1 row per key
# (keep-first / totals lookups): the probe side salts on its id, the build
# side explodes ×JOIN_SALTS, and a boilerplate hot key spreads across
# JOIN_SALTS partitions BY CONSTRUCTION. Production guidance: >= executor
# count. Kept deliberately deterministic — AQE's skew-split cannot fire on
# agg-fed join shapes (verified empirically; tests/test_skew.py). The
# generic caller-facing surface of the same pattern is
# ``operators.skew.salted_join``; the joins below inline it because their
# probe side has a single known-good salt basis (the doc id) and the build
# side is derived mid-pipeline.
JOIN_SALTS = 16


def keep_first_by_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per distinct text (hash key).

    One shuffle on the 128-bit content hash; group state is two scalars, so
    skew (a billion copies of one boilerplate doc) cannot blow memory."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def keep_best_by_hash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score,
    normalize: bool = True,
) -> DataFrame:
    """Quality-aware dedup: per (by default NORMALIZED) content group, keep
    the row maximizing ``score`` (a Column; ties break on lowest id) — the
    RefinedWeb keep-the-most-content convention (arXiv:2306.01116 §3.3)
    generalized to any scoring column, vs :func:`keep_first_by_hash`'s
    first-seen rule. Returns one row per group: (content_hash, keep_id,
    n_copies, kept_score, first_id, policy_diverges), where ``first_id``
    is the keep-first answer and ``policy_diverges`` flags groups where
    the two rules disagree.

    One shuffle on the 128-bit content hash; the argmax (row_number by
    score desc) and the group stats (count, min id) ride the SAME
    hash-partitioned window, so there is no second exchange. Group state
    streams (rank is O(1)); a billion-copy boilerplate group costs one
    task's sort of its copies' (hash, id, score) triples — text never
    rides past the hash projection."""
    from pyspark.sql import Window

    content = F.col(text_col)
    if normalize:
        from ..functions.text import normalize_for_dedup

        content = normalize_for_dedup(content)
    g = df.select(
        F.md5(content).alias("content_hash"),
        F.col(id_col).alias("_id"),
        score.alias("_score"),
    )
    w = Window.partitionBy("content_hash")
    ranked = g.select(
        "content_hash",
        "_id",
        "_score",
        F.row_number()
        .over(w.orderBy(F.col("_score").desc(), F.col("_id").asc()))
        .alias("_rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
        F.min("_id").over(w).alias("first_id"),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        "content_hash",
        F.col("_id").alias("keep_id"),
        "n_copies",
        F.col("_score").alias("kept_score"),
        "first_id",
        (F.col("_id") != F.col("first_id")).alias("policy_diverges"),
    )


def _dup_span_islands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_w: int = 8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared core of stride-1 duplicate-substring removal (Lee et al.
    2021, arXiv:2107.06499 §4.2: keep the globally FIRST occurrence of
    every duplicated substring, remove the rest), at token-window
    granularity: every non-first occurrence (global order: id, position)
    of a ``span_w``-token window that appears ≥2 times anywhere marks its
    covered token range; overlapping ranges within a doc merge into
    maximal spans via gaps-and-islands. Returns the MERGED SPANS — one row
    per (touched doc, island): (id, *keep_cols, n_tok, island, st, en) —
    consumed by :func:`substring_dup_removal` (accounting) and
    :func:`substring_dup_scrub` (document reconstruction).

    Scale: the global-first occurrence per window hash is a plain
    min-aggregation over the window stream (one row per token position,
    8-byte xxhash64 — the window string never leaves the map stage; map-
    side combine absorbs boilerplate hot spans), tested back against the
    stream via a SALTED join (build side is 1 row per h — no rank window,
    so no hot-key single-task sort; see JOIN_SALTS). Then one
    id-partitioned window over ONLY the non-first occurrences (the
    duplicated tail, ≪ token stream) with O(1) running-max state. Ranges
    stay (start, end) pairs — no span_w× position explosion.

    APPROXIMATION — hash-keyed duplicate identity: two windows are
    "duplicates" when their 64-bit xxhash64 values collide, not when
    their contents match. At the fixture/oracle scale (≤~10^6 windows)
    a collision is ~2^-25-improbable, so this matches the string-keyed
    exact-content oracle; at 100 TB (~10^12 windows) the birthday bound
    (~2^32 windows for a 64-bit key) makes a few false duplicate marks
    statistically certain. That is the standard Lee-et-al trade (removal
    of a rare non-duplicate window is benign for corpus prep). Callers
    needing an exact-match guarantee at that scale should widen the key —
    e.g. ``F.unhex(F.md5(win))`` (128-bit, collision-free in practice)
    at 2× shuffle-key bytes. The same trade applies to every hash-keyed
    dedup in this module and to q_span_scrub/q_substring_dup_stats."""
    if span_w < 2:
        raise ValueError(f"span_w must be >= 2, got {span_w}")
    reserved = {"id", "n_tok", "pos", "h", "s", "e", "new_island", "island",
                "span_len", "removed", "p0", "tk", "rn", "p1", "salt"}
    clash = reserved & set(keep_cols)
    if clash:
        raise ValueError(f"keep_cols collide with internal columns: {sorted(clash)}")
    keep = [F.col(c) for c in keep_cols]
    d = df.select(
        F.col(id_col).alias("id"), *keep, _tokens(F.col(text_col)).alias("tk")
    ).where(F.size("tk") >= span_w)
    idx = F.sequence(F.lit(1), F.size("tk") - span_w + 1)
    wins = d.select(
        "id",
        *keep_cols,
        F.size("tk").alias("n_tok"),
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.xxhash64(F.array_join(F.slice(F.col("tk"), i, span_w), " ")),
            )
        ).alias("p0", "h"),
    ).select("id", *keep_cols, "n_tok", (F.col("p0") + 1).alias("pos"), "h")
    # Keep-first WITHOUT a rank window: a Window.partitionBy(h) would drag
    # every occurrence of a boilerplate hot span (10^8 at corpus scale) into
    # ONE sort task. Instead the global first occurrence per h is a plain
    # min-of-(id,pos) aggregation — map-side combine absorbs the hot key —
    # and the "is this the first?" test is a join-back. The join-back is
    # SALTED on id for the same reason the stats query's totals join is:
    # its build side is 1 row per h, so exploding it ×JOIN_SALTS is cheap,
    # and AQE's skew-split cannot fire on an agg-fed join shape anyway
    # (tests/test_skew.py).
    firsts = wins.groupBy("h").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("p1")
    )
    salted_firsts = firsts.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALTS - 1)))
    )
    dup_occ = (
        wins.withColumn("salt", F.pmod(F.xxhash64("id"), F.lit(JOIN_SALTS)).cast("int"))
        .join(salted_firsts, ["h", "salt"])
        .where(F.struct(F.col("id"), F.col("pos")) != F.col("p1"))
        .select(
            "id", *keep_cols, "n_tok",
            F.col("pos").alias("s"),
            (F.col("pos") + span_w - 1).alias("e"),
        )
    )
    wd = Window.partitionBy("id").orderBy("s", "e")
    prev_max_e = F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = dup_occ.withColumn(
        "new_island", (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long")
    ).withColumn("island", F.sum("new_island").over(wd))
    return islands.groupBy("id", *keep_cols, "n_tok", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )


def substring_dup_removal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_w: int = 8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Removal ACCOUNTING over :func:`_dup_span_islands` (full semantics and
    scale argument there): one row per TOUCHED doc — (id, *keep_cols,
    n_tok, removed), removed = Σ merged-span lengths, exact even when
    thousands of overlapping windows cover one copied passage."""
    merged = _dup_span_islands(df, text_col, id_col, span_w, keep_cols)
    return merged.groupBy("id", *keep_cols, "n_tok").agg(
        F.sum(F.col("en") - F.col("st") + 1).alias("removed")
    )


def substring_dup_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_w: int = 8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The PRODUCTION output of Lee-et-al removal — the scrubbed documents
    themselves, not just the accounting: one row per TOUCHED doc with
    (id, *keep_cols, n_tok, removed, scrubbed_text), where scrubbed_text
    is the document rebuilt from the tokens OUTSIDE every merged duplicate
    span (a fully-duplicated doc comes back as the empty string).

    Scale: the span pipeline is :func:`_dup_span_islands` (hot-span-proof:
    min-agg keep-first + salted join-back, islands window over the
    duplicated tail only); spans collapse to ONE row per touched doc
    (collect_list state bounded by the doc's own island count ≤ n_tok/2),
    the token arrays join back id-keyed, and the rebuild is a narrow
    higher-order filter — position-indexed lambda against the doc's own
    span array, no Python boundary, no extra shuffle beyond the id join."""
    merged = _dup_span_islands(df, text_col, id_col, span_w, keep_cols)
    spans = merged.groupBy("id", *keep_cols, "n_tok").agg(
        F.sum(F.col("en") - F.col("st") + 1).alias("removed"),
        F.collect_list(F.struct(F.col("st"), F.col("en"))).alias("spans"),
    )
    toks = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("tk")
    )
    in_span = lambda sp, p: (p >= sp["st"]) & (p <= sp["en"])  # noqa: E731
    kept = F.filter(
        "tk", lambda t, i: ~F.exists("spans", lambda sp: in_span(sp, i + F.lit(1)))
    )
    return spans.join(toks, "id").select(
        "id",
        *keep_cols,
        "n_tok",
        "removed",
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


def exact_dedup_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-level dedup summary: total docs, distinct texts, redundant docs."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(text_col).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(text_col)).alias("n_redundant"),
    )


def shingle_array(text_col, n: int = 3):
    """Column of DISTINCT word n-gram shingles for a text column. JVM-side:
    split + sequence + transform, no Python boundary."""
    toks = _tokens(F.col(text_col) if isinstance(text_col, str) else text_col)
    # Explicit empty-array guard: sequence(0, stop) with stop < 0 defaults to
    # step -1 and yields [0, -1], and slice() then throws on index 0 — so docs
    # shorter than n tokens must short-circuit to [] instead.
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc → (id, shingle), exploded."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(shingle_array(text_col, n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).

    Inverted index via ONE groupBy(shingle) → sorted id-list per shingle
    (the df-cap on hot boilerplate shingles is a free filter on list size —
    dropping them only *lowers* recall for near-universal shingles; MinHash
    LSH is the recall-safe tier). Pairs come from a two-step explode of each
    list — (i, slice-after-i) then the slice — so the per-shingle quadratic
    materializes as distributed ROWS, never as an O(m²) in-memory array, and
    per-doc sizes re-derive from the same cached index. Three shuffles total
    (index build, pair count, size agg) and the tokenize+shingle scan runs
    once, vs five shuffles + four scans for the naive self-join form.

    The returned frame reads the cached index, which stays cached for it;
    a caller that materializes what it needs inside a block uses
    :func:`ngram_jaccard_edges`, which releases the index on exit."""
    return _ngram_jaccard(df, text_col, id_col, n, threshold)[0]


@contextmanager
def ngram_jaccard_edges(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> Iterator[DataFrame]:
    """Yield :func:`ngram_jaccard_pairs` and unpersist its inverted index on
    exit. Whatever the block returns must not read the pairs lazily:
    :func:`connected_components` qualifies, its result reads only its last
    eagerly checkpointed round."""
    pairs, index = _ngram_jaccard(df, text_col, id_col, n, threshold)
    try:
        yield pairs
    finally:
        index.unpersist()


def _ngram_jaccard(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """:func:`ngram_jaccard_pairs`' pairs and the persisted inverted index
    they read."""
    sh = word_shingles(df, text_col, id_col, n)
    # document frequency cap against boilerplate-shingle quadratic blowup
    max_df = 1000
    # one row per shingle; ids sorted so a<b holds by construction below.
    # persist: tiny (one row per distinct surviving shingle) and read twice.
    index = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") <= max_df)
        .persist()
    )

    sizes = index.select(F.explode("ids").alias("id")).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    pairs = (
        index.select(
            F.posexplode("ids").alias("i", "id_a"),
            F.col("ids"),
        )
        .select("id_a", F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"))
    )
    common = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    scored = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return scored, index


def minhash_banded_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    max_jaccard_distance: float = 0.7,
) -> DataFrame:
    """Hand-rolled MinHash banding — the literal shingle → minhash → band →
    bucket-join pipeline, entirely in codegen'd column math (no HashingTF
    feature vectors, no pyspark.ml fit, no VectorUDT boxing).

    Per doc: ``num_hashes`` minhash values in ONE pass over the distinct
    shingles (array accumulator + zip_with least; hash_i(s) = xxhash64(i,s));
    each of ``bands`` bands hashes its ``num_hashes/bands`` rows into a
    single long key. Candidates share ≥1 band key (ids-only through the pair
    shuffle), then the signature-agreement estimate is computed by re-joining
    the two signatures. Recall for a pair with Jaccard J is
    1-(1-J^r)^bands (r = rows per band): r=2, bands=8 keeps ~90 % at J=0.5
    and ~100 % at J≥0.8 while a random J≈0 pair survives with ~0 %.

    Returns (id_a, id_b, jaccard_dist) with jaccard_dist = 1 − matching
    signature fraction ≤ ``max_jaccard_distance``."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} must divide into bands={bands}")
    r = num_hashes // bands
    long_max = (1 << 63) - 1

    shingles = shingle_array(text_col, n)
    sig_expr = F.aggregate(
        shingles,
        F.array_repeat(F.lit(long_max).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(0), F.lit(num_hashes - 1)), lambda i: F.xxhash64(i, s)),
            lambda x, y: F.least(x, y),
        ),
    )
    sigs = (
        df.select(F.col(id_col).alias("id"), F.size(shingles).alias("n_sh"), sig_expr.alias("sig"))
        .filter(F.col("n_sh") > 0)
        .select("id", "sig")
        .persist()  # read twice: band explode + signature re-join
    )
    band_keys = F.array(
        *[F.xxhash64(F.lit(b), F.slice("sig", b * r + 1, r)) for b in range(bands)]
    )
    exploded = sigs.select("id", F.explode(band_keys).alias("key"))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(b, "key")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    match_frac = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_dist", F.round(1 - match_frac, 4))
        .filter(F.col("jaccard_dist") <= max_jaccard_distance)
        .select("id_a", "id_b", "jaccard_dist")
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash signature per document, fully JVM-side.

    Each token votes its xxhash64 bit pattern (+1/-1 per bit); the signature
    sign-aggregates the votes. Near-dups differ in few bits (small Hamming
    distance). Narrow map per doc — no shuffle; banding for the pair search
    is the caller's choice (split the 64 bits into 4 bands of 16, group on
    band value)."""
    toks = F.array_distinct(_tokens(F.col(text_col)))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # votes[i] = Σ over tokens of (bit i set ? +1 : -1), built in ONE pass
    # over the token hashes with an array<int>[64] accumulator (zip_with per
    # step). The transpose — 64 separate aggregates each re-scanning the hash
    # array — is the same O(64·T) arithmetic but re-walks the array per bit
    # and measured ~3.4× slower under Spark's interpreted higher-order fns.
    # Bit test via LONG shift: Java masks the shift count to 6 bits for long
    # operands (vs 5 for int), so bits 32-63 are real. Shifting an INT base
    # (the round-1 bug) wrapped counts 32-63 onto 0-31 and zeroed the upper
    # half of every signature.
    # F.call_function: the plain pyspark wrappers type the shift count as a
    # Python int, but here it is the lambda-bound Column ``i``.
    one_l = F.lit(1).cast("long")
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(63)),
            lambda a, i: a
            + F.when(
                F.call_function("shiftrightunsigned", h, i).bitwiseAND(one_l) != 0, 1
            ).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, i: F.when(v > 0, F.call_function("shiftleft", one_l, i)).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash64"))


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.95,
    method: str = "brute",
    bucket_length: float = 0.3,
    num_hash_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    projs_per_table: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= min_cosine).

    ``method='brute'``: exact all-pairs scoring — O(n²) compute, only viable
    for corpora that fit a cross join; it is the oracle-checkable tier.
    ``method='rp'``: random-projection bucket LSH hand-rolled as pure
    DataFrame expressions — project each unit vector onto fixed unit
    hyperplanes (driver-side numpy, seeded), bucket = floor(proj/
    bucket_length); a table's key is the tuple of ``projs_per_table``
    buckets (AND-amplification — mllib's BRP-LSH has only the OR dimension),
    tables are OR'd; candidates share a (table, key), exact cosine on
    candidates. One candidate-join shuffle, sub-quadratic, in column math
    end-to-end; the AND knob is what makes pruning real at near-dup
    thresholds.

    Parameter scope: ``bucket_length``/``num_hash_tables``/``seed``/
    ``projs_per_table``/``dim`` apply to 'rp'; 'brute' uses none of them.

    Physics note (pinned by tests): LSH pruning exists only when matching
    pairs are much closer than random pairs. For ~uniform random vectors,
    pairwise cosine is ~N(0, 1/√dim); a "near-dup" threshold in that noise
    tail (e.g. 0.45 at dim=64) makes every bucketing scheme either keep
    ~all pairs or lose the tail — use the brute tier there. LSH is for true
    near-dups (cos ≥ ~0.9), where recall stays high while candidates
    collapse."""
    from ..functions.vectors import as_double, dot, l2_norm, l2_normalize

    if method == "brute":
        # norms once per row, dot-only per pair: same arithmetic as the full
        # cosine (bit-for-bit — see semantic_dedup), 1/3 the flops through
        # the O(n²) join that defines this tier's cost
        v = df.select(
            F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
        ).withColumn("n", l2_norm(F.col("v")))
        a, b = v.alias("a"), v.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(
                    dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 5
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= min_cosine)
        )
    if method == "rp":
        import numpy as np

        if dim is None:
            # one 1-row driver lookup to size the hyperplanes; pass dim
            # explicitly in repeated-call services to skip it
            first = df.select(vec_col).first()
            if first is None or first[0] is None:
                raise ValueError(
                    "embedding_near_dup_pairs(method='rp'): cannot infer vector "
                    "dim from an empty corpus; pass dim= explicitly"
                )
            dim = len(first[0])
        rng = np.random.default_rng(seed)
        # UNIT hyperplanes (mllib convention): projections of unit vectors
        # then have std ~1/sqrt(dim), which is what bucket_length is sized
        # against. Standard-normal planes would scale projections by
        # ~sqrt(dim) and silently change the bucket geometry.
        planes = rng.standard_normal((num_hash_tables, projs_per_table, dim))
        planes = planes / np.linalg.norm(planes, axis=2, keepdims=True)

        unit = df.select(
            F.col(id_col).alias("id"),
            l2_normalize(as_double(F.col(vec_col))).alias("v"),
        ).persist()  # read 3×: band explode + two vector re-joins
        # one LONG key per table: xxhash64 over (table index, the array of
        # per-projection bucket ids). A single long joins through codegen'd
        # hash exchange; an array<bigint> key would fall off the fast path.
        # Hash collisions only ADD candidates; the exact-cosine filter
        # removes them. The planes ship as ONE SQL array literal (a single
        # py4j call, parsed JVM-side) and the bands compute data-driven
        # (transform over it) — building a separate expression tree per
        # (table, projection), or even F.lit of the nested Python list,
        # costs seconds of driver-side py4j churn per plan at 6×8×64
        # (measured r3: 3.5 s → 2.5 s → ~0.1 s across those three forms).
        planes_lit = F.expr(
            "array(%s)"
            % ",".join(
                "array(%s)"
                % ",".join(
                    "array(%s)" % ",".join(f"{float(x)!r}D" for x in p) for p in tbl
                )
                for tbl in planes
            )
        )
        keys = F.transform(
            planes_lit,
            lambda tbl, t: F.xxhash64(
                t,
                F.transform(
                    tbl,
                    lambda plane: F.floor(
                        dot(F.col("v"), plane) / F.lit(float(bucket_length))
                    ),
                ),
            ),
        )
        exploded = unit.select("id", F.explode(keys).alias("key"))
        a, b = exploded.alias("a"), exploded.alias("b")
        # ids only through the candidate join + dedup (narrow rows); vectors
        # re-attach afterwards — the wide payload never rides the pair shuffle.
        # The exact-cosine verify runs in the stage reading the pinned
        # pair-dedup exchange (the vector re-joins broadcast).
        pairs = (
            a.join(b, "key")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        cand = pin_fanout(pairs, "id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        va = unit.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        vb = unit.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("cosine", F.round(dot(F.col("va"), F.col("vb")), 5))
            .filter(F.col("cosine") >= min_cosine)
            .select("id_a", "id_b", "cosine")
        )
    raise ValueError(f"unknown method {method!r}; use 'brute' or 'rp'")


# Byte budget of one (block rows × cluster rows) float64 tile in the
# semantic_dedup kernel; a handful of such tiles are live at once. A fixed
# constant, not an option: a dense 1e5-row cluster matrix would be 80 GB.
_PAIR_TILE_BYTES = 16 << 20


def _best_earlier_cosine(key, table):
    """``semantic_dedup``'s per-cluster kernel (``applyInArrow``): for each
    row of one cluster, the LARGEST unrounded cosine to a row of the same
    cluster with a smaller id; only rows that have such a pair are
    returned, as ``(__id, __best)``. Cosines follow the exact-order rule of
    ``functions/vectors.py``, so they are the Spark fold's bits. Rows are
    ranked by id (Arrow's ordering: Spark's for numbers and strings),
    sorted, and scored in tiles of ``_PAIR_TILE_BYTES`` against the prefix
    that can hold their earlier rows. A pair whose norm product is 0 has no
    cosine (0/0): raise, naming the cluster and the zero-norm id, where
    numpy would return a NaN that Spark's ordering ranks above every
    threshold."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.vectors import fold_dot, rows_by_length

    ids = table.column("__id").combine_chunks()
    rank = pc.rank(ids, sort_keys="ascending", tiebreaker="min").to_numpy()
    keep_rows, keep_best = [], []
    for rows, x in rows_by_length(table.column("__v")):
        order = np.argsort(rank[rows], kind="stable")
        rows, x = rows[order], x[order]
        r = rank[rows]
        norm = np.sqrt(fold_dot(x, x))
        step = max(1, _PAIR_TILE_BYTES // (8 * len(rows)))
        for i0 in range(0, len(rows), step):
            i1 = min(i0 + step, len(rows))
            earlier = r[i0:i1, None] > r[None, :i1]
            den = norm[i0:i1, None] * norm[None, :i1]
            zero = np.argwhere(earlier & (den == 0))
            if len(zero):
                i, j = zero[0][0] + i0, zero[0][1]
                bad = [ids[rows[t]].as_py() for t in (i, j) if norm[t] == 0] or [
                    ids[rows[t]].as_py() for t in (i, j)  # the product underflowed
                ]
                raise ValueError(
                    f"semantic_dedup: cluster {key[0].as_py()!r}: id "
                    f"{bad[0] if len(bad) == 1 else bad!r} has a zero-norm "
                    "vector, so its cosine to another row of the cluster is "
                    "0/0. Drop or repair zero vectors before deduplicating."
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = fold_dot(x[i0:i1, None], x[None, :i1]) / den
            has = earlier.any(axis=1)
            keep_rows.append(rows[i0:i1][has])
            keep_best.append(np.where(earlier, cos, -np.inf).max(axis=1)[has])
    keep = np.concatenate(keep_rows) if keep_rows else np.zeros(0, np.int64)
    best = np.concatenate(keep_best) if keep_best else np.zeros(0)
    return pa.table({"__id": ids.take(pa.array(keep, pa.int64())), "__best": best})


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    min_cosine: float = 0.95,
    max_cluster_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): keep-first within each semantic
    cluster — a row is DROPPED iff some row of the SAME cluster with a
    smaller id has embedding cosine >= ``min_cosine``. Returns the retained
    rows with the input schema.

    The cluster column is the scale lever and must come from the caller: a
    k-means assignment (``build_ivf_index(...).assigned`` provides one), a
    topic/label column, or any partitioner that puts semantic neighbors
    together. Pairwise comparison happens ONLY within a cluster, so the
    quadratic term is bounded by the largest cluster, not the corpus —
    choose k so clusters stay ~1e3-1e4 rows at 100 TB. Plan: one shuffle
    keyed on (cluster), then ONE Arrow kernel per cluster
    (``groupBy(cluster).applyInArrow``, :func:`_best_earlier_cosine`) that
    returns each row's best unrounded cosine to an earlier row — scored by
    ``functions.vectors.fold_dot``, the fold's exact order, so the bits
    are the fold's — then a hash-keyed anti-join back; no self-join, no
    pair-level rows, nothing global, no window. ``round`` is monotone, so
    ``round(best, 5) >= min_cosine`` (a Spark expression: Spark rounds
    HALF_UP) holds exactly when some earlier row passes. Rows with a NULL
    cluster, id or vector, a NULL component, or a length no earlier row
    shares, never pair — the self-join's NULL semantics — so they survive.
    A zero-norm vector that would pair raises (see the kernel).

    The "choose k wisely" contract is machine-enforced (VERDICT r8 #4):
    before the pairwise kernel runs, the largest cluster is counted (one
    narrow aggregation, 1-row collect) and a cluster above
    ``max_cluster_rows`` (default 1e5 — an order of magnitude past the
    recommended ceiling, i.e. ~1e10 pairs in ONE cluster) raises
    ``ValueError`` naming the offending cluster instead of launching a
    quadratic job that can't finish. Callers with a verified clustering
    can pass ``max_cluster_rows=None`` to skip the pre-count; the LSH tier
    (``near_duplicates(method='rp')``) is the fallback when clustering
    itself is the problem.

    Semantics note: a row is dropped when ANY earlier same-cluster row —
    including one that was itself dropped — is within threshold. Cosine
    similarity is not transitive, so this over-drops relative to a greedy
    keep-first scan (which only compares against *survivors*) and to
    SemDeDup's one-exemplar-per-epsilon-ball; with hash equality the two
    formulations coincide (equality IS transitive), which is why
    ``keep_first_by_hash`` needs no such caveat. The EXISTS-earlier rule is
    chosen deliberately: it is deterministic, order-stable under any
    partitioning, and exactly SQL-expressible — the oracle twin is a plain
    EXISTS — where greedy keep-first is inherently sequential per cluster."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.vectors import as_double

    # NULL clusters never pair (and the guard must not count them: they
    # cannot create quadratic work, so counting them would abort on valid
    # input); NULL ids are never "earlier" or "later" than anything
    v = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
    ).where(F.col("__c").isNotNull())
    if max_cluster_rows is not None:
        worst = (
            v.groupBy("__c")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("__c"))
            .limit(1)
            .collect()  # bounded: exactly one (cluster, count) row
        )
        if worst and worst[0]["n"] > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: cluster {worst[0]['__c']!r} holds "
                f"{worst[0]['n']} rows > max_cluster_rows={max_cluster_rows}; "
                "the within-cluster pairwise term would be quadratic in that "
                "cluster. Re-cluster with larger k (target ~1e3-1e4 rows per "
                "cluster), or fall back to near_duplicates(method='rp'), or "
                "pass max_cluster_rows=None to override."
            )
    best = (
        v.where(F.col("__id").isNotNull())
        .groupBy("__c")
        .applyInArrow(
            _best_earlier_cosine,
            StructType(
                [v.schema["__id"], StructField("__best", DoubleType())]
            ),
        )
    )
    dup_ids = best.where(F.round("__best", 5) >= F.lit(min_cosine)).select(
        F.col("__id").alias("__dup_id")
    )
    return df.join(
        dup_ids, df[id_col] == dup_ids["__dup_id"], "left_anti"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into CLUSTERS: (id, cluster_id) where
    cluster_id is the minimum id reachable through the pair graph — the step
    that turns any pairwise dedup tier's output into "keep one doc per
    cluster".

    Min-label propagation: every node starts as its own label; each round
    takes the min of its own and its neighbors' labels; stop at fixpoint
    (checked with a 1-number driver count per round). ``max_iter`` rounds
    without a fixpoint raise ``ValueError`` (the cap rule of
    :mod:`.rounds`): the labels would be wrong, so none are returned.
    Rounds needed = graph diameter — near-dup clusters are small and dense
    (a handful of rounds), which is why this simple loop is the right scale
    choice here; corpora with long chain topologies want the large-star/
    small-star variant (alternating contraction, O(log n) rounds) instead.
    Each round is two shuffles (neighbor-min groupBy + label join) over
    (id, label) longs only, run by :func:`.rounds.iterate`: each round's
    labels are ``localCheckpoint``-ed (truncating the 3^rounds iterative
    lineage — see :func:`connected_components_star` for the failure mode)
    and the superseded round is released."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .persist()
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # the convergence flag is computed IN the same select (the left
        # join already holds both the old and the new label), so the
        # fixpoint check is a filter-count over the checkpointed round,
        # not a second new⋈old join that re-shuffles the label table
        nxt = F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label")))
        return labels.join(nbr, labels["id"] == nbr["a"], "left").select(
            F.col("id"), nxt.alias("label"), (nxt != F.col("label")).alias("ch")
        )

    try:
        # round 0 fused into init: label = min(own id, min direct neighbor) —
        # one shuffle instead of an identity round plus its convergence check
        labels = (
            sym.groupBy("a")
            .agg(F.min("b").alias("nb"))
            .select(
                F.col("a").alias("id"),
                F.least(F.col("a"), F.col("nb")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        labels = iterate(
            labels, step, max_iter, until=lambda s: s.filter("ch").count() == 0
        )
        return labels.select("id", F.col("label").alias("cluster_id"))
    finally:
        sym.unpersist()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
    the Two-Phase algorithm): converges in O(log n) rounds on ANY topology,
    where :func:`connected_components`' min-label propagation needs
    graph-diameter rounds (fine for dense near-dup clusters, pathological
    for chains). Same output contract: (id, cluster_id), cluster_id = the
    component's minimum id.

    Each round is two grouped aggregations + joins over (node, node) long
    pairs, all edges kept in the (larger, smaller) orientation:

    - large-star: every node connects its LARGER neighbors to its
      neighborhood minimum — emit (v, m) for v ∈ Γ(u), v > u,
      m = min(Γ(u) ∪ {u});
    - small-star: every node re-points its SMALLER neighbors (and itself)
      at the minimum of its smaller neighborhood — emit (v, m) for
      v ∈ (Γ<(u) ∪ {u}) \\ {m}.

    Convergence is detected with a one-scalar checksum action per round
    (count + xxhash64 bit_xor of the edge set — the same 1-number driver
    round-trip the propagation variant pays); at the fixed point the edge
    set is a star forest centered at component minima; ``max_iter`` rounds
    without one raise ``ValueError`` (the cap rule of :mod:`.rounds`).

    Each round's edge set is ``localCheckpoint``-ed by
    :func:`.rounds.iterate`, which releases the superseded round: one round
    references its predecessor ~12 times (two stars × symmetrize/min/join),
    so without lineage truncation the logical plan grows ~12^rounds and the
    driver OOMs just *printing* it by round 8 (measured). Local
    checkpointing is the standard iterative-algorithm hygiene; a
    cluster-reliability-sensitive deployment would point
    ``sparkContext.setCheckpointDir`` at durable storage and use
    ``checkpoint()`` instead (executor loss under localCheckpoint forfeits
    the blocks)."""
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )

    def _signature(df: DataFrame) -> tuple[int, int]:
        # bit_xor (not sum) of per-edge hashes: order-independent, exact on
        # the distinct edge set, and cannot overflow under ANSI arithmetic
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("sig"),
        ).collect()[0]
        return row["n"], row["sig"]

    def step(e: DataFrame, _: int) -> DataFrame:
        # large-star over the symmetrized adjacency
        sym = e.select("a", "b").union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        large = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star over the (larger -> smaller) orientation
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        return (
            large.join(mins2, "a")
            .where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select("a", F.col("m").alias("b")))
            .distinct()
        )

    sig = _signature(e)

    def unchanged(e: DataFrame) -> bool:
        nonlocal sig
        prev, sig = sig, _signature(e)
        return sig == prev

    e = iterate(e, step, max_iter, until=unchanged)
    final = e.groupBy("a").agg(F.min("b").alias("root"))
    return nodes.join(final, nodes["id"] == final["a"], "left").select(
        "id", F.coalesce("root", "id").alias("cluster_id")
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup pairs via 4-band Hamming LSH: any pair within Hamming
    distance <=16/band-width shares at least one exact 16-bit band (pigeonhole
    for distance < 4 bands). One shuffle per band, unioned."""
    sigs = simhash(df, text_col, id_col).cache()
    bands = sigs.select(
        "id",
        "simhash64",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned("simhash64", 16 * b).bitwiseAND(F.lit(0xFFFF).cast("long")).alias("key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("id", "simhash64", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    # The Hamming test runs BEFORE the pair-dedup shuffle: it is a cheap
    # bit_count on rows already in hand after the band join, and it kills
    # most candidates (measured sf0.1: 1.51M joined rows -> 258k passing),
    # so the dropDuplicates exchange moves ~6x less data. Hamming distance
    # is functionally determined by the pair, so filtering before vs after
    # dedup is the same set.
    hamming = F.bit_count(F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64")))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )
