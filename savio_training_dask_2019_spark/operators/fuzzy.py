"""Approximate string matching: an exact edit-distance self-join with
partition-based (pigeonhole) blocking — the record-linkage / typo-cluster
primitive the dedup tier lacks (MinHash/SimHash cover set-similarity;
this covers *sequence* similarity at small thresholds).

Algorithm (PassJoin — Li, Deng & Feng, "PASS-JOIN: a partition-based
method for similarity joins", PVLDB 5(3), 2011): partition every string
into ``k+1`` contiguous segments.  If ``ed(a, b) <= k`` then, by
pigeonhole, at least one of ``a``'s ``k+1`` segments appears in ``b``
UNCHANGED — and because at most ``k`` edits precede it, that occurrence
starts within ``±k`` of the segment's own position.  So an equi-join on
``(segment_index, segment_text, partitioned_length)`` between each
string's segments and each string's shifted substrings yields a candidate
set that PROVABLY contains every true pair (no false negatives); an exact
``levenshtein`` verify then removes the false positives.  The result is
therefore EXACT — the blocking is lossless — which is why the DuckDB
oracle can be the definitional all-pairs form and still hash-match.

Scale: the corpus shuffles once on the segment block key (segments of
length ~``L/(k+1)`` are selective); each string contributes ``k+1``
segments and ``O(k^2)`` candidate substrings, so the join is linear in
rows times a small ``k``-polynomial — never all-pairs.  Hot segment
values (shared prefixes) make hot blocks; AQE skew-join splitting applies
because the join is a plain equi-join.  The exact verify is BANDED
(``levenshtein(a, b, k)`` — O(k·L) cells, Spark 3.5+) and runs map-side in
the join stage, so only true pairs reach the pair-dedup exchange (r18:
dedup-then-verify shuffled the whole candidate stream; on degenerate hot
blocks that is O(block²) rows through one exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import pin_fanout, spread


def _seg_len(i: str, length: str, k: int) -> str:
    """SQL expr: length of segment ``i`` when a ``length``-char string is
    evenly partitioned into k+1 segments (short segments first — the
    PassJoin convention)."""
    n = k + 1
    return f"(({length}) div {n} + IF({i} >= {n} - ({length}) % {n}, 1, 0))"


def _seg_pos(i: str, length: str, k: int) -> str:
    """SQL expr: 0-based start of segment ``i`` (cumulative of _seg_len)."""
    n = k + 1
    return f"(({i}) * (({length}) div {n}) + GREATEST(0, ({i}) - ({n} - ({length}) % {n})))"


def _prep(df: DataFrame, id_col: str, str_col: str, k: int) -> DataFrame:
    """Project to (id, s, L) and ``spread``: substring generation, the
    block join probe and the banded verify are all narrow and inherit
    this frame's partitioning."""
    return spread(
        df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s"))
        .filter(F.length("s") > k)
        .withColumn("L", F.length("s"))
    )


def _segments(s: DataFrame, k: int) -> DataFrame:
    """Each string's own k+1 segments, keyed by (segment index, segment
    text, own length)."""
    return s.select(
        "id",
        "s",
        "L",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
    ).select(
        "id",
        "s",
        F.col("i"),
        F.col("L").alias("La"),
        F.expr(f"substring(s, {_seg_pos('i', 'L', k)} + 1, {_seg_len('i', 'L', k)})").alias(
            "blk"
        ),
    )


def _substrings(s: DataFrame, k: int) -> DataFrame:
    """Each string's candidate substrings: for every partnered length La
    within ±k of its own, every segment index i, and every start shift δ
    within ±k of that segment's position in an La-length string.  (The
    paper's multi-match-aware window is tighter; the plain ±k window is a
    superset, so completeness is preserved.)"""
    subs = (
        s.select(
            "id",
            "s",
            "L",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("d"),
        )
        .withColumn("La", F.col("L") + F.col("d"))
        .filter(F.col("La") > k)
        .select(
            "id",
            "s",
            "L",
            "La",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
        )
        .withColumn("sl", F.expr(_seg_len("i", "La", k)))
        .withColumn("sp", F.expr(_seg_pos("i", "La", k)))
        .select(
            "id",
            "s",
            "L",
            "La",
            "i",
            "sl",
            "sp",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("delta"),
        )
        .withColumn("start", F.col("sp") + F.col("delta"))
        .filter((F.col("start") >= 0) & (F.col("start") + F.col("sl") <= F.col("L")))
        .select(
            F.col("id"),
            F.col("s"),
            F.col("i"),
            F.col("La"),
            F.expr("substring(s, start + 1, sl)").alias("blk"),
        )
    )
    # a string can emit the same (i, La, blk) through several shifts —
    # collapse before the join so each block pairing happens once. The
    # block join runs in the stage reading this exchange while the other
    # side broadcasts, so the dedup's exchange is pinned.
    keys = ["id", "i", "La", "blk"]
    return pin_fanout(subs, *keys).dropDuplicates(keys)


def _candidate_ids(seg: DataFrame, sub: DataFrame) -> DataFrame:
    """Unordered candidate id pairs ``(id_a < id_b)`` from the block
    equi-join, carrying NO string payload — each side ships only
    ``(id, i, La, blk)`` through the candidate shuffle, so the shuffle
    width is bounded by the SEGMENT length (~``L/(k+1)`` chars), not the
    document length."""
    return (
        seg.select("id", "i", "La", "blk")
        .alias("a")
        .join(
            sub.select("id", "i", "La", "blk").alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.La") == F.col("b.La"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        # one verify per unordered pair, however many blocks matched
        .dropDuplicates(["id_a", "id_b"])
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 2,
    rejoin_by_id: bool = False,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` whose strings are within levenshtein
    distance ``k`` — exact result via lossless pigeonhole blocking.

    Contract: rows with ``length(str_col) <= k`` are dropped from BOTH
    sides (a ``k+1``-way partition needs ``k+1`` characters; pairs
    involving such near-empty strings are trivially enumerable off to the
    side and are out of scope here, as in the paper's length filter).

    ``rejoin_by_id`` (VERDICT r11 #3): the default path carries both full
    strings through the candidate join — fine for customer-name-sized
    strings, but at document-scale strings the candidate shuffle's width
    scales with string length.  With ``rejoin_by_id=True`` the candidate
    join ships only ``(id, i, La, blk)`` per side, deduplicates to id
    pairs, then fetches the two strings back with two hash joins against
    the ``(id, s)`` table for the verify — shuffle width stops scaling
    with string length (two extra id-keyed joins are the price; AQE
    broadcasts the pair side when it is small).  Semantics are identical;
    both paths return the same exact pair set.

    Returns columns ``id_a, id_b, dist`` (dist as INT).
    """
    s = _prep(df, id_col, str_col, k)
    seg = _segments(s, k)
    sub = _substrings(s, k)
    if rejoin_by_id:
        # candidates dedup to bare id pairs BEFORE the strings are fetched
        # (that is this path's whole point), so the verify necessarily runs
        # after the dedup — but banded (threshold=k) so each check costs
        # O(k·L) cells instead of the full O(L²) matrix.
        strs = s.select("id", "s")
        cand = (
            _candidate_ids(seg, sub)
            .join(
                strs.select(F.col("id").alias("id_a"), F.col("s").alias("s_a")),
                "id_a",
            )
            .join(
                strs.select(F.col("id").alias("id_b"), F.col("s").alias("s_b")),
                "id_b",
            )
        )
        return (
            cand.select(
                "id_a",
                "id_b",
                F.levenshtein("s_a", "s_b", k).cast("int").alias("dist"),
            )
            # threshold form returns -1 above k, the exact distance otherwise
            .filter(F.col("dist") >= 0)
        )
    # Verify BEFORE the pair dedup (r18 optimization, guide §2.3/§2.4):
    # degenerate hot blocks (shared prefixes — the fixture's adversarial
    # case, and boilerplate at corpus scale) make the block join emit
    # O(block²) candidate occurrences; shipping them all through the
    # dropDuplicates exchange shuffles the whole candidate stream to save
    # duplicate verifies. The banded levenshtein (threshold=k → O(k·L)
    # cells, -1 above k) is cheaper than that exchange by orders of
    # magnitude, so run it map-side in the join stage and shuffle only the
    # TRUE pairs into the dedup. A pair matched through several blocks is
    # verified once per block (bounded by the k+1 segments), but duplicate
    # banded verifies cost less than one full-matrix verify did. Same exact
    # result: dist is a pure function of the pair, so dedup-then-verify and
    # verify-then-dedup agree row-for-row.
    verified = (
        seg.alias("a")
        .join(
            sub.alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.La") == F.col("b.La"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s", k).cast("int").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
    return verified.dropDuplicates(["id_a", "id_b"])


def edit_distance_lookup(
    queries: DataFrame,
    q_id: str,
    q_str: str,
    canon: DataFrame,
    c_id: str,
    c_str: str,
    k: int = 2,
) -> DataFrame:
    """Two-table record linkage — match every DIRTY query string against a
    CANONICAL list within levenshtein distance ``k`` (the dedupe-against-
    master-list / typo-correction use). Same lossless pigeonhole blocking
    as :func:`edit_distance_join`, asymmetric: canonical strings emit
    their ``k+1`` segments, query strings emit their ``O(k²)`` shifted
    substrings, candidates come from the block equi-join, one exact verify
    per (query, canon) pair. Exact by the same theorem — every true match
    shares at least one unshifted segment.

    Same length contract (both sides drop ``length <= k`` rows). Returns
    ``query_id, canon_id, dist`` — ALL matches within ``k``; callers
    wanting best-match-only take min(dist) with a canon_id tie-break.

    Scale: canon side carries k+1 rows per string, query side O(k²);
    one shuffle on block keys, never |queries|×|canon|."""
    segc = _segments(_prep(canon, c_id, c_str, k), k)
    subq = _substrings(_prep(queries, q_id, q_str, k), k)
    # verify-before-dedup + banded levenshtein, exactly as in
    # :func:`edit_distance_join` (r18): hot shared-prefix blocks otherwise
    # shuffle O(block²) candidate occurrences through the pair dedup; the
    # O(k·L) banded check map-side keeps only true matches on the exchange.
    verified = (
        segc.alias("c")
        .join(
            subq.alias("q"),
            (F.col("c.i") == F.col("q.i"))
            & (F.col("c.La") == F.col("q.La"))
            & (F.col("c.blk") == F.col("q.blk")),
        )
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("canon_id"),
            F.levenshtein("q.s", "c.s", k).cast("int").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
    return verified.dropDuplicates(["query_id", "canon_id"])
