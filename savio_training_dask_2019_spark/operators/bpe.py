"""Iterative BPE tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909 §3.2) — the full count → merge → re-segment loop, not
just the round-one pair counts (``queries/textops.q_bpe_merges``).

Scale design: the corpus is touched EXACTLY ONCE (the word-frequency
aggregation). Every merge round after that operates on the DISTINCT-WORD
table (vocab-sized, ~Heaps' law √corpus — ~10⁶ rows at 100 TB) with each
word's corpus count riding as a weight:

- pair counting per round is one vocab-table aggregation (map-side
  combine) + one bounded ``limit(1).collect()`` for the argmax pair — the
  classic driver-side loop over a SMALL table, the same cost model as
  k-means iterations;
- re-segmentation applies the chosen merge as a pure JVM higher-order
  fold (``F.aggregate``) over each word's symbol array — leftmost,
  non-overlapping, the standard greedy BPE apply — no Python boundary;
- each round's table is eagerly ``localCheckpoint``-ed: k rounds would
  otherwise stack k ``aggregate`` lambdas into one plan (analysis blows
  up long before execution does). The round it replaced is released once
  the new one has materialized, by the rule in ``operators/rounds.py``;
  the loop is written out rather than run by ``rounds.iterate`` because
  each step depends on a driver-side ``collect()``.

No SQL oracle is possible (k data-dependent rounds; each round's
transform depends on the previous argmax), so the catalog query is
rows-only by contract and accuracy is pinned by the differential pytest
against a pure-Python reference trainer (tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens as _tokens
from .rounds import _release


def _apply_merge(syms_col, left: str, right: str):
    """Leftmost non-overlapping merge of adjacent (left, right) symbol
    pairs into one concatenated symbol — a JVM-side fold. The accumulator
    IS the output list: a merged symbol replaces the list tail, so an
    overlapping second application (e.g. merge (a,a) over "aaa") correctly
    sees the already-merged tail and skips it."""
    la, lb = F.lit(left), F.lit(right)
    return F.aggregate(
        syms_col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, wc) corpus word frequencies — the ONE corpus pass of BPE
    training; every merge round operates on this vocab-sized table."""
    return (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def bpe_train(
    word_counts: DataFrame,
    n_merges: int = 10,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (word, wc) frequency table.

    Returns ``(merges, segmented)``: the learned merge list as
    ``(left, right, weighted_pair_count)`` in application order, and the
    final vocab table (word, wc, syms array<string>) segmented under all
    learned merges. Ties in the argmax break on (count desc, left, right)
    so the merge sequence is deterministic.

    Each round costs one aggregation over the vocab table plus a 1-row
    collect; the corpus itself is never touched (see module docstring)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    seg = word_counts.select(
        "word", "wc", F.split(F.col("word"), "").alias("syms")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("l"),
                F.element_at(F.col("syms"), i + 1).alias("r"),
            ),
        )
        best = (
            seg.where(F.size("syms") >= 2)
            .select(F.explode(pairs).alias("p"), "wc")
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:  # every word fully merged — nothing left to learn
            break
        row = best[0]
        merges.append((row["l"], row["r"], int(row["cnt"])))
        nxt = seg.select(
            "word", "wc", _apply_merge(F.col("syms"), row["l"], row["r"]).alias("syms")
        ).localCheckpoint(eager=True)
        _release(seg)
        seg = nxt
    return merges, seg


def corpus_piece_stats(
    df: DataFrame, text_col: str, group_col: str, seg: DataFrame
) -> DataFrame:
    """Apply a trained segmentation to the corpus — the tokenizer-APPLY
    step :func:`bpe_train` feeds: per ``group_col``, total words, total
    BPE pieces, and pieces-per-word under the learned merges (the
    compression-rate curve tokenizer sizing reads).

    Words absent from ``seg`` (OOV when applying to a corpus other than
    the training one) fall back to a per-character piece count
    (``length(word)``) — the character-level initial segmentation BPE
    starts from, i.e. the piece count of a word that matched no merge.
    They are therefore COUNTED in ``total_words``/``total_pieces``, not
    dropped.

    Scale: the corpus tokenizes once and pre-aggregates to (group, word)
    — vocab-sized per group — BEFORE touching the vocab map, so the join
    input is never the raw token stream; the (word → piece count) map is
    model-sized and broadcasts. One shuffle for the pre-agg (map-side
    combine absorbs Zipf-head words), one O(groups) final agg."""
    pieces = seg.select("word", F.size("syms").alias("n_pieces"))
    gw = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(_tokens(F.col(text_col))).alias("word"),
        )
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    return (
        gw.join(F.broadcast(pieces), "word", "left")
        .withColumn("n_pieces", F.coalesce("n_pieces", F.length("word")))
        .groupBy("grp")
        .agg(
            F.sum("wc").cast("bigint").alias("total_words"),
            F.sum(F.col("wc") * F.col("n_pieces")).cast("bigint").alias("total_pieces"),
            F.round(
                F.sum(F.col("wc") * F.col("n_pieces")) / F.sum("wc"), 4
            ).alias("pieces_per_word"),
        )
        .withColumnRenamed("grp", group_col)
        .orderBy(group_col)
    )
