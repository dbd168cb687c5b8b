"""LLM-training-data pipeline queries (SURVEY.md §2.12 extension tier):
benchmark decontamination, Gopher-style quality gating, sequence packing,
mixture-weighted sampling, intra-document repetition signals, PII
detection/redaction, passage-level (C4-style line) dedup, and
deterministic corpus sharding.

These are the corpus-preparation operations a 100 TB pretraining pipeline
runs *after* dedup (operators/dedup.py) and *before* tokenizer sharding.
Every query here stays JVM-side (higher-order array functions inside
whole-stage codegen — no Python boundary, no row UDFs) and every one has an
exact DuckDB oracle twin.

Scale design (SCALING.md has the long-form versions):

- **decontam_check**: the eval-benchmark shingle set is tiny relative to the
  corpus (benchmarks are MBs; the corpus is TBs), so it is ``broadcast`` —
  the corpus side is one scan plus one per-doc count shuffle. Shingles are
  hashed to ``xxhash64`` (8 bytes) on both sides before the match, so the
  broadcast set stays fixed-width at any n-gram length; the string-keyed
  oracle still matches exactly (64-bit collisions: p ≈ 1e-10 here).
- **pack_sequences**: a naive global-order cumulative sum is a
  single-partition window — the classic scale trap. Implemented as a
  three-level cascade (doc → block → super-block): the only unpartitioned
  window runs over n_docs/BLOCK² super-block rows (~24k at 10¹¹ docs),
  every other window is partitioned with ≤BLOCK rows per partition, and
  the block-offset table joins back by key (no broadcast — it is
  n_docs/BLOCK rows, far past the broadcast threshold at corpus scale;
  AQE still broadcasts it automatically when it is actually small).
- **gopher_quality / dup_ngram_ratio / mixture_sample**: pure narrow maps +
  one O(groups) aggregation — scan-speed at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    WS_CLASS,
    avg_word_len,
    normalize_for_dedup,
    stopword_ratio,
    token_count,
    tokens,
)
from ..partitioning import spread
from ..sources import load_table

# DuckDB twin of functions.text.tokens() (kept in sync with textops.py)
_DUCK_TOKENS = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"


def _word_shingles(tok_col, n: int):
    """n-token shingles joined with ' ' — JVM-side (transform over sequence).

    Caller must filter ``size(tok) >= n`` first: Spark's ``sequence(1, k)``
    with k < 1 yields a *descending* sequence, not an empty one.
    """
    return F.transform(
        F.sequence(F.lit(1), F.size(tok_col) - (n - 1)),
        lambda i: F.array_join(F.slice(tok_col, i, n), " "),
    )


# --- benchmark decontamination ---------------------------------------------

_EVAL_MOD = 23  # doc_id % 23 == 0 plays the role of the held-out eval set
_SHINGLE_N = 5


def q_decontam_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination scan: which training docs contain a word
    5-gram that also appears in the eval set (docs with doc_id % 23 == 0)?

    The standard pretraining hygiene step (n-gram overlap decontamination à
    la GPT-3 appendix C): eval shingles are collected small-side and
    broadcast; training docs count their distinct overlapping shingles.
    Output: one row per contaminated doc with hit count and contamination
    fraction — the downstream pipeline drops or redacts flagged docs.

    The match key is ``xxhash64(shingle)`` (8 bytes), not the shingle
    string — the broadcast set and the probe-side hash table stay
    fixed-width however long the n-grams get. Exact up to 64-bit
    collisions (p ≈ n·m/2⁶⁴ against the eval set — ~1e-10 here), so the
    string-keyed DuckDB oracle still matches bit-for-bit. Implementation:
    ``operators.decontam.contamination_report`` — the two-corpus
    production surface (train frame vs eval frame); this query carves both
    sides out of the fixture corpus so the oracle can replay the split.
    Filtering FIRST and shingling after matters: the eval split is ~4 % of
    the corpus and shingling is the expensive transform.
    """
    from ..operators.decontam import contamination_report

    base = spread(load_table(spark, sf_dir, "documents"))
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    return contamination_report(
        base.where(~is_eval), base.where(is_eval), "text", "doc_id", n=_SHINGLE_N
    )


_DECONTAM_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) >= {_SHINGLE_N}
),
shl AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk) - {_SHINGLE_N - 2}),
                                      i -> array_to_string(tk[i:i + {_SHINGLE_N - 1}], ' '))) AS shs
  FROM t
),
sh AS (SELECT doc_id, len(shs) AS n_shingles, unnest(shs) AS shingle FROM shl),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0)
SELECT s.doc_id,
       count(*) AS n_hits,
       CAST(max(s.n_shingles) AS INTEGER) AS n_shingles,
       round(CAST(count(*) AS DOUBLE) / max(s.n_shingles), 4) AS contam_frac
FROM sh s JOIN ev USING (shingle)
WHERE s.doc_id % {_EVAL_MOD} <> 0
GROUP BY s.doc_id
"""


def q_decontam_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination END-TO-END — the removal :func:`q_decontam_check`
    only reports on: drop every training doc with ANY eval-set 5-gram
    overlap (GPT-3's policy, ``operators.decontam.decontaminate`` with
    ``max_contam_frac=0.0``) and summarize the SURVIVING corpus per
    language (doc count + total chars — the post-hygiene token budget).
    Same broadcast shapes as the report (eval shingles broadcast, flagged
    ids broadcast into a left-anti join; the corpus never shuffles), so
    the oracle pins the survivor set exactly."""
    from ..operators.decontam import decontaminate

    base = spread(load_table(spark, sf_dir, "documents"))
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    survivors = decontaminate(
        base.where(~is_eval), base.where(is_eval), "text", "doc_id",
        n=_SHINGLE_N, max_contam_frac=0.0,
    )
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


_DECONTAM_SCRUB_SQL = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) >= {_SHINGLE_N}
),
shl AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk) - {_SHINGLE_N - 2}),
                                      i -> array_to_string(tk[i:i + {_SHINGLE_N - 1}], ' '))) AS shs
  FROM t
),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM shl),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
contaminated AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
  WHERE s.doc_id % {_EVAL_MOD} <> 0
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents d
WHERE d.doc_id % {_EVAL_MOD} <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
GROUP BY lang ORDER BY lang
"""


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_decontam_check`'s report computed through the BLOOM
    pre-filter tier (``operators.decontam.bloom_contamination_report``) —
    identical output, so the SAME exact oracle pins it.

    What the tier buys at 100 TB: the exact path broadcasts the full
    distinct eval shingle-hash set (~30 B/entry in a HashedRelation — a
    100M-shingle benchmark suite is a multi-GB broadcast). The Bloom bitset
    is ``bits_per_item`` (10) bits per shingle packed into 64-bit words
    (~20x smaller), probed with 5 pure-Catalyst bit tests; only bloom-
    positive shingles (true hits + ~1 % false positives) reach the exact
    confirm join, whose probe side is then tiny. The fixture run keeps
    ``confirm="broadcast"``; ``confirm="shuffle"`` (pytest-pinned equal)
    is the regime where even the raw eval set exceeds broadcast limits.
    Exactness is structural, not probabilistic: a Bloom filter admits
    false positives only, and every candidate is re-checked.
    """
    from ..operators.decontam import bloom_contamination_report

    base = spread(load_table(spark, sf_dir, "documents"))
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    return bloom_contamination_report(
        base.where(~is_eval), base.where(is_eval), "text", "doc_id",
        n=_SHINGLE_N,
    )


# --- Gopher-style quality gate ----------------------------------------------


def _dup_bigram_frac(tok_col) -> F.Column:
    """1 - distinct/total over word bigrams — the Gopher repetition signal."""
    bigrams = _word_shingles(tok_col, 2)
    return F.when(F.size(tok_col) < 2, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams)
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021 §A1.1 shape): token count in
    [50, 100k], mean word length in [3, 10], stopword ratio ≥ 0.05, repeated-
    bigram fraction ≤ 0.10. Per-language pass counts — the corpus-curation
    dashboard number. All four signals are codegen'd array expressions; the
    whole query is one scan + one O(langs) aggregation at any corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tk = tokens("text")
    passes = (
        token_count("text").between(50, 100_000)
        & avg_word_len("text").between(3.0, 10.0)
        & (stopword_ratio("text") >= 0.05)
        & (_dup_bigram_frac(tk) <= 0.10)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(passes.cast("long")).alias("n_pass"),
        F.round(F.avg(passes.cast("double")), 4).alias("pass_rate"),
    )


_GOPHER_SQL = f"""
WITH s AS (
  SELECT lang,
         CASE WHEN len(tk) BETWEEN 50 AND 100000
               AND list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE))) / len(tk)
                   BETWEEN 3.0 AND 10.0
               AND CAST(len(list_filter(tk,
                     x -> x IN ('the','a','an','and','or','of','to','is','in','it'))) AS DOUBLE)
                   / greatest(len(tk), 1) >= 0.05
               AND (CASE WHEN len(tk) < 2 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) END) <= 0.10
              THEN 1 ELSE 0 END AS pass
  FROM (
    SELECT lang, tk,
           list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i + 1], ' ')) AS bg
    FROM (SELECT lang, {_DUCK_TOKENS} AS tk FROM documents)
  )
)
SELECT lang, count(*) AS n_docs, CAST(sum(pass) AS BIGINT) AS n_pass,
       round(avg(CAST(pass AS DOUBLE)), 4) AS pass_rate
FROM s GROUP BY lang
"""


# --- sequence packing --------------------------------------------------------

_PACK_BUDGET = 2048  # context-window token budget per training bin
# Docs per cumsum block (scale knob, result-invariant). None = adaptive:
# B = max(2048, ceil(n^(1/3))), which keeps all three cascade levels
# balanced at ~n^(1/3) rows forever — with a FIXED B the driver-side
# super-block prefix is O(n/B²) and quadratic block math would push it to
# ~2.4M rows at 10¹³ docs, while adaptive B holds it at ~21.5k there
# (SCALING.md "sequence packing"). Tests monkeypatch an int to pin the
# physical plan at a specific block size.
_PACK_BLOCK: int | None = None


_CHUNK_SIZE = 16  # tokens per window (fixture docs average ~55 tokens)
_CHUNK_STRIDE = 12  # overlap 4 — the RAG/pretrain sliding-window shape


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (``operators.packing.chunk_tokens``): every
    document becomes overlapping windows of ``_CHUNK_SIZE`` tokens at
    stride ``_CHUNK_STRIDE`` — the context-window prep step upstream of
    packing, embedding, and RAG indexing. One row per chunk with its
    0-based index, 1-based token offset, length, and text; the tail chunk
    is short rather than dropped (every token lands in >= 1 chunk) and an
    empty doc keeps one empty chunk (corpus coverage preserved).

    Scale: pure narrow per-row work — sequence/transform/posexplode inside
    whole-stage codegen, no shuffle, no Python boundary; output volume is
    n_tok/stride, the caller's lever. The oracle replays the identical
    policy with DuckDB range(step)/list-slice arithmetic
    (chunk_idx = (start-1) // stride, exact because starts are 1+k·stride)."""
    from ..operators.packing import chunk_tokens

    d = spread(load_table(spark, sf_dir, "documents"))
    return chunk_tokens(
        d, "text", "doc_id", size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
s AS (
  SELECT doc_id, tk,
         unnest(range(1, greatest(len(tk), 1) + 1, {_CHUNK_STRIDE})) AS cs
  FROM t
)
SELECT doc_id,
       CAST((cs - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(cs AS INTEGER) AS chunk_start,
       CAST(len(tk[cs:cs + {_CHUNK_SIZE - 1}]) AS INTEGER) AS n_tok_chunk,
       array_to_string(tk[cs:cs + {_CHUNK_SIZE - 1}], ' ') AS chunk_text
FROM s
"""


def _pack_block_for(n_docs: int) -> int:
    """Adaptive block size — delegates to operators.packing.pack_block_for
    (the cascade itself was factored there in r7 so any cost column packs
    the same way); kept as a module name because the adaptive-bounds test
    and the docstring contract live here."""
    from ..operators.packing import pack_block_for

    return pack_block_for(n_docs)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in doc_id
    order and cut every 2048 tokens (the GPT-style pretraining sharder —
    each doc's bin is its start offset DIV budget). Output: per-bin doc
    count and token mass (docs straddling a boundary count toward their
    start bin).

    The cumulative offset is the three-level cascade implemented in
    :func:`operators.packing.pack_offsets` (per-block sums → driver-side
    prefix over n/B² super-blocks, the zipWithIndex pattern → two windows
    partitioned by super/block with ≤B rows each — NO unpartitioned window
    anywhere; the full shape rationale lives on the operator). Adaptive
    B = max(2048, ~n^(1/3)); the ``_PACK_BLOCK`` test override pins
    block-size invariance of the offsets. The corpus row count for sizing
    comes from the parquet metadata (cheap), not from executing the cost
    lineage twice.
    """
    from ..operators.packing import assign_bins, pack_offsets

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", token_count("text").alias("n_tok"))
    offs = pack_offsets(
        d, "doc_id", "n_tok", block=_PACK_BLOCK, n_rows=docs.count()
    )
    return assign_bins(offs, "n_tok", _PACK_BUDGET)


_PACK_SQL = f"""
WITH t AS (SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok FROM documents),
c AS (
  SELECT n_tok,
         coalesce(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t
)
SELECT CAST(floor(off / {_PACK_BUDGET}.0) AS BIGINT) AS bin,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
FROM c GROUP BY bin
"""


_BFD_MAX_LEN = 512  # histogram-packing context budget


def q_pack_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram sequence packing WITHOUT cross-document splits (Krell et
    al. 2021, "Efficient Sequence Packing without Cross-contamination",
    arXiv:2107.02027 — SPFHP): the complement of ``pack_sequences``'
    concat-and-chunk. The packing problem is solved on the LENGTH
    HISTOGRAM (<= max_len rows regardless of corpus size) driver-side —
    the same model-sized-driver / corpus-sized-cluster split as BPE
    training — then documents map to pack slots via one rank window
    (partitioned by length) and a broadcast range join on histogram-sized
    segments. Output: pack-population profile — for each docs-per-pack
    arity, pack count, average fill ratio, token mass.

    Rows-only by contract: the SPFHP solve is an iterative driver
    algorithm with no SQL twin; validity (every doc packed exactly once,
    no pack over budget, pack compositions == the solved strategies) and
    efficiency are differentially pinned in tests/test_packing_hist.py.
    Docs are truncated to the budget (cost = least(n_tok, max_len));
    zero-token docs are excluded."""
    from ..operators.packing import assign_packs_histogram

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.least(token_count("text"), F.lit(_BFD_MAX_LEN)).alias("n_tok"),
    ).where(F.col("n_tok") >= 1)
    assigned, _strategies = assign_packs_histogram(
        d, "doc_id", "n_tok", _BFD_MAX_LEN
    )
    packs = assigned.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("docs_in_pack"),
        F.sum("n_tok").alias("pack_tokens"),
    )
    return (
        packs.groupBy("docs_in_pack")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.round(F.avg(F.col("pack_tokens") / _BFD_MAX_LEN), 4).alias(
                "avg_fill"
            ),
            F.sum("pack_tokens").cast("bigint").alias("tokens"),
        )
        .orderBy("docs_in_pack")
    )


_PATCH = 8  # image patch edge (pixels) — each patch costs one sequence slot


def q_pack_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sequence packing (the interleaved text+image pretraining
    layout, Flamingo/LLaVA-style): each document's sequence cost is its
    text tokens PLUS its image's patch count (``ceil(w/P)·ceil(h/P)``,
    P=8, over the real raw8 dims from ``synthesize_raw_images`` — the
    fixture stand-in for a decoder), laid end-to-end and cut every
    ``_PACK_BUDGET`` slots. Exercises :func:`operators.packing.pack_offsets`
    with a joined media+text cost — the media table joins the text table
    BY id (the standard multimodal corpus layout: payloads and text live
    in separate tables), and the cascade itself is cost-agnostic.

    Oracle-able because the synthetic dims are closed-form in the utf8
    byte length (the ``multimodal_dims`` equivalence, driver-green r7);
    the Spark side still runs the REAL binary pipeline for its dims."""
    from ..operators.multimodal import synthesize_raw_images
    from ..operators.packing import assign_bins, pack_offsets

    docs = load_table(spark, sf_dir, "documents")
    text_cost = docs.select("doc_id", token_count("text").alias("n_tok"))
    dims = synthesize_raw_images(docs.select("doc_id", "text"), "text", "doc_id")
    patches = (
        F.ceil(F.col("width") / float(_PATCH)) * F.ceil(F.col("height") / float(_PATCH))
    ).cast("bigint")
    media_cost = dims.select(F.col("id").alias("doc_id"), patches.alias("n_patch"))
    cost = text_cost.join(media_cost, "doc_id").select(
        "doc_id", (F.col("n_tok") + F.col("n_patch")).alias("cost")
    )
    offs = pack_offsets(cost, "doc_id", "cost", block=_PACK_BLOCK, n_rows=docs.count())
    return (
        assign_bins(offs, "cost", _PACK_BUDGET)
        .withColumnRenamed("bin_tokens", "bin_cost")
        .orderBy("bin")
    )


_PACK_MM_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok, strlen(text) AS b
  FROM documents
),
c0 AS (
  SELECT doc_id,
         n_tok + CAST(ceil((16 + b % 17) / {_PATCH}.0)
                      * ceil((12 + (b * 31) % 13) / {_PATCH}.0) AS BIGINT) AS cost
  FROM t
),
c AS (
  SELECT cost,
         coalesce(sum(cost) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM c0
)
SELECT CAST(floor(off / {_PACK_BUDGET}.0) AS BIGINT) AS bin,
       count(*) AS n_docs, CAST(sum(cost) AS BIGINT) AS bin_cost
FROM c GROUP BY bin ORDER BY bin
"""


# --- mixture-weighted sampling ----------------------------------------------

# per-language target sampling percentage (the data-mixture knob)
_MIX_RATES: tuple[tuple[str, int], ...] = (
    ("en", 20),
    ("fr", 40),
    ("de", 60),
    ("es", 80),
    ("zh", 100),
)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted corpus sampling: keep a per-language fraction of
    documents (down-weighting over-represented languages — the pretraining
    data-mixture step). Selection is a *deterministic* per-row hash
    (``(doc_id·2654435761 + 40503) mod 100 < rate``), not ``rand()`` — stable
    under task retry and identically computable by the oracle; ``sampleBy``
    gives the same shape non-deterministically. The rates dim is broadcast;
    the corpus side is one scan + one O(langs) aggregation."""
    d = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(list(_MIX_RATES), "lang string, rate_pct int")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(40503), F.lit(100))
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.max("rate_pct").alias("rate_pct"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum((bucket < F.col("rate_pct")).cast("long")).alias("n_sampled"),
            F.round(
                F.sum((bucket < F.col("rate_pct")).cast("double")) / F.count(F.lit(1)), 4
            ).alias("realized_rate"),
        )
    )


_MIX_VALUES = ", ".join(f"('{lang}', {pct})" for lang, pct in _MIX_RATES)
_MIXTURE_SQL = f"""
WITH rates(lang, rate_pct) AS (VALUES {_MIX_VALUES})
SELECT d.lang,
       CAST(max(r.rate_pct) AS INTEGER) AS rate_pct,
       count(*) AS n_total,
       CAST(sum(CASE WHEN (d.doc_id * 2654435761 + 40503) % 100 < r.rate_pct
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(avg(CASE WHEN (d.doc_id * 2654435761 + 40503) % 100 < r.rate_pct
                      THEN 1.0 ELSE 0.0 END), 4) AS realized_rate
FROM documents d JOIN rates r USING (lang)
GROUP BY d.lang
"""


# --- stratified exact-quota sampling -----------------------------------------

_STRATUM_QUOTA = 50  # docs kept per language


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: keep exactly ``_STRATUM_QUOTA`` docs
    per language (fewer only if the stratum is smaller), chosen by ranking
    each stratum in deterministic ``md5(doc_id)`` order. Where
    ``mixture_sample`` hits a *rate* in expectation, this hits a *count*
    exactly — the eval-set / ablation-subset builder ("exactly 10k docs per
    language"), reproducible across runs and engines because the hash order
    is content-independent and tie-broken by doc_id.

    Scale: one shuffle partitioned by stratum; ``row_number`` streams each
    stratum with O(1) rank state, so the cost is the per-stratum sort, not
    memory. At 100 TB use ``operators.sampling.stratified_sample_cropped``
    — it crops each stratum with an analytic uniform-hash threshold
    (~overshoot·quota/|stratum| of the rows) before the same re-rank, so
    the sort sees ~quota rows instead of the full stratum, and a
    differential test pins cropped == exact. This query keeps the plain
    window form (ordering by the md5 STRING so the DuckDB oracle replays
    it verbatim; the operators order by a 60-bit numeric cut of the same
    md5 — same distribution, engine-identical either way)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _STRATUM_QUOTA)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


_SNAP_MOD = 3   # docs with doc_id % 3 == 0 are NEW since the old snapshot
_SNAP_EDIT = 17  # docs with doc_id % 17 == 0 changed content between snapshots


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the ingest-ops audit run between crawl
    versions: per source, how many docs were ADDED, REMOVED, CHANGED
    (same id, different content hash), or UNCHANGED. The fixture simulates
    two snapshots deterministically on both engines: the old snapshot is
    the ``doc_id % {m} != 0`` slice; the new snapshot is every doc, with
    ``doc_id % {e} == 0`` docs carrying an edited content hash (md5 of
    text || '|v2') EXCEPT the ``% {m} == 1`` slice, which the new snapshot
    drops — so every branch (added / removed / changed / unchanged) is
    exercised at every SF.

    Scale: ONE full-outer join keyed on doc_id (8-byte key; both sides
    shuffle once — snapshots are both corpus-sized, so neither broadcasts)
    carrying only (id, source, 16-byte hash) — never text — then an
    O(sources) aggregation. The production twin reads two partitioned
    snapshot manifests instead of carving one table."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    old = d.where(
        (F.col("doc_id") % _SNAP_MOD != 0) | (F.col("doc_id") % _SNAP_EDIT == 0)
    )
    new = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % _SNAP_EDIT == 0,
            F.md5(F.concat("text", F.lit("|v2"))),
        ).otherwise(F.md5("text")).alias("h"),
    ).where(F.col("doc_id") % _SNAP_MOD != 1)  # % == 1 docs dropped -> REMOVED
    j = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    ).select(
        F.coalesce("o.source", "n.source").alias("source"),
        F.col("o.h").isNull().alias("added"),
        F.col("n.h").isNull().alias("removed"),
        (
            F.col("o.h").isNotNull()
            & F.col("n.h").isNotNull()
            & (F.col("o.h") != F.col("n.h"))
        ).alias("changed"),
    )
    return j.groupBy("source").agg(
        F.sum(F.col("added").cast("bigint")).alias("n_added"),
        F.sum(F.col("removed").cast("bigint")).alias("n_removed"),
        F.sum(F.col("changed").cast("bigint")).alias("n_changed"),
        F.sum(
            (~F.col("added") & ~F.col("removed") & ~F.col("changed")).cast("bigint")
        ).alias("n_unchanged"),
    )


q_snapshot_diff.__doc__ = q_snapshot_diff.__doc__.format(
    m=_SNAP_MOD, e=_SNAP_EDIT, e2=_SNAP_EDIT
)

_SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
  WHERE doc_id % {_SNAP_MOD} <> 0 OR doc_id % {_SNAP_EDIT} = 0
),
new AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {_SNAP_EDIT} = 0 THEN md5(text || '|v2')
              ELSE md5(text) END AS h
  FROM documents WHERE doc_id % {_SNAP_MOD} <> 1
),
j AS (
  SELECT COALESCE(o.source, n.source) AS source,
         (o.h IS NULL) AS added,
         (n.h IS NULL) AS removed,
         (o.h IS NOT NULL AND n.h IS NOT NULL AND o.h <> n.h) AS changed
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source,
       CAST(sum(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN NOT added AND NOT removed AND NOT changed THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j GROUP BY source
"""


_WS_QUOTA = 5  # weighted sample size per source


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus subsampling: per source, draw {q} documents
    WITHOUT replacement with selection probability proportional to length
    (``operators.sampling.weighted_sample_exact`` — Efraimidis-Spirakis
    keys over the repo's md5 uniform). The deterministic, oracle-exact
    counterpart of temperature mixture sampling: re-crawls reproduce the
    same sample, and both engines rank the same ln(u)/w keys.

    Scale: one stratum-keyed shuffle + per-stratum sort (the exact tier;
    the analytic-crop pattern of stratified_sample_cropped applies
    unchanged when strata are huge)."""
    from ..operators.sampling import weighted_sample_exact

    d = spread(load_table(spark, sf_dir, "documents"))
    return weighted_sample_exact(
        d.select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", _WS_QUOTA,
    )


q_weighted_sample.__doc__ = q_weighted_sample.__doc__.format(q=_WS_QUOTA)

_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ln(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       / 1152921504606846976.0) / n_chars DESC,
                    doc_id
         ) AS rk
  FROM documents WHERE n_chars > 0
) WHERE rk <= 5
"""


_STRATIFIED_SQL = f"""
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= {_STRATUM_QUOTA}
"""


# --- intra-document repetition ----------------------------------------------


def q_dup_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language repeated-bigram profile (avg and worst-case duplicate
    fraction): the intra-document repetition signal used to drop
    boilerplate/spam before training. Narrow map + O(langs) agg."""
    d = spread(load_table(spark, sf_dir, "documents"))
    frac = F.round(_dup_bigram_frac(tokens("text")), 4)
    return d.groupBy("lang").agg(
        F.round(F.avg(frac), 4).alias("avg_dup_frac"),
        F.max(frac).alias("max_dup_frac"),
    )


_TOP2_FLAG = 0.2  # Gopher Table A1: top-2-gram char fraction > 0.20 -> drop


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal (Rae et al. 2021, arXiv:2112.11446,
    Table A1): per document, the fraction of characters covered by
    occurrences of the MOST FREQUENT 2-gram, rolled up per language with
    the > 0.20 drop-rule count. Complements ``q_dup_ngram_ratio`` (which
    measures the DISTINCT-bigram fraction) with Gopher's character-mass
    formulation — the two catch different spam shapes (one long repeated
    phrase vs many small repeats).

    Definitions pinned for the oracle: doc chars = len(join(tokens, ' '));
    the top 2-gram breaks count ties lexicographically; char fraction =
    least(1.0, cnt · len(top_bg) / chars), capped because OVERLAPPING
    occurrences ('a a a a' → bigram 'a a' × 3) can push the product past
    the doc length; docs with < 2 tokens score 0 and still count in
    n_docs.

    Scale: the per-doc top bigram is found ENTIRELY IN-ROW — sort the
    doc's bigram array and take the longest run via one JVM fold (ties
    resolve to the lexicographically smallest bigram because the array is
    sorted and only a STRICTLY longer run replaces the best) — so the
    corpus never shuffles at all; the only exchange is the O(langs) final
    agg. This replaced an r9-draft bigram-explode → groupBy(doc, bg)
    formulation whose shuffle carried the whole bigram stream."""
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select("lang", tokens("text").alias("tk"))
    # longest run in the SORTED bigram array == the most frequent bigram;
    # strictly-greater replacement keeps the earliest (lexicographically
    # smallest) run on count ties — the same (cnt desc, bg asc) rule the
    # oracle's window spells out
    # _word_shingles needs size >= 2 (descending-sequence trap); short docs
    # get an empty array, the fold returns best_n = 0, and frac is 0.0
    run = F.aggregate(
        F.array_sort(
            F.when(F.size("tk") >= 2, _word_shingles(F.col("tk"), 2)).otherwise(
                F.array().cast("array<string>")
            )
        ),
        F.struct(
            F.lit("").alias("cur"),
            F.lit(0).alias("cur_n"),
            F.lit("").alias("best"),
            F.lit(0).alias("best_n"),
        ),
        lambda acc, x: F.struct(
            x.alias("cur"),
            F.when(x == acc["cur"], acc["cur_n"] + 1).otherwise(F.lit(1)).alias("cur_n"),
            F.when(
                F.when(x == acc["cur"], acc["cur_n"] + 1).otherwise(F.lit(1))
                > acc["best_n"],
                x,
            )
            .otherwise(acc["best"])
            .alias("best"),
            F.greatest(
                F.when(x == acc["cur"], acc["cur_n"] + 1).otherwise(F.lit(1)),
                acc["best_n"],
            ).alias("best_n"),
        ),
    )
    frac = F.when(F.size("tk") < 2, F.lit(0.0)).otherwise(
        F.round(
            F.least(
                F.lit(1.0),
                F.col("t.best_n")
                * F.length(F.col("t.best"))
                / F.length(F.array_join("tk", " ")),
            ),
            4,
        )
    )
    per_doc = base.withColumn("t", run).select("lang", frac.alias("frac"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("frac"), 4).alias("avg_top2_frac"),
        F.max("frac").alias("max_top2_frac"),
        F.sum((F.col("frac") > _TOP2_FLAG).cast("bigint")).alias("n_flagged"),
    )


_REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
),
bg AS (
  SELECT doc_id, len(array_to_string(tk, ' ')) AS chars,
         unnest(list_transform(range(1, len(tk)),
                               i -> array_to_string(tk[i:i + 1], ' '))) AS bg
  FROM base WHERE len(tk) >= 2
),
cnt AS (
  SELECT doc_id, chars, bg, count(*) AS cnt FROM bg GROUP BY doc_id, chars, bg
),
top AS (
  SELECT doc_id,
         round(least(1.0, CAST(cnt * length(bg) AS DOUBLE) / chars), 4) AS frac
  FROM (
    SELECT doc_id, chars, bg, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rn
    FROM cnt
  ) WHERE rn = 1
),
per_doc AS (
  SELECT b.lang, coalesce(t.frac, 0.0) AS frac
  FROM base b LEFT JOIN top t USING (doc_id)
)
SELECT lang, count(*) AS n_docs,
       round(avg(frac), 4) AS avg_top2_frac,
       max(frac) AS max_top2_frac,
       CAST(sum(CASE WHEN frac > {_TOP2_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM per_doc GROUP BY lang
"""


_DUP_NGRAM_SQL = f"""
WITH r AS (
  SELECT lang,
         round(CASE WHEN len(tk) < 2 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) END, 4) AS frac
  FROM (
    SELECT lang, tk,
           list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i + 1], ' ')) AS bg
    FROM (SELECT lang, {_DUCK_TOKENS} AS tk FROM documents)
  )
)
SELECT lang, round(avg(frac), 4) AS avg_dup_frac, max(frac) AS max_dup_frac
FROM r GROUP BY lang
"""


# --- PII detection & redaction ----------------------------------------------

# Java-regex ∩ RE2 subset (no lookaround, no backrefs) so Spark and the
# DuckDB oracle compile the *same* pattern text.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails / phone numbers / IPv4) with a per-source
    audit report: docs scanned, docs containing PII, hits per category, and
    characters removed by redaction — the compliance table every corpus
    release ships with.

    The synthetic fixture text contains no PII (verified: 0 ``@``, 0 digits
    at all SFs), so the demo *plants* it deterministically from ``doc_id``
    (same convention as the planted near-dups in ``emb_near_dup_lsh``); the
    oracle plants identically, so parity checks the detector end-to-end.

    Scale: detection and redaction are per-row regexes inside whole-stage
    codegen — a pure narrow map, zero shuffles before the O(sources) agg.
    At 100 TB this runs at scan speed; the only knob is regex cost per MB,
    so anchor patterns (``\\b``, explicit char classes) and avoid
    catastrophic-backtracking constructs (Java regex is backtracking; the
    subset here is linear)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com today")
    )
    phone = F.concat(
        F.lit(" call 555-867-"),
        F.lpad(F.pmod(did, F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    ipv4 = F.concat(
        F.lit(" from host 10."),
        F.pmod(did, F.lit(256)).cast("string"),
        F.lit(".0."),
        F.pmod(did * 7, F.lit(256)).cast("string"),
        F.lit(" port"),
    )
    planted = F.concat(
        F.col("text"),
        F.when(did % 7 == 0, email).otherwise(F.lit("")),
        F.when(did % 11 == 0, phone).otherwise(F.lit("")),
        F.when(did % 13 == 0, ipv4).otherwise(F.lit("")),
    )
    n_email = F.size(F.regexp_extract_all(F.col("planted"), F.lit(_PII_EMAIL), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(F.col("planted"), F.lit(_PII_PHONE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(F.col("planted"), F.lit(_PII_IPV4), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("planted"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IPV4,
        "[IP]",
    )
    per_doc = d.select("source", planted.alias("planted")).select(
        "source",
        n_email.alias("e"),
        n_phone.alias("p"),
        n_ipv4.alias("i"),
        (F.length("planted") - F.length(redacted)).alias("removed"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("e") + F.col("p") + F.col("i")) > 0).cast("long")).alias(
            "docs_with_pii"
        ),
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum("i").alias("n_ipv4"),
        F.sum("removed").alias("chars_removed"),
    )


_PII_SQL = f"""
WITH planted AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com today'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' from host 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' port'
                 ELSE '' END AS planted
  FROM documents
),
per_doc AS (
  SELECT source,
         len(regexp_extract_all(planted, '{_PII_EMAIL}')) AS e,
         len(regexp_extract_all(planted, '{_PII_PHONE}')) AS p,
         len(regexp_extract_all(planted, '{_PII_IPV4}')) AS i,
         length(planted) - length(
           regexp_replace(regexp_replace(regexp_replace(planted,
             '{_PII_EMAIL}', '[EMAIL]', 'g'),
             '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_PII_IPV4}', '[IP]', 'g')) AS removed
  FROM planted
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(sum(i) AS BIGINT) AS n_ipv4,
       CAST(sum(removed) AS BIGINT) AS chars_removed
FROM per_doc GROUP BY source
"""


# --- passage-level corpus dedup ----------------------------------------------

_CHUNK_W = 8  # words per passage chunk


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb *line*-dedup step,
    re-cut on tumbling 8-word chunks because the fixture text has
    no newlines): every chunk occurrence after the corpus-wide first —
    ordered by (doc_id, chunk_idx), so keep-first is deterministic — is a
    duplicate to strip. Output: per-source chunk counts, duplicate counts,
    and the retention rate after stripping.

    Scale: chunking is a narrow map (transform over sequence, codegen'd);
    the keep-first needs exactly ONE shuffle keyed on the chunk — the same
    cost class as a groupBy(chunk) — and window groups are tiny (occurrence
    counts), so no skew state. The shuffle key is ``xxhash64(chunk)``
    (8 bytes), not the ~40-byte chunk string — the 100 TB refinement the
    r3 docstring only promised. Equality-by-hash is exact up to 64-bit
    collisions (p ≈ n²/2⁶⁵: ~1e-8 at the fixture's 6e5 chunks, ~3e-5 even
    at 1e7 chunks/shard), so the string-keyed DuckDB oracle still matches
    bit-for-bit."""
    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "source", tokens("text").alias("tk"))
        .where(F.size("tk") > 0)
    )
    n_chunks = F.ceil(F.size("tk") / F.lit(_CHUNK_W)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.xxhash64(
            F.array_join(F.slice(F.col("tk"), i * _CHUNK_W + 1, _CHUNK_W), " ")
        ),
    )
    ch = d.select(
        "doc_id", "source", F.posexplode(chunks).alias("chunk_idx", "chunk_h")
    )
    w = Window.partitionBy("chunk_h").orderBy("doc_id", "chunk_idx")
    ranked = ch.select("source", F.row_number().over(w).alias("rn"))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("rn") > 1).cast("long")).alias("dup_chunks"),
        F.round(F.avg((F.col("rn") == 1).cast("double")), 4).alias("retention"),
    )


_PASSAGE_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) > 0
),
b AS (
  SELECT doc_id, source,
         list_transform(range(0, CAST(ceil(len(tk) / {_CHUNK_W}.0) AS BIGINT)),
            i -> {{'chunk_idx': i,
                   'chunk': array_to_string(tk[(i*{_CHUNK_W}+1):(i*{_CHUNK_W}+{_CHUNK_W})], ' ')}}) AS lst
  FROM t
),
u AS (SELECT doc_id, source, unnest(lst) AS s FROM b),
ch AS (SELECT doc_id, source, s.chunk_idx AS chunk_idx, s.chunk AS chunk FROM u),
rk AS (
  SELECT source,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM ch
)
SELECT source,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       round(avg(CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END), 4) AS retention
FROM rk GROUP BY source
"""


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL with document reconstruction — the step
    :func:`q_passage_dedup` only reports on: strip every tumbling 8-word
    chunk whose corpus-wide first occurrence (ordered by doc_id,
    chunk_idx) lies elsewhere, then rebuild each document from its
    surviving chunks in order (C4's remove-the-repeated-lines pass,
    re-cut on word chunks because fixture text has no newlines). Output:
    per-language doc counts, how many docs survive fully intact, total
    surviving characters, and the scrubbed-token fraction.

    Scale: chunking is codegen'd; keep-first is a min-of-(doc_id, idx)
    aggregation over the 8-byte ``xxhash64(chunk)`` key (map-side combine
    absorbs hot boilerplate chunks) tested back via a SALTED join — no
    rank window, so no hot-key single-task sort; the chunk STRING rides as
    payload because reconstruction needs it back; the rebuild is one
    doc_id-keyed agg whose state is the doc's own surviving chunks (bounded
    by doc length, the same state any per-doc agg carries). Duplicate
    identity is the 64-bit hash, not chunk content — exact at fixture
    scale, birthday-bounded at ~10^12 chunks; see
    ``operators.dedup.substring_dup_removal`` for the documented trade and
    the 128-bit upgrade path."""
    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", tokens("text").alias("tk"))
        .where(F.size("tk") > 0)
    )
    n_chunks = F.ceil(F.size("tk") / F.lit(_CHUNK_W)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("tk"), i * _CHUNK_W + 1, _CHUNK_W), " "),
    )
    ch = d.select(
        "doc_id", "lang", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).withColumn("h", F.xxhash64("chunk"))
    # keep-first via min-aggregation + salted join-back, not a rank window:
    # a Window.partitionBy(hash) would sort every occurrence of a hot
    # boilerplate chunk in ONE task at corpus scale. The min-of-(doc_id,
    # chunk_idx) groupBy is combiner-absorbed; the 1-row-per-hash firsts
    # table explodes across the salts (operators.dedup.JOIN_SALTS — AQE's
    # skew-split cannot fire on agg-fed joins, tests/test_skew.py).
    firsts = ch.groupBy("h").agg(
        F.min(F.struct(F.col("doc_id"), F.col("chunk_idx"))).alias("p1")
    )
    salted_firsts = firsts.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1)))
    )
    ranked = (
        ch.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(_JOIN_SALTS)).cast("int")
        )
        .join(salted_firsts, ["h", "salt"])
        .select(
            "doc_id", "lang", "chunk_idx", "chunk",
            (F.struct(F.col("doc_id"), F.col("chunk_idx")) == F.col("p1")).alias("keep"),
        )
    )
    rebuilt = (
        ranked.groupBy("doc_id", "lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("chunk_idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("scrubbed"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("keep").cast("long")).alias("kept_chunks"),
        )
    )
    return (
        rebuilt.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("kept_chunks") == F.col("n_chunks")).cast("long")).alias(
                "docs_intact"
            ),
            F.sum(F.octet_length("scrubbed").cast("long")).alias("scrubbed_chars"),
            F.round(
                1.0 - F.sum("kept_chunks") / F.sum("n_chunks"), 4
            ).alias("scrub_frac"),
        )
        .orderBy("lang")
    )


_SPAN_SCRUB_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) > 0
),
b AS (
  SELECT doc_id, lang,
         list_transform(range(0, CAST(ceil(len(tk) / {_CHUNK_W}.0) AS BIGINT)),
            i -> {{'chunk_idx': i,
                   'chunk': array_to_string(tk[(i*{_CHUNK_W}+1):(i*{_CHUNK_W}+{_CHUNK_W})], ' ')}}) AS lst
  FROM t
),
u AS (SELECT doc_id, lang, unnest(lst) AS s FROM b),
ch AS (SELECT doc_id, lang, s.chunk_idx AS chunk_idx, s.chunk AS chunk FROM u),
rk AS (
  SELECT doc_id, lang, chunk_idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1 AS keep
  FROM ch
),
rebuilt AS (
  SELECT doc_id, lang,
         array_to_string(list(chunk ORDER BY chunk_idx) FILTER (WHERE keep), ' ') AS scrubbed,
         count(*) AS n_chunks,
         sum(CASE WHEN keep THEN 1 ELSE 0 END) AS kept_chunks
  FROM rk GROUP BY doc_id, lang
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN kept_chunks = n_chunks THEN 1 ELSE 0 END) AS BIGINT) AS docs_intact,
       CAST(sum(strlen(coalesce(scrubbed, ''))) AS BIGINT) AS scrubbed_chars,
       round(1.0 - sum(kept_chunks) / sum(n_chunks), 4) AS scrub_frac
FROM rebuilt GROUP BY lang ORDER BY lang
"""


# --- exact duplicate-substring statistics (stride-1 windows) -----------------

_SPAN_W = 8  # token-window length (production: ~50 BPE tokens per Lee et al.)
_JOIN_SALTS = 16  # salt fan-out for hot-key join-backs (prod: >= executor count)


def q_substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SUBSTRING statistics — the Lee et al. 2021 criterion
    (arXiv:2107.06499 §4.1: a span duplicated anywhere in the corpus,
    including elsewhere in the same document) at token-window granularity:
    every stride-1 window of ``_SPAN_W`` tokens, counted corpus-wide; a
    window occurrence is duplicated iff its content occurs ≥2 times
    anywhere. Unlike ``passage_dedup``'s tumbling chunks (which miss
    duplicates at unaligned offsets), stride-1 windows catch a copied
    passage at ANY offset — the property the paper's suffix array buys.
    Per language: docs, docs containing ≥1 duplicated span, window totals,
    and the duplicated-window fraction.

    Scale: the window stream is one row per token position (8-byte
    xxhash64 + ids — the window STRING never leaves the map stage), which
    is the same order as the token stream a suffix array would sort;
    three shuffles: (hash, doc) pre-group, hash totals, totals join-back.
    Boilerplate hot keys (one span repeated 10⁸ times) are absorbed by
    map-side combine in both groupBys; the join-back is SALTED on doc_id
    (deterministic skew handling — AQE's skew-split provably cannot fire
    on this plan shape, see the inline comment and tests/test_skew.py).
    A full production substring-REMOVER would keep window positions and
    merge overlapping dup windows into maximal spans per doc (a per-doc
    sort, bounded by doc length) — the reporting cut here shares all the
    heavy stages with it. Duplicate identity is the 64-bit hash, not
    window content — exact at fixture scale, birthday-bounded at ~10^12
    windows; see ``operators.dedup.substring_dup_removal`` for the
    documented trade and the 128-bit upgrade path."""
    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", tokens("text").alias("tk"))
        .where(F.size("tk") >= _SPAN_W)
    )
    idx = F.sequence(F.lit(1), F.size("tk") - _SPAN_W + 1)
    wins = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                idx,
                lambda i: F.xxhash64(F.array_join(F.slice(F.col("tk"), i, _SPAN_W), " ")),
            )
        ).alias("h"),
    )
    per_doc_h = wins.groupBy("h", "doc_id", "lang").agg(F.count(F.lit(1)).alias("k"))
    totals = per_doc_h.groupBy("h").agg(F.sum("k").alias("tot"))
    # SALTED join-back (boilerplate-proof): a span repeated in 10^8 docs is
    # ONE hot h carrying 10^8 per-doc rows into this join. AQE's skew-split
    # CANNOT save it here — the totals side is a HashAggregate already
    # partitioned on h, pipelined into the join with no shuffle stage of its
    # own, and OptimizeSkewedJoin needs both children to be re-readable
    # shuffle stages (verified empirically r8: raw ⋈ agg-totals never
    # splits, raw ⋈ table does — see tests/test_skew.py). So the skew
    # handling is deterministic instead: the probe side salts on doc_id,
    # the 1-row-per-key totals side explodes across all _JOIN_SALTS salts
    # (tiny: S× a 16-byte row), and the hot key spreads over S partitions
    # by construction. S is the scale lever (≥ executor count in prod).
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(_JOIN_SALTS)).cast("int")
    salted_totals = totals.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1)))
    )
    per_doc = (
        per_doc_h.withColumn("salt", salt)
        .join(salted_totals, ["h", "salt"])
        .groupBy("lang", "doc_id")
        .agg(
            F.sum("k").alias("nw"),
            F.sum(F.when(F.col("tot") >= 2, F.col("k")).otherwise(0)).alias("dw"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("dw") > 0).cast("long")).alias("docs_with_dup_span"),
            F.sum("nw").cast("bigint").alias("total_windows"),
            F.sum("dw").cast("bigint").alias("dup_windows"),
            F.round(F.sum("dw") / F.sum("nw"), 4).alias("dup_frac"),
        )
        .orderBy("lang")
    )


_SUBSTRING_DUP_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) >= {_SPAN_W}
),
w AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(tk) - {_SPAN_W} + 2),
                i -> array_to_string(tk[i:i+{_SPAN_W - 1}], ' '))) AS s
  FROM t
),
pdh AS (SELECT s, doc_id, lang, count(*) AS k FROM w GROUP BY 1, 2, 3),
tot AS (SELECT s, sum(k) AS tot FROM pdh GROUP BY s),
pd AS (
  SELECT lang, doc_id, sum(k) AS nw,
         sum(CASE WHEN tot >= 2 THEN k ELSE 0 END) AS dw
  FROM pdh JOIN tot USING (s) GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN dw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_dup_span,
       CAST(sum(nw) AS BIGINT) AS total_windows,
       CAST(sum(dw) AS BIGINT) AS dup_windows,
       round(CAST(sum(dw) AS DOUBLE) / sum(nw), 4) AS dup_frac
FROM pd GROUP BY lang ORDER BY lang
"""


def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-1 duplicate-substring REMOVAL accounting — the production
    counterpart of :func:`q_substring_dup_stats`: keep the globally FIRST
    occurrence of every duplicated window, remove the rest, with
    overlapping removal ranges merged per doc (gaps-and-islands). Core
    logic lives in :func:`operators.dedup.substring_dup_removal` (full
    scale argument there); this query aggregates its per-touched-doc rows
    per language: docs, docs touched, token totals, tokens removed, and
    the removed fraction. The lang-level join is O(langs) rows — the
    per-doc table never joins back to the corpus. The denominator branch
    re-scans the corpus for per-language token totals — deliberate: the
    alternative (dedup the window stream back to doc grain) is a second
    token-stream shuffle, strictly worse than a columnar re-scan."""
    from ..operators.dedup import substring_dup_removal

    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", tokens("text").alias("tk"))
        .where(F.size("tk") >= _SPAN_W)
    )
    per_doc = substring_dup_removal(
        spread(load_table(spark, sf_dir, "documents")),
        "text",
        "doc_id",
        span_w=_SPAN_W,
        keep_cols=("lang",),
    )
    tot = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("tk")).cast("bigint").alias("tokens_total"),
    )
    rem = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_touched"),
        F.sum("removed").cast("bigint").alias("tokens_removed"),
    )
    return (
        tot.join(rem, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("docs_touched", F.lit(0)).alias("docs_touched"),
            "tokens_total",
            F.coalesce("tokens_removed", F.lit(0)).alias("tokens_removed"),
            F.round(
                F.coalesce("tokens_removed", F.lit(0)) / F.col("tokens_total"), 4
            ).alias("removed_frac"),
        )
        .orderBy("lang")
    )


# Shared CTE pipeline (string-keyed twin of operators.dedup._dup_span_islands):
# window stream -> keep-first duplicate occurrences -> gaps-and-islands merged
# spans per doc. Consumed by the scrub (accounting) and rebuild (document
# reconstruction) oracles below.
_SUBSTRING_CTES = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) >= {_SPAN_W}
),
w AS (
  SELECT doc_id, lang, len(tk) AS n_tok, i AS pos,
         array_to_string(tk[i:i+{_SPAN_W - 1}], ' ') AS s
  FROM t, unnest(range(1, len(tk) - {_SPAN_W} + 2)) AS u(i)
),
dup_occ AS (
  SELECT doc_id, lang, n_tok, pos AS st, pos + {_SPAN_W} - 1 AS e
  FROM (
    SELECT doc_id, lang, n_tok, pos,
           row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
    FROM w
  ) WHERE rn >= 2
),
isl AS (
  SELECT doc_id, lang, n_tok, st, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY st, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR st > max(e) OVER (PARTITION BY doc_id ORDER BY st, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM dup_occ
),
isl2 AS (
  SELECT doc_id, lang, n_tok, st, e,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY st, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
merged AS (
  SELECT doc_id, lang, n_tok, island, min(st) AS st, max(e) AS en
  FROM isl2 GROUP BY 1, 2, 3, 4
),
per_doc AS (
  SELECT doc_id, lang, n_tok, CAST(sum(en - st + 1) AS BIGINT) AS removed
  FROM merged GROUP BY 1, 2, 3
)"""

_SUBSTRING_SCRUB_SQL = _SUBSTRING_CTES + """,
tot AS (
  SELECT lang, count(*) AS n_docs, CAST(sum(len(tk)) AS BIGINT) AS tokens_total
  FROM t GROUP BY lang
),
rem AS (
  SELECT lang, count(*) AS docs_touched, CAST(sum(removed) AS BIGINT) AS tokens_removed
  FROM per_doc GROUP BY lang
)
SELECT tot.lang, n_docs,
       coalesce(docs_touched, 0) AS docs_touched,
       tokens_total,
       coalesce(tokens_removed, 0) AS tokens_removed,
       round(CAST(coalesce(tokens_removed, 0) AS DOUBLE) / tokens_total, 4) AS removed_frac
FROM tot LEFT JOIN rem ON tot.lang = rem.lang ORDER BY tot.lang
"""


def q_substring_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al removal's PRODUCTION output — the scrubbed documents
    themselves: one row per touched doc with the text rebuilt from the
    tokens outside every merged duplicate span (the step
    :func:`q_substring_scrub` only accounts for; a fully-duplicated doc
    comes back empty). Whole scrubbed strings are oracle-compared, so the
    reconstruction — not just its token counts — is pinned cross-engine.
    Core: ``operators.dedup.substring_dup_scrub`` (hot-span-proof keep-
    first + salted join-back; the rebuild is a narrow position-indexed
    higher-order filter against the doc's own span list — no Python
    boundary, one id-keyed join beyond the accounting pipeline)."""
    from ..operators.dedup import substring_dup_scrub

    d = spread(load_table(spark, sf_dir, "documents"))
    out = substring_dup_scrub(d, "text", "doc_id", span_w=_SPAN_W, keep_cols=("lang",))
    return out.select(
        F.col("id").alias("doc_id"), "lang", "n_tok", "removed", "scrubbed_text"
    )


_SUBSTRING_REBUILD_SQL = _SUBSTRING_CTES + """,
pos AS (
  SELECT t.doc_id, u.i, tk[u.i] AS tok
  FROM t, unnest(range(1, len(tk) + 1)) AS u(i)
  WHERE t.doc_id IN (SELECT doc_id FROM per_doc)
),
kept AS (
  SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS scrubbed_text
  FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM merged m
                    WHERE m.doc_id = p.doc_id AND p.i BETWEEN m.st AND m.en)
  GROUP BY p.doc_id
)
SELECT d.doc_id, d.lang, CAST(d.n_tok AS INTEGER) AS n_tok, d.removed,
       coalesce(k.scrubbed_text, '') AS scrubbed_text
FROM per_doc d LEFT JOIN kept k USING (doc_id)
"""


# --- deterministic corpus sharding -------------------------------------------

_N_SHARDS = 32


def q_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for the tokenizer/writer fan-out:
    shard = first-8-hex-chars of md5(doc_id) mod 32, reported as a
    per-shard balance table (doc count + byte mass). md5-of-string is used
    instead of ``xxhash64`` only because the oracle must compute the *same*
    hash; the production note below is hash-agnostic.

    Scale: at 100 TB this column feeds ``df.repartition(n, "shard")`` +
    ``write.partitionBy("shard")`` so each output shard is one writer
    task's worth of co-located rows; content-hash sharding (not
    round-robin) keeps assignment stable under retries AND under corpus
    re-runs with inserted docs. The balance table itself is one narrow map
    + one O(shards) agg."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _N_SHARDS
    )
    return d.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("shard_chars"),
    )


_SHARD_SQL = f"""
SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS shard_chars
FROM documents GROUP BY shard
"""


# --- unigram-LM quality score ------------------------------------------------

_VOCAB_TOP_K = 50_000  # model cap; fixture vocab is far smaller, so exact here


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality filter, unigram edition: fit a
    unigram LM on the corpus itself (token → -ln p(token)), score every doc
    by its mean token negative-log-likelihood, and report the per-language
    NLL profile. Low-NLL docs are common-word soup; high-NLL docs are
    gibberish/rare-token noise — pipelines keep the middle band.

    Scale: the model build is ONE shuffle on token (partial counts map-side
    combine first, so the shuffle carries one row per distinct token per
    partition, not per occurrence). The fitted ``counts`` table is
    vocab-sized (KBs here, MBs at web scale) and feeds THREE consumers
    (total mass, top-K cut, broadcast model), so it is **persisted** — the
    corpus is tokenized exactly twice (fit + score), never a third time.
    The model follows Zipf's law: it is cut to the top ``_VOCAB_TOP_K``
    tokens by count via ``orderBy().limit()`` (TakeOrderedAndProject —
    per-partition heaps over the cached vocab, no global sort), and tokens
    outside the cap score at the OOV floor ``-ln(1/total)`` — the NLL of a
    singleton token, an upper bound on any real tail token's information
    content. Probability mass stays honest: ``total`` sums the FULL vocab,
    so in-cap probabilities are true corpus frequencies, not renormalized.
    Scoring is a **left broadcast** join against the exploded corpus (no
    corpus shuffle; OOV rows keep a NULL that coalesces to the floor), then
    one per-doc agg. The corpus token total rides in as a broadcast 1-row
    crossJoin, NOT an unpartitioned window (a scale-killer at web-corpus
    vocab sizes). Fixture vocab < the cap, so the demo model is exact and
    the oracle twin's identical LIMIT/COALESCE branches never fire."""
    from ..operators.lm import fit_unigram_lm, score_unigram_nll

    d = spread(load_table(spark, sf_dir, "documents"))
    model, total = fit_unigram_lm(d, "text", top_k=_VOCAB_TOP_K)
    scored = score_unigram_nll(d, model, total, "text", keys=("doc_id", "lang"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.round(F.min("nll"), 4).alias("min_nll"),
        F.round(F.max("nll"), 4).alias("max_nll"),
    )


_UNIGRAM_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) > 0
),
tok AS (SELECT doc_id, lang, unnest(tk) AS token FROM t),
counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
total AS (SELECT sum(c) AS s FROM counts),
vocab AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT {_VOCAB_TOP_K}),
model AS (SELECT token, -ln(c / s) AS nll_tok FROM vocab, total),
scored AS (
  SELECT doc_id, lang, avg(coalesce(nll_tok, ln(s))) AS nll
  FROM tok LEFT JOIN model USING (token), total GROUP BY doc_id, lang
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(nll), 4) AS avg_nll,
       round(min(nll), 4) AS min_nll,
       round(max(nll), 4) AS max_nll
FROM scored GROUP BY lang
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for targeted data selection (Xie et
    al. 2023, arXiv:2302.03169: select pretraining data whose distribution
    matches a small target set by importance = log p_target(x) −
    log p_source(x) under cheap n-gram models): fit one unigram LM on the
    TARGET slice (the held-out-eval convention, ``doc_id % _EVAL_MOD ==
    0``) and one on the SOURCE remainder, score every source doc's mean
    per-token log ratio, and report the per-language selection profile —
    docs, mean importance, how many docs score target-like (importance >
    0), and the range. A production pass keeps the top-importance slice
    as the matched pretraining subset.

    Scale: three corpus reads total — the two fits (each ONE token-agg
    shuffle onto a persisted vocab-sized count table, exactly
    ``fit_unigram_lm``'s plan) plus ONE scoring pass: the source token
    stream joins BOTH broadcast models in the same pass (left joins +
    OOV floors), so the corpus is never tokenized per-model for scoring.
    Per-doc importance is rounded to 4 decimals BEFORE the > 0 selection
    test and the aggregates, so selection is engine-independent even for
    docs near the boundary."""
    from ..operators.lm import fit_unigram_lm

    d = spread(load_table(spark, sf_dir, "documents"))
    is_target = F.col("doc_id") % _EVAL_MOD == 0
    target, source = d.where(is_target), d.where(~is_target)
    m_t, tot_t = fit_unigram_lm(target, "text", top_k=_VOCAB_TOP_K)
    m_s, tot_s = fit_unigram_lm(source, "text", top_k=_VOCAB_TOP_K)
    tok = source.select("doc_id", "lang", F.explode(tokens("text")).alias("token"))
    per_doc = (
        tok.join(F.broadcast(m_t.withColumnRenamed("nll_tok", "nll_t")), "token", "left")
        .join(F.broadcast(m_s.withColumnRenamed("nll_tok", "nll_s")), "token", "left")
        .crossJoin(F.broadcast(tot_t.withColumnRenamed("s", "s_t")))
        .crossJoin(F.broadcast(tot_s.withColumnRenamed("s", "s_s")))
        .select(
            "doc_id",
            "lang",
            (
                F.coalesce("nll_s", F.ln("s_s")) - F.coalesce("nll_t", F.ln("s_t"))
            ).alias("imp_tok"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("imp_tok"), 4).alias("imp"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("imp"), 4).alias("avg_imp"),
            F.sum((F.col("imp") > 0).cast("long")).alias("n_selected"),
            F.round(F.avg((F.col("imp") > 0).cast("double")), 4).alias("sel_rate"),
            F.round(F.min("imp"), 4).alias("min_imp"),
            F.round(F.max("imp"), 4).alias("max_imp"),
        )
        .orderBy("lang")
    )


_DSIR_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  WHERE len({_DUCK_TOKENS}) > 0
),
tgt_tok AS (SELECT unnest(tk) AS token FROM t WHERE doc_id % {_EVAL_MOD} = 0),
src AS (SELECT doc_id, lang, tk FROM t WHERE doc_id % {_EVAL_MOD} <> 0),
src_tok AS (SELECT doc_id, lang, unnest(tk) AS token FROM src),
counts_t AS (SELECT token, count(*) AS c FROM tgt_tok GROUP BY token),
total_t AS (SELECT sum(c) AS s_t FROM counts_t),
vocab_t AS (SELECT token, c FROM counts_t ORDER BY c DESC, token LIMIT {_VOCAB_TOP_K}),
model_t AS (SELECT token, -ln(c / s_t) AS nll_t FROM vocab_t, total_t),
counts_s AS (SELECT token, count(*) AS c FROM src_tok GROUP BY token),
total_s AS (SELECT sum(c) AS s_s FROM counts_s),
vocab_s AS (SELECT token, c FROM counts_s ORDER BY c DESC, token LIMIT {_VOCAB_TOP_K}),
model_s AS (SELECT token, -ln(c / s_s) AS nll_s FROM vocab_s, total_s),
per_doc AS (
  SELECT doc_id, lang,
         round(avg(coalesce(nll_s, ln(s_s)) - coalesce(nll_t, ln(s_t))), 4) AS imp
  FROM src_tok
  LEFT JOIN model_t USING (token)
  LEFT JOIN model_s USING (token)
  CROSS JOIN total_t CROSS JOIN total_s
  GROUP BY doc_id, lang
)
SELECT lang, count(*) AS n_docs,
       -- + 0.0 (x3): signed log-ratio importances must not round to -0.0
       -- (r17 slot fix)
       round(avg(imp), 4) + 0.0 AS avg_imp,
       CAST(sum(CASE WHEN imp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       round(avg(CASE WHEN imp > 0 THEN 1.0 ELSE 0.0 END), 4) AS sel_rate,
       round(min(imp), 4) + 0.0 AS min_imp,
       round(max(imp), 4) + 0.0 AS max_imp
FROM per_doc GROUP BY lang ORDER BY lang
"""


# --- bigram-LM quality score -------------------------------------------------

_BIGRAM_TOP_K = 200_000  # model cap; fixture bigram vocab is far smaller


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM quality filter (the KenLM-shaped upgrade of
    ``unigram_logprob``): fit bigram counts on the corpus, score every doc
    by its mean conditional negative log-likelihood
    ``-ln p(w2 | w1) = -ln(c(w1,w2) / c(w1))``, and report the
    per-language NLL profile. Conditional NLL separates "common words in
    unusual orders" (word-salad spam) from "common words in common orders"
    — a distinction unigram scoring cannot make.

    Scale: fitting is ONE corpus scan — context counts ``c(w1)`` are
    derived from the persisted bigram-count table by a vocab-sized
    re-aggregation (Σ_w2 c(w1,w2)), never a second corpus pass. The
    persisted counts feed four consumers (context counts, total mass,
    top-K cut, model), so the corpus is scanned exactly twice (fit +
    score), pinned like unigram's. The model is cut to the top
    ``_BIGRAM_TOP_K`` bigrams via ``orderBy().limit()`` (TakeOrdered) and
    broadcast; scoring is a left broadcast join on (w1, w2) — no corpus
    shuffle — with unseen bigrams at the ``-ln(1/total)`` floor (never
    fires when scoring the fit corpus under the cap; the branch exists for
    scoring NEW data against a frozen model). Both the cap and floor
    mirror in the oracle, so the twins stay exact."""
    from ..operators.lm import fit_bigram_lm, score_bigram_nll

    d = spread(load_table(spark, sf_dir, "documents"))
    model, total = fit_bigram_lm(d, "text", top_k=_BIGRAM_TOP_K)
    scored = score_bigram_nll(d, model, total, "text", keys=("doc_id", "lang"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.round(F.min("nll"), 4).alias("min_nll"),
        F.round(F.max("nll"), 4).alias("max_nll"),
    )


_BIGRAM_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, tk FROM (
    SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  ) WHERE len(tk) >= 2
),
b AS (
  SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(tk)),
                                 i -> {{'w1': tk[i], 'w2': tk[i + 1]}})) AS p
    FROM t
  )
),
bc AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY w1, w2),
uc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY w1),
total AS (SELECT sum(cb) AS s FROM bc),
vocab AS (SELECT w1, w2, cb FROM bc ORDER BY cb DESC, w1, w2 LIMIT {_BIGRAM_TOP_K}),
model AS (SELECT v.w1, v.w2, -ln(cb / cu) AS nll_big FROM vocab v JOIN uc USING (w1)),
scored AS (
  SELECT doc_id, lang, avg(coalesce(nll_big, ln(s))) AS nll
  FROM b LEFT JOIN model USING (w1, w2), total GROUP BY doc_id, lang
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(nll), 4) AS avg_nll,
       round(min(nll), 4) AS min_nll,
       round(max(nll), 4) AS max_nll
FROM scored GROUP BY lang
"""


# --- normalization-aware dedup lift ------------------------------------------

_NORM_PLANT_A = 31  # doc_id % 31 == 0 → punctuated Title-Case variant
_NORM_PLANT_B = 37  # doc_id % 37 == 0 → extra-whitespace lowercase variant


def q_norm_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware dedup lift (the C4/RefinedWeb pre-hash
    normalization step): how many extra duplicates appear once text is
    canonicalized (strip punctuation, collapse whitespace, lowercase)
    before hashing? Reports raw-distinct vs normalized-distinct counts and
    the lift — the number a pipeline reads to decide whether raw-hash
    dedup is leaving near-identical spam in the corpus.

    Planted-content convention (same as ``pii_redact``): the fixture
    corpus has no case/punctuation variants of shared passages, so the
    demo plants two variant families of the same five passages —
    punctuated Title-Case and whitespace-padded lowercase — identically in
    query and oracle. Raw hashing keeps every variant distinct;
    normalization collapses each passage's variants to one. The library
    function (``functions.text.normalize_for_dedup``) never plants.

    Scale: one scan; the aggregation computes two hash-distinct counts,
    so Spark expands each row into the two count-distinct streams — the
    expanded rows carry ONLY the two 128-bit hashes, not the text, and
    everything pre-aggregates map-side. Same cost class as exact dedup."""
    did = F.col("doc_id")
    k = (did % 5).cast("string")
    planted = (
        F.when(
            did % _NORM_PLANT_A == 0,
            F.concat(F.lit("Shared Passage, Number "), k, F.lit("!")),
        )
        .when(
            did % _NORM_PLANT_B == 0,
            F.concat(F.lit("  shared   passage number "), k, F.lit(" ")),
        )
        .otherwise(F.col("text"))
    )
    d = load_table(spark, sf_dir, "documents").select(planted.alias("t"))
    raw_h = F.md5("t")
    norm_h = F.md5(normalize_for_dedup(F.col("t")))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(raw_h).alias("distinct_raw"),
        F.countDistinct(norm_h).alias("distinct_norm"),
        (F.countDistinct(raw_h) - F.countDistinct(norm_h)).alias("norm_dup_lift"),
    )


# Same explicit whitespace class as the Spark side (functions.text.WS_CLASS)
# so Java regex and RE2 agree char-for-char — a bare \s diverges on \x0B and
# misses NBSP/Unicode spaces entirely.
_DUCK_NORM = (
    f"lower(trim(regexp_replace(regexp_replace(t, '[^\\p{{L}}\\p{{N}}{WS_CLASS}]', '', 'g'),"
    f" '[{WS_CLASS}]+', ' ', 'g')))"
)

_NORM_DEDUP_SQL = f"""
WITH d AS (
  SELECT CASE
           WHEN doc_id % {_NORM_PLANT_A} = 0
             THEN 'Shared Passage, Number ' || CAST(doc_id % 5 AS VARCHAR) || '!'
           WHEN doc_id % {_NORM_PLANT_B} = 0
             THEN '  shared   passage number ' || CAST(doc_id % 5 AS VARCHAR) || ' '
           ELSE text
         END AS t
  FROM documents
)
SELECT count(*) AS n_docs,
       count(DISTINCT md5(t)) AS distinct_raw,
       count(DISTINCT md5({_DUCK_NORM})) AS distinct_norm,
       count(DISTINCT md5(t)) - count(DISTINCT md5({_DUCK_NORM})) AS norm_dup_lift
FROM d
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate-group representative selection: group by the
    NORMALIZED content hash (the C4/RefinedWeb canon — case/punctuation/
    whitespace variants collapse together) and keep the LONGEST variant
    (most original characters), not the first-seen — RefinedWeb's
    keep-the-most-content convention (arXiv:2306.01116 §3.3) instead of
    ``dedup_keep_first``'s lowest-id rule. Output per group: content hash,
    kept doc, copy count, kept length, the keep-first answer, and whether
    the two policies diverge (the number a pipeline reads to decide if
    policy choice matters on its corpus).

    Planted-content convention (same constants as ``norm_dedup_stats``):
    the fixture corpus has no cross-format variants, so the demo plants the
    same two variant families — punctuated Title-Case and whitespace-padded
    lowercase — identically in query and oracle; keep-best then picks the
    padded variant (longer) where keep-first picks whichever id came first.
    The selection logic itself never plants.

    Scale: one scan → one shuffle on the 128-bit content hash; both the
    argmax (row_number by length desc) and the group stats (count, min id)
    ride the SAME hash-partitioned window — no second shuffle. Same cost
    class as exact dedup; skew-free (hash keys)."""
    did = F.col("doc_id")
    k = (did % 5).cast("string")
    planted = (
        F.when(
            did % _NORM_PLANT_A == 0,
            F.concat(F.lit("Shared Passage, Number "), k, F.lit("!")),
        )
        .when(
            did % _NORM_PLANT_B == 0,
            F.concat(F.lit("  shared   passage number "), k, F.lit(" ")),
        )
        .otherwise(F.col("text"))
    )
    from ..operators.dedup import keep_best_by_hash

    d = spread(load_table(spark, sf_dir, "documents")).select("doc_id", planted.alias("t"))
    return keep_best_by_hash(
        d, "t", "doc_id", score=F.length("t")
    ).withColumnRenamed("kept_score", "kept_chars")


_KEEP_BEST_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % {_NORM_PLANT_A} = 0
             THEN 'Shared Passage, Number ' || CAST(doc_id % 5 AS VARCHAR) || '!'
           WHEN doc_id % {_NORM_PLANT_B} = 0
             THEN '  shared   passage number ' || CAST(doc_id % 5 AS VARCHAR) || ' '
           ELSE text
         END AS t
  FROM documents
),
g AS (
  SELECT md5({_DUCK_NORM}) AS content_hash, doc_id, length(t) AS len FROM d
),
ranked AS (
  SELECT content_hash, doc_id, len,
         row_number() OVER (PARTITION BY content_hash ORDER BY len DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY content_hash) AS n_copies,
         min(doc_id) OVER (PARTITION BY content_hash) AS first_id
  FROM g
)
SELECT content_hash, doc_id AS keep_id, n_copies, CAST(len AS INTEGER) AS kept_chars,
       first_id, doc_id <> first_id AS policy_diverges
FROM ranked WHERE rn = 1
"""


# --- domain-reputation filtering ---------------------------------------------

#: Static blocklist, the C4 §2.2 "bad domains" config — in production this is
#: a broadcast list/Bloom filter of URLs; the fixture corpus keys it on the
#: `source` column. Chosen from real fixture sources so the decision table
#: exercises both drop paths.
_DOMAIN_BLOCKLIST = ("src3", "src17")
#: Sources whose mean stopword density falls below this read as non-natural
#: text (keyword lists, code dumps, navigation boilerplate) — the
#: domain-level reputation rule RefinedWeb applies before any per-doc gate.
_DOMAIN_MIN_STOP_RATIO = 0.055


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level (URL-reputation) filtering — the step C4 (arXiv:
    1910.10683 §2.2) and RefinedWeb (arXiv:2306.01116 §3.1) run BEFORE any
    per-document gate: aggregate a cheap quality signal per domain, then
    drop whole domains by (a) a static blocklist and (b) a reputation rule
    (mean stopword density below :data:`_DOMAIN_MIN_STOP_RATIO` reads as
    non-natural text). One decision row per source: doc/char mass, the
    signal, which rule fired, and the verdict.

    Scale: ONE groupBy(source) whose payload is three scalars — domains are
    ~10⁷ at web scale, so the decision table is small and APPLYING it is a
    broadcast anti-join back to the corpus (`docs.join(broadcast(dropped),
    "source", "left_anti")`) — the corpus never shuffles. Giant-domain skew
    is absorbed by map-side partial aggregation (per-partition partials are
    O(distinct sources), commutative sums)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.avg(stopword_ratio("text")).alias("_sr"),
    )
    blocked = F.col("source").isin(*_DOMAIN_BLOCKLIST)
    low_quality = F.col("_sr") < _DOMAIN_MIN_STOP_RATIO
    return per_src.select(
        "source",
        "n_docs",
        "total_chars",
        F.round("_sr", 4).alias("avg_stop_ratio"),
        blocked.alias("blocked"),
        low_quality.alias("low_quality"),
        (~blocked & ~low_quality).alias("kept"),
    ).orderBy("source")


_DOMAIN_FILTER_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         avg(CAST(len(list_filter({_DUCK_TOKENS},
               x -> x IN ('the','a','an','and','or','of','to','is','in','it'))) AS DOUBLE)
             / greatest(len({_DUCK_TOKENS}), 1)) AS sr
  FROM documents GROUP BY source
)
SELECT source, n_docs, total_chars,
       round(sr, 4) AS avg_stop_ratio,
       source IN {_DOMAIN_BLOCKLIST!r} AS blocked,
       sr < {_DOMAIN_MIN_STOP_RATIO} AS low_quality,
       NOT (source IN {_DOMAIN_BLOCKLIST!r}) AND NOT (sr < {_DOMAIN_MIN_STOP_RATIO}) AS kept
FROM per_src ORDER BY source
"""


# --- temperature-scaled language mixture weights ------------------------------

_MIX_ALPHA = 0.7  # the multilingual exponential-smoothing exponent


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language — the multilingual
    mixture recipe (XLM-R, arXiv:1911.02116 §3.1: sample languages
    ∝ tokens^α with α≈0.7, which up-weights low-resource languages against
    raw frequency): per language, its token mass, raw share, smoothed
    share, and the implied epochs-per-corpus-pass
    (= smoothed/raw — how many times each language's data is seen when the
    total budget equals one corpus epoch).

    Scale: ONE groupBy(lang) token aggregation (payload: one long per
    language); the two global normalizers (Σ tokens, Σ tokens^α) come from
    a 1-row aggregate of that O(langs) table, joined back broadcast — no
    driver round-trip, no unpartitioned window."""
    d = spread(load_table(spark, sf_dir, "documents"))
    per_lang = d.groupBy("lang").agg(
        F.sum(token_count("text")).cast("bigint").alias("lang_tokens")
    )
    smoothed = F.pow(F.col("lang_tokens").cast("double"), F.lit(_MIX_ALPHA))
    # localCheckpoint the O(langs) table so the corpus token aggregation runs
    # ONCE — without it, both the totals branch and the final projection
    # re-execute the full scan+tokenize lineage (two corpus passes for one
    # aggregate). The checkpoint is a handful of rows; the RDD is GC'd with
    # the returned frame (same pattern as pack_sequences' offset table).
    per_lang = per_lang.withColumn("_sm", smoothed).localCheckpoint(eager=True)
    totals = per_lang.agg(
        F.sum("lang_tokens").cast("double").alias("_tot"),
        F.sum("_sm").alias("_sm_tot"),
    )
    return (
        per_lang.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "lang_tokens",
            F.round(F.col("lang_tokens") / F.col("_tot"), 4).alias("share_raw"),
            F.round(F.col("_sm") / F.col("_sm_tot"), 4).alias("share_temp"),
            F.round(
                (F.col("_sm") / F.col("_sm_tot")) / (F.col("lang_tokens") / F.col("_tot")),
                4,
            ).alias("implied_epochs"),
        )
        .orderBy("lang")
    )


_MIXTURE_WEIGHTS_SQL = f"""
WITH per_lang AS (
  SELECT lang, CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
),
sm AS (SELECT lang, lang_tokens, pow(CAST(lang_tokens AS DOUBLE), {_MIX_ALPHA}) AS s FROM per_lang),
tot AS (SELECT CAST(sum(lang_tokens) AS DOUBLE) AS t, sum(s) AS st FROM sm)
SELECT lang, lang_tokens,
       round(lang_tokens / t, 4) AS share_raw,
       round(s / st, 4) AS share_temp,
       round((s / st) / (lang_tokens / t), 4) AS implied_epochs
FROM sm CROSS JOIN tot ORDER BY lang
"""


# --- CCNet head/middle/tail banding ------------------------------------------

_N_BANDS = 3  # head (lowest NLL) / middle / tail — CCNet keeps the middle


def q_ccnet_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's final classification step (Wenzek et al. 2019 §4.3): split
    each language's documents into NLL terciles — head (common-word soup),
    middle (the band pipelines keep), tail (rare-token noise) — and report
    each band's size and NLL range. This is the operational consumer of
    ``unigram_logprob``: the band boundaries ARE the filter thresholds a
    production run would freeze and apply.

    Scale: scoring is the unigram fit+score plan (two scans, broadcast
    model); banding adds ONE window partitioned by language — rank state
    is O(1) per stratum and streams, so the added cost is the per-language
    sort of doc-level rows (already reduced: one row per doc, not per
    token). Banding orders by the ROUNDED score (4 decimals, the catalog
    convention) with a doc_id tie-break, so band assignment is
    deterministic and engine-independent — raw float ordering could let
    ~1e-15 cross-engine noise flip two adjacent docs across a tercile
    boundary."""
    from ..operators.lm import fit_unigram_lm, score_unigram_nll

    d = spread(load_table(spark, sf_dir, "documents"))
    model, total = fit_unigram_lm(d, "text", top_k=_VOCAB_TOP_K)
    scored = score_unigram_nll(d, model, total, "text", keys=("doc_id", "lang"))
    scored = scored.select("doc_id", "lang", F.round("nll", 4).alias("nll_r"))
    w = Window.partitionBy("lang").orderBy("nll_r", "doc_id")
    banded = scored.select("lang", "nll_r", F.ntile(_N_BANDS).over(w).alias("band"))
    return banded.groupBy("lang", "band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("nll_r").alias("band_lo"),
        F.max("nll_r").alias("band_hi"),
    )


_CCNET_BANDS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, tk FROM (
    SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
  ) WHERE len(tk) > 0
),
tok AS (SELECT doc_id, lang, unnest(tk) AS token FROM t),
counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
total AS (SELECT sum(c) AS s FROM counts),
vocab AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT {_VOCAB_TOP_K}),
model AS (SELECT token, -ln(c / s) AS nll_tok FROM vocab, total),
scored AS (
  SELECT doc_id, lang, round(avg(coalesce(nll_tok, ln(s))), 4) AS nll_r
  FROM tok LEFT JOIN model USING (token), total GROUP BY doc_id, lang
),
banded AS (
  SELECT lang, nll_r,
         ntile({_N_BANDS}) OVER (PARTITION BY lang ORDER BY nll_r, doc_id) AS band
  FROM scored
)
SELECT lang, CAST(band AS INTEGER) AS band,
       count(*) AS n_docs,
       min(nll_r) AS band_lo,
       max(nll_r) AS band_hi
FROM banded GROUP BY lang, band
"""


# --- doc-length bucketing ----------------------------------------------------

_LEN_BUCKET_W = 8  # tokens per bucket (fixture docs span 10–99 tokens)
_LEN_BUCKET_CAP = 12  # open-ended tail bucket


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (tokens, 50-wide buckets, capped tail):
    the batch-shaping table a packing/sharding planner reads to pick
    sequence length and packing block size. One narrow map + one
    O(buckets) aggregation — scan-speed at any corpus size. (Bucket width
    is 8 tokens because fixture docs span 10–99 tokens; a web corpus
    would use 512-wide buckets — same plan either way.)"""
    d = load_table(spark, sf_dir, "documents")
    tc = token_count("text")
    bucket = F.least(
        F.floor(tc / _LEN_BUCKET_W).cast("long"), F.lit(_LEN_BUCKET_CAP).cast("long")
    )
    return (
        d.select(bucket.alias("len_bucket"), tc.alias("tc"))
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tc").alias("total_tokens"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
        )
    )


_LENBUCKET_SQL = f"""
WITH t AS (SELECT len({_DUCK_TOKENS}) AS tc FROM documents)
SELECT least(CAST(floor(tc / {_LEN_BUCKET_W}) AS BIGINT), {_LEN_BUCKET_CAP}) AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(tc) AS BIGINT) AS total_tokens,
       round(avg(tc), 4) AS avg_tokens
FROM t GROUP BY len_bucket
"""


# --- incremental (snapshot) dedup --------------------------------------------

_BATCH_MOD = 3  # doc_id % 3 == 0 plays the role of the incoming crawl batch


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: an incoming crawl batch (here the
    ``doc_id % 3 == 0`` slice) is deduped against the HISTORICAL corpus
    snapshot's content-hash set, then within itself (keep-first). Per-source
    ingest report: batch size, docs already known to the snapshot,
    intra-batch duplicates, and docs actually ingested.

    Scale: the historical hash set at 100 TB is billions of rows — far too
    big to broadcast, so this is a shuffle join ON THE HASH (8–16 bytes per
    row, the cheapest possible key). The production refinement is a bloom
    filter built over the snapshot hashes and broadcast to prefilter the
    batch (Spark: ``df.stat.bloomFilter`` or a bloom-join rewrite), which
    turns the common all-novel case into a narrow map; the residual join
    then touches only probable hits. md5(text) stands in for xxhash64 so
    the oracle computes the identical hash.

    The fixture corpus has (almost) no exact duplicates at small SFs, so —
    same convention as ``pii_redact``'s planted payloads — docs with
    ``doc_id % 29 == 0`` are assigned one of 5 shared canonical hashes,
    deterministically on both engines, so the known/intra-batch-dup paths
    are exercised at every SF."""
    did = F.col("doc_id")
    h = F.when(
        did % 29 == 0,
        F.md5(F.concat(F.lit("planted-"), (did % 5).cast("string"))),
    ).otherwise(F.md5("text"))
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", h.alias("h")
    )
    hist = d.where(F.col("doc_id") % _BATCH_MOD != 0).select("h").distinct()
    batch = d.where(F.col("doc_id") % _BATCH_MOD == 0)
    w = Window.partitionBy("h").orderBy("doc_id")
    flagged = (
        batch.join(hist.withColumn("known", F.lit(1)), "h", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "source",
            # isNotNull, not ==1: the left join leaves NULL for novel docs
            # and NULL==1 is NULL, which would poison the sums below
            F.col("known").isNotNull().alias("is_known"),
            (F.col("known").isNull() & (F.col("rn") > 1)).alias("is_dup"),
        )
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.col("is_known").cast("long")).alias("n_known"),
        F.sum(F.col("is_dup").cast("long")).alias("n_batch_dup"),
        F.sum((~F.col("is_known") & ~F.col("is_dup")).cast("long")).alias("n_ingested"),
    )


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_dedup_incremental`'s ingest report computed through the
    production refinement its docstring promises: a Bloom bitset
    (``operators.bloom``) built over the snapshot hashes and broadcast to
    prefilter the batch. Identical output — the bloom admits false
    positives only and every bloom-positive row is re-checked by the exact
    hash join — so the SAME oracle pins it.

    Why this shape at 100 TB: the snapshot hash set is billions of rows —
    far too big to broadcast raw — so the exact twin shuffles the WHOLE
    batch against it. With the bitset broadcast (~1.25 B/key vs ~30 B/key
    for a HashedRelation), the common all-novel case becomes a narrow map:
    only bloom-positive rows (true re-crawls + ~1 % FPs) enter the
    hash-shuffle confirm join; bloom-negative rows are DEFINITELY novel
    (the exact direction of a Bloom filter) and skip the join entirely.
    Sizing uses one count on the snapshot side (at production scale the
    snapshot manifest already knows its row count). The bloom keys are
    ``xxhash64(h)`` (the bitset needs 64-bit keys); the confirm join stays
    on the md5 hash itself so the oracle replays bit-for-bit."""
    from ..operators.bloom import bloom_build, bloom_flag, next_pow2

    did = F.col("doc_id")
    h = F.when(
        did % 29 == 0,
        F.md5(F.concat(F.lit("planted-"), (did % 5).cast("string"))),
    ).otherwise(F.md5("text"))
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", h.alias("h")
    )
    hist = d.where(F.col("doc_id") % _BATCH_MOD != 0).select("h").distinct()
    hist = hist.persist()  # sizing count + bitset build + confirm join
    m_bits = next_pow2(max(1024, 10 * max(1, hist.count())))
    bloom = bloom_build(hist.select(F.xxhash64("h").alias("hh")), "hh", m_bits)

    batch = d.where(F.col("doc_id") % _BATCH_MOD == 0)
    b = bloom_flag(
        batch.withColumn("hh", F.xxhash64("h")), "hh", bloom, m_bits
    )
    maybe = b.where(F.col("__maybe")).join(
        hist.withColumn("known", F.lit(1)), "h", "left"
    )
    novel = b.where(~F.col("__maybe")).withColumn(
        "known", F.lit(None).cast("int")
    )
    uni = maybe.select("doc_id", "source", "h", "known").unionByName(
        novel.select("doc_id", "source", "h", "known")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    flagged = uni.withColumn("rn", F.row_number().over(w)).select(
        "source",
        F.col("known").isNotNull().alias("is_known"),
        (F.col("known").isNull() & (F.col("rn") > 1)).alias("is_dup"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.col("is_known").cast("long")).alias("n_known"),
        F.sum(F.col("is_dup").cast("long")).alias("n_batch_dup"),
        F.sum((~F.col("is_known") & ~F.col("is_dup")).cast("long")).alias("n_ingested"),
    )


_INCR_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 29 = 0
              THEN md5('planted-' || CAST(doc_id % 5 AS VARCHAR))
              ELSE md5(text) END AS h
  FROM documents
),
hist AS (SELECT DISTINCT h FROM d WHERE doc_id % {_BATCH_MOD} <> 0),
batch AS (SELECT * FROM d WHERE doc_id % {_BATCH_MOD} = 0),
flagged AS (
  SELECT b.source,
         (hist.h IS NOT NULL) AS is_known,
         (hist.h IS NULL
          AND row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) > 1) AS is_dup
  FROM batch b LEFT JOIN hist ON b.h = hist.h
)
SELECT source,
       count(*) AS n_batch,
       CAST(sum(CASE WHEN is_known THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup,
       CAST(sum(CASE WHEN NOT is_known AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ingested
FROM flagged GROUP BY source
"""


# --- vocabulary coverage curve -----------------------------------------------

# fixture vocab is ~31 types (synthetic word-salad), so the K grid spans it;
# a web corpus would use 2**10 .. 2**17 — the plan is identical
_COVERAGE_KS = (4, 8, 16, 24, 32)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab sizing table: for each candidate vocab size K, the
    fraction of all corpus token OCCURRENCES covered by the K most frequent
    token types (ties broken lexically so the ranking is deterministic
    cross-engine). The knee of this curve is where BPE vocab budgets come
    from.

    Scale: only the top ``max(K)`` types can ever matter to the numerator,
    so the type table is cut with ``orderBy(c.desc, token).limit(max(K))``
    — TakeOrderedAndProject, per-partition heaps, NO single-partition
    ranking stage over the vocab (at web scale |vocab| is ~1e8; the old
    global ``row_number`` window funneled all of it through one task). The
    denominator (all occurrences, tail included) is a separate scalar agg
    whose shuffle Spark dedupes via ReusedExchange. The residual
    ``row_number`` window runs over ≤ max(K) rows — bounded by the constant
    K grid, not by data size."""
    counts = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = counts.agg(F.sum("c").alias("total_c"))
    k_max = max(_COVERAGE_KS)
    top = counts.orderBy(F.col("c").desc(), F.col("token")).limit(k_max)
    w = Window.orderBy(F.col("c").desc(), F.col("token"))
    ranked = top.select("c", F.row_number().over(w).alias("rn"))
    ks = F.array(*[F.lit(k) for k in _COVERAGE_KS])
    return (
        ranked.crossJoin(F.broadcast(total))
        .select("c", "rn", "total_c", F.explode(ks).alias("k"))
        .groupBy("k")
        .agg(
            F.round(
                F.sum(F.when(F.col("rn") <= F.col("k"), F.col("c")).otherwise(0))
                / F.max("total_c"),
                4,
            ).alias("coverage"),
            F.max(F.when(F.col("rn") <= F.col("k"), F.col("rn")).otherwise(0)).alias(
                "types_used"
            ),
        )
    )


_COVERAGE_SQL = f"""
WITH counts AS (
  SELECT token, count(*) AS c
  FROM (SELECT unnest({_DUCK_TOKENS}) AS token FROM documents)
  GROUP BY token
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rn FROM counts
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k)
SELECT k,
       round(sum(CASE WHEN rn <= k THEN c ELSE 0 END) / sum(c), 4) AS coverage,
       CAST(max(CASE WHEN rn <= k THEN rn ELSE 0 END) AS BIGINT) AS types_used
FROM ranked, ks GROUP BY k
"""


# --- train/val split with leakage audit --------------------------------------

_VAL_PCT = 10  # md5-derived 10% validation split


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation split (content-independent: hash of
    doc_id, so re-crawls of the same page don't flip splits) plus the
    leakage audit every release needs: exact-content hashes that appear on
    BOTH sides of the split. One row per split with doc counts and the
    number of leaked docs (val docs whose content also occurs in train
    poison the eval).

    Scale: the split column is a narrow map; the audit is one groupBy on
    content hash (count distinct splits per hash) — same cost class as
    exact dedup. The fix for leaked hashes is split-by-CONTENT-hash
    instead, which this table lets you quantify before choosing.

    Fixture corpora have (almost) no exact duplicates, so the same 5
    planted shared-content groups as ``dedup_incremental`` (docs with
    ``doc_id % 29 == 0``) guarantee cross-split collisions to audit.

    Planted-content convention (same as ``pii_redact``): the synthetic
    collisions are planted INSIDE this query function, identically on the
    Spark and oracle sides, so parity exercises the detector end-to-end on
    fixtures that contain no real duplicates. The library operators in
    ``operators/`` never plant — a user calling them on real data runs
    pure detection; only this demo/oracle harness executes the planted
    branch."""
    did = F.col("doc_id")
    h = F.when(
        did % 29 == 0,
        F.md5(F.concat(F.lit("planted-"), (did % 5).cast("string"))),
    ).otherwise(F.md5("text"))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        h.alias("h"),
        F.when(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 100
            < _VAL_PCT,
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    sides = d.groupBy("h").agg(
        F.countDistinct("split").alias("n_splits"),
    )
    leaked = d.join(sides.where(F.col("n_splits") > 1).select("h"), "h", "left_semi")
    return (
        d.join(leaked.select("doc_id", F.lit(1).alias("lk")), "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("lk") == 1, 1).otherwise(0)).alias("n_leaked"),
        )
    )


_LEAKAGE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 29 = 0
              THEN md5('planted-' || CAST(doc_id % 5 AS VARCHAR))
              ELSE md5(text) END AS h,
         CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   < {_VAL_PCT}
              THEN 'val' ELSE 'train' END AS split
  FROM documents
),
sides AS (SELECT h, count(DISTINCT split) AS n_splits FROM d GROUP BY h),
leaked AS (
  SELECT doc_id FROM d WHERE h IN (SELECT h FROM sides WHERE n_splits > 1)
)
SELECT split,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM leaked) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leaked
FROM d GROUP BY split
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram novelty per source — how much of each
    source's 3-gram vocabulary did it INTRODUCE to the corpus (owner =
    the minimum doc_id containing the shingle) vs inherit from
    earlier-ingested documents? dup_ngram_ratio measures repetition
    INSIDE a document and dedup_* families find near-equal pairs; THIS
    is the corpus-marginal-value readout (a source whose shingles are
    all owned elsewhere adds volume, not coverage — the
    keep-or-drop-the-source question).

    Exactness: ownership is min(doc_id) — set arithmetic on unique ids,
    deterministic under any partitioning; counts exact BIGINT; the
    novelty share is ONE fixed-order division rounded 4 dp.

    Scale: docs fan out to DISTINCT in-doc shingles (array_distinct
    in-row, so a spammy doc cannot multiply its vote), then ONE
    map-side-combined groupBy(shingle) carrying (min struct, ≤|sources|
    collect_set) — the single corpus shuffle; the per-source rollup is
    |sources|-sized. The doc-count branch re-reads the dimension-cheap
    documents table once (scan budget 2)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens("text").alias("tk")
    )
    sh = d.where(F.size("tk") >= 3).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(_word_shingles(F.col("tk"), 3))).alias(
            "g"
        ),
    )
    per_g = sh.groupBy("g").agg(
        F.min(F.struct("doc_id", "source"))["source"].alias("owner_src"),
        F.collect_set("source").alias("srcs"),
    )
    per_src = (
        per_g.select("owner_src", F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("types_present"),
            F.sum((F.col("owner_src") == F.col("source")).cast("long"))
            .cast("bigint")
            .alias("types_owned"),
        )
    )
    ndocs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return per_src.join(F.broadcast(ndocs), "source").select(
        "source",
        "n_docs",
        "types_present",
        "types_owned",
        F.round(
            F.col("types_owned").cast("double")
            / F.col("types_present").cast("double"),
            4,
        ).alias("novelty_share"),
    )


_NGRAM_NOVELTY_SQL = f"""
WITH tk AS (SELECT doc_id, source, {_DUCK_TOKENS} AS t FROM documents),
sh AS (
  SELECT doc_id, source, unnest(list_distinct(
           [array_to_string(t[i:i+2], ' ')
            FOR i IN range(1, greatest(len(t) - 1, 1))]
         )) AS g
  FROM tk WHERE len(t) >= 3
), per_g AS (
  SELECT g,
         arg_min(source, doc_id) AS owner_src,
         list_distinct(list(source)) AS srcs
  FROM sh GROUP BY g
), per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS types_present,
         CAST(sum(CASE WHEN owner_src = source THEN 1 ELSE 0 END)
              AS BIGINT) AS types_owned
  FROM (SELECT owner_src, unnest(srcs) AS source FROM per_g) x
  GROUP BY 1
), nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
)
SELECT per_src.source, n_docs, types_present, types_owned,
       round(CAST(types_owned AS DOUBLE) / CAST(types_present AS DOUBLE), 4)
         AS novelty_share
FROM per_src JOIN nd ON per_src.source = nd.source
"""


_CDC_W = 4          # token window width for the boundary hash
_CDC_MASK = 64      # boundary when window hash % mask == 0 (~mask-token chunks)
_CDC_M = 2147483648  # 2^31 — keeps every fold product < 2^63


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking statistics — the LBFS/gear-hash family
    (Muthitacharoen et al. SOSP'01): chunk boundaries land where a rolling
    window hash of the content hits a mask, so an insertion early in a
    document shifts ONE chunk instead of re-aligning every fixed-size
    block — the property storage-level dedup and incremental corpus
    sync need. Per language: docs, tokens, boundary/chunk counts, mean
    chunk width.

    Hash is a PURE-ARITHMETIC double fold both engines share bit-for-bit
    (no xxhash64, unlike the rows-only rolling_fp): token value = char
    codepoint polynomial (base 31 mod 2^31 — Spark `ascii`/`split('')`
    ≡ DuckDB `unicode`/`string_split`), window value = base-1000003 fold
    of _CDC_W consecutive token values. This is the position-independent
    gear variant: no min/max chunk bounds (FastCDC's cut constraints
    need a sequential scan — documented trade), so every boundary is
    decidable locally and the whole computation is ONE NARROW MAP.

    Scale: zero explodes, zero window functions — token hashes, window
    hashes, and boundary counts are nested higher-order array ops inside
    whole-stage codegen (one row per DOC, not per token — the
    substring_dup window stream costs one row per position); one
    |langs|-group agg after."""
    d = load_table(spark, sf_dir, "documents")
    tok_hash = lambda t: F.aggregate(  # noqa: E731 — char-code polynomial
        F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda a, c: (a * 31 + c) % _CDC_M,
    )
    th = d.select(
        "lang",
        F.size(tokens("text")).alias("n"),
        F.transform(tokens("text"), tok_hash).alias("h"),
    )
    win = lambda i: F.aggregate(  # noqa: E731 — rolling window fold
        F.slice(F.col("h"), i, _CDC_W),
        F.lit(0).cast("long"),
        lambda a, b: (a * 1000003 + b) % _CDC_M,
    )
    wh = th.select(
        "lang",
        "n",
        F.when(
            F.col("n") >= _CDC_W,
            F.transform(F.sequence(F.lit(1), F.col("n") - _CDC_W + 1), win),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("whs"),
    )
    per_doc = wh.select(
        "lang",
        "n",
        F.size(F.filter("whs", lambda x: x % _CDC_MASK == 0)).alias("nb"),
    )
    chunks = F.when(F.col("n") == 0, F.lit(0)).otherwise(F.col("nb") + 1)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("n").cast("bigint").alias("tot_tokens"),
        F.sum("nb").cast("bigint").alias("tot_boundaries"),
        F.sum(chunks).cast("bigint").alias("tot_chunks"),
        F.round(
            F.sum("n").cast("double") / F.sum(chunks), 4
        ).alias("avg_chunk_tokens"),
    )


_CDC_SQL = r"""
WITH tk AS (
  SELECT lang,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')
           AS toks
  FROM documents
), th AS (
  SELECT lang, len(toks) AS n,
         [list_reduce([CAST(unicode(ch) AS BIGINT)
                       for ch in string_split(t, '')],
                      (a, c) -> (a * 31 + c) % 2147483648)
          for t in toks] AS h
  FROM tk
), wh AS (
  SELECT lang, n,
         CASE WHEN n >= 4 THEN
           [list_reduce(h[i : i + 3],
                        (a, b) -> (a * 1000003 + b) % 2147483648)
            for i in generate_series(1, n - 3)]
         ELSE [] END AS whs
  FROM th
), per_doc AS (
  SELECT lang, n,
         len(list_filter(whs, x -> x % 64 = 0)) AS nb
  FROM wh
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n) AS BIGINT) AS tot_tokens,
       CAST(sum(nb) AS BIGINT) AS tot_boundaries,
       CAST(sum(CASE WHEN n = 0 THEN 0 ELSE nb + 1 END) AS BIGINT)
         AS tot_chunks,
       round(CAST(sum(n) AS DOUBLE)
             / sum(CASE WHEN n = 0 THEN 0 ELSE nb + 1 END), 4)
         AS avg_chunk_tokens
FROM per_doc GROUP BY 1
"""


QUERIES = {
    "decontam_check": q_decontam_check,
    "cdc_chunks": q_cdc_chunks,
    "decontam_scrub": q_decontam_scrub,
    "decontam_bloom": q_decontam_bloom,
    "gopher_quality": q_gopher_quality,
    "pack_sequences": q_pack_sequences,
    "chunk_documents": q_chunk_documents,
    "pack_bfd": q_pack_bfd,
    "pack_multimodal": q_pack_multimodal,
    "mixture_sample": q_mixture_sample,
    "stratified_sample": q_stratified_sample,
    "weighted_sample": q_weighted_sample,
    "snapshot_diff": q_snapshot_diff,
    "dup_ngram_ratio": q_dup_ngram_ratio,
    "ngram_novelty": q_ngram_novelty,
    "repetition_stats": q_repetition_stats,
    "pii_redact": q_pii_redact,
    "passage_dedup": q_passage_dedup,
    "span_scrub": q_span_scrub,
    "substring_dup_stats": q_substring_dup_stats,
    "substring_scrub": q_substring_scrub,
    "substring_rebuild": q_substring_rebuild,
    "shard_corpus": q_shard_corpus,
    "unigram_logprob": q_unigram_logprob,
    "dsir_weights": q_dsir_weights,
    "bigram_logprob": q_bigram_logprob,
    "ccnet_bands": q_ccnet_bands,
    "norm_dedup_stats": q_norm_dedup_stats,
    "dedup_keep_best": q_dedup_keep_best,
    "domain_filter": q_domain_filter,
    "mixture_weights": q_mixture_weights,
    "length_buckets": q_length_buckets,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_bloom": q_dedup_incremental_bloom,
    "vocab_coverage": q_vocab_coverage,
    "split_leakage": q_split_leakage,
}

ORACLE = {
    "cdc_chunks": _CDC_SQL,
    "decontam_check": _DECONTAM_SQL,
    "decontam_scrub": _DECONTAM_SCRUB_SQL,
    "decontam_bloom": _DECONTAM_SQL,
    "gopher_quality": _GOPHER_SQL,
    "pack_sequences": _PACK_SQL,
    "chunk_documents": _CHUNK_SQL,
    "pack_multimodal": _PACK_MM_SQL,
    "mixture_sample": _MIXTURE_SQL,
    "stratified_sample": _STRATIFIED_SQL,
    "weighted_sample": _WEIGHTED_SAMPLE_SQL,
    "snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "dup_ngram_ratio": _DUP_NGRAM_SQL,
    "ngram_novelty": _NGRAM_NOVELTY_SQL,
    "repetition_stats": _REPETITION_SQL,
    "pii_redact": _PII_SQL,
    "passage_dedup": _PASSAGE_SQL,
    "span_scrub": _SPAN_SCRUB_SQL,
    "substring_dup_stats": _SUBSTRING_DUP_SQL,
    "substring_scrub": _SUBSTRING_SCRUB_SQL,
    "substring_rebuild": _SUBSTRING_REBUILD_SQL,
    "shard_corpus": _SHARD_SQL,
    "unigram_logprob": _UNIGRAM_SQL,
    "dsir_weights": _DSIR_SQL,
    "bigram_logprob": _BIGRAM_SQL,
    "ccnet_bands": _CCNET_BANDS_SQL,
    "norm_dedup_stats": _NORM_DEDUP_SQL,
    "dedup_keep_best": _KEEP_BEST_SQL,
    "domain_filter": _DOMAIN_FILTER_SQL,
    "mixture_weights": _MIXTURE_WEIGHTS_SQL,
    "length_buckets": _LENBUCKET_SQL,
    "dedup_incremental": _INCR_SQL,
    "dedup_incremental_bloom": _INCR_SQL,
    "vocab_coverage": _COVERAGE_SQL,
    "split_leakage": _LEAKAGE_SQL,
}
