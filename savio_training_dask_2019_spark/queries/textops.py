"""Text-analysis + deduplication queries over ``documents`` (SURVEY.md §2.12,
dask.bag word-count surface §2.10).

Everything except the MinHash/SimHash tiers is hash-checked against a DuckDB
oracle that mirrors the tokenization exactly (trim → split on whitespace →
drop empties). The approximate tiers are rows-only by contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_PRETOKEN_RE,
    avg_word_len,
    bpe_token_count,
    doc_fingerprint,
    predict_lang,
    punct_ratio,
    rolling_fingerprint,
    stopword_ratio,
    token_count,
    tokens,
)
from ..operators.dedup import (
    connected_components,
    exact_dedup_stats,
    keep_first_by_hash,
    minhash_banded_pairs,
    ngram_jaccard_edges,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from ..partitioning import spread
from ..sources import load_table

# DuckDB twin of functions.text.tokens()
_DUCK_TOKENS = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (the dask groupby-over-text demo shape)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(token_count("text")), 4).alias("avg_tokens"),
    )


_TEXT_STATS_SQL = f"""
SELECT lang, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(len({_DUCK_TOKENS})), 4) AS avg_tokens
FROM documents GROUP BY lang
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, avg word length, stopword
    ratio, punctuation ratio — the standard LLM-corpus quality features,
    all JVM-side expressions (scan-speed at 100 TB)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(avg_word_len("text"), 4).alias("avg_word_len"),
        F.round(stopword_ratio("text"), 4).alias("stop_ratio"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
    )


_DOC_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKENS}) AS INTEGER) AS n_tokens,
       round(list_sum(list_transform({_DUCK_TOKENS}, x -> CAST(length(x) AS DOUBLE)))
             / len({_DUCK_TOKENS}), 4) AS avg_word_len,
       round(CAST(len(list_filter({_DUCK_TOKENS},
               x -> x IN ('the','a','an','and','or','of','to','is','in','it'))) AS DOUBLE)
             / greatest(len({_DUCK_TOKENS}), 1), 4) AS stop_ratio,
       round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 4) AS punct_ratio
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of marker-word hits with deterministic
    (score DESC, lang DESC) tie-break on both engines."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", predict_lang("text").alias("pred_lang"))


# Marker lists must stay in sync with functions.text.LANG_MARKERS.
_LANG_ID_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
scores AS (
  SELECT doc_id, 'en' AS lang, len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it'))) AS score FROM toks
  UNION ALL
  SELECT doc_id, 'fr', len(list_filter(t, x -> x IN ('le','la','et','les','des','est','un','une'))) FROM toks
  UNION ALL
  SELECT doc_id, 'de', len(list_filter(t, x -> x IN ('der','die','und','das','ist','ein','nicht','mit'))) FROM toks
  UNION ALL
  SELECT doc_id, 'es', len(list_filter(t, x -> x IN ('el','la','y','los','es','un','una','que'))) FROM toks
  UNION ALL
  SELECT doc_id, 'zh', len(list_filter(t, x -> x IN ('的','是','了','在','和','有','我','不'))) FROM toks
)
SELECT doc_id, lang AS pred_lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM scores
) WHERE rn = 1
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the EVAL layer of the text-analysis
    tier (retrieval has retrieval_eval, dedup has dedup_eval; this grades
    the `lang_id` predictor against the corpus's labeled ``lang``
    column): exact BIGINT count per (true, predicted) cell plus each
    cell's share of its true-language row — precision/recall read
    straight off the matrix, and an off-diagonal hot cell names the
    marker list that needs work.

    Exactness: the predictor is the SAME argmax-of-marker-hits
    expression lang_id oracle-checks (deterministic score DESC, lang
    DESC tie-break); cells are one exact groupBy; row_share is ONE
    fixed-order BIGINT division rounded 4 dp over a language-partitioned
    window whose input is the |langs|² cell table.

    Scale: one corpus scan feeding the tokenize+score fold (narrow), one
    |langs|²-group agg — the eval costs no more than the predictor."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select(F.col("lang").alias("true_lang"), predict_lang("text").alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"),
            4,
        ).alias("row_share"),
    )


# reuses lang_id's scores CTE verbatim (same marker lists, same tie-break)
_LANGID_CONFUSION_SQL = (
    _LANG_ID_SQL.rsplit("SELECT doc_id, lang AS pred_lang", 1)[0]
    + """, pred AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang DESC) AS rn
    FROM scores
  ) WHERE rn = 1
),
cells AS (
  SELECT d.lang AS true_lang, p.pred_lang,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n_docs,
       round(CAST(n_docs AS DOUBLE) /
             CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS DOUBLE),
             4) AS row_share
FROM cells
"""
)


_BM25_TERMS = ("hash", "join", "window")  # deterministic fixture query
_BM25_K1, _BM25_B = 1.2, 0.75  # the standard Okapi defaults


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (Robertson et al.; Lucene's non-negative IDF
    variant ln(1 + (N-df+0.5)/(df+0.5))): top-10 documents for a fixed
    query-term set — the lexical-retrieval surface a targeted
    data-selection pass (find corpus docs matching an eval/benchmark
    profile) or a dedup-forensics lookup runs at corpus scale.

    Scale: the term filter lands BEFORE the tf aggregation, so the
    exploded token stream collapses to query-term hits only (|terms| ≈
    10¹, the stream shrinks by ~vocab/|terms|); df and the (N, avgdl)
    corpus stats are O(|terms|) and O(1) aggregates joined back broadcast;
    doc lengths ride a separate narrow scan (no explode) joined on doc_id.
    Top-k is TakeOrdered. Scores round to 4 decimals with a doc_id
    tie-break, so the cut is engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(token_count("text")).alias("avgdl"),
    )
    # doc length rides the hit stream (constant per doc, part of the tf
    # key) so no separate corpus-sized lengths join is needed; the tf
    # table is checkpointed because BOTH the df branch and the scoring
    # branch consume it — without that, each re-executes the explode scan
    # (the scan-budget guard in test_plans.py exists for exactly this)
    base = d.select("doc_id", tokens("text").alias("tk"))
    hits = base.select(
        "doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = (
        hits.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(10)
    )


_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"

_BM25_SQL = f"""
WITH lengths AS (SELECT doc_id, len({_DUCK_TOKENS}) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lengths),
hits AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest({_DUCK_TOKENS}) AS t FROM documents
  ) WHERE t IN {_BM25_TERMS_SQL}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT doc_id, round(sum(
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * ({_BM25_K1} + 1))
         / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
       ), 4) AS bm25
FROM tf
JOIN dfreq USING (term)
JOIN lengths USING (doc_id)
CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 10
"""


_COLLOC_MIN_COUNT = 5  # PMI is unstable on rare pairs — the standard floor


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked collocations (Church & Hanks 1990; the word2vec-era
    phrase-detection preprocessing, Mikolov et al. 2013 arXiv:1310.4546
    §4): adjacent word pairs scored by pointwise mutual information
    ln(p(ab) / (p(a)·p(b))) with a min-count floor, top-20. High-PMI pairs
    are the multiword units ("new york") a phrasing pass would merge into
    single tokens before embedding training.

    Scale: bigram and unigram counts are each ONE token-stream aggregation
    with map-side combine (payloads collapse to vocab-/vocab²-sized
    tables); the two count joins are plain equi-joins on word keys that
    AQE broadcasts when the unigram table is small; the corpus totals join
    in as a broadcast 1-row aggregate. Top-k is TakeOrdered. Determinism:
    PMI rounds to 4 decimals on BOTH engines and the sort breaks ties on
    the pair strings, so the cut is engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(tokens("text").alias("tk")).where(F.size("tk") >= 2)
    bi = (
        tk.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    uni = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    # totals come from doc token COUNTS (one cheap narrow scan — no token
    # explode): Σ|doc| unigrams, Σ max(|doc|-1, 0) bigrams — identical to
    # summing the count tables, without re-executing their aggregations
    sizes = d.select(F.size(tokens("text")).alias("n"))
    totals = sizes.agg(
        F.sum("n").cast("double").alias("t_uni"),
        F.sum(F.greatest(F.col("n") - 1, F.lit(0))).cast("double").alias("t_bi"),
    )
    # the unigram table joins in twice (left and right word); checkpoint the
    # vocab-sized table so the token-stream aggregation runs once, not per
    # consumer (same pattern as mixture_weights' per-language table)
    uni = uni.localCheckpoint(eager=True)
    scored = (
        bi.filter(F.col("n_ab") >= _COLLOC_MIN_COUNT)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_b"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("t_bi"))
                    / ((F.col("n_a") / F.col("t_uni")) * (F.col("n_b") / F.col("t_uni")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


_COLLOCATIONS_SQL = f"""
WITH t AS (SELECT {_DUCK_TOKENS} AS tk FROM documents WHERE len({_DUCK_TOKENS}) >= 2),
bi AS (
  SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS n_ab FROM (
    SELECT unnest(list_transform(range(1, len(tk)),
                  i -> {{'w1': tk[i], 'w2': tk[i+1]}})) AS s
    FROM t
  ) GROUP BY 1, 2
),
uni AS (
  SELECT w, count(*) AS n_w FROM (
    SELECT unnest({_DUCK_TOKENS}) AS w FROM documents
  ) GROUP BY w
),
tot AS (
  SELECT (SELECT CAST(sum(n_w) AS DOUBLE) FROM uni) AS t_uni,
         (SELECT CAST(sum(n_ab) AS DOUBLE) FROM bi) AS t_bi
)
SELECT w1, w2, n_ab,
       -- + 0.0: PMI is a log-ratio, negative-capable — a knife-edge value
       -- must not round to -0.0 (r16 slot fix)
       round(ln((n_ab / t_bi) / ((a.n_w / t_uni) * (b.n_w / t_uni))), 4) + 0.0 AS pmi
FROM bi
JOIN uni a ON a.w = bi.w1
JOIN uni b ON b.w = bi.w2
CROSS JOIN tot
WHERE n_ab >= {_COLLOC_MIN_COUNT}
ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask.bag frequencies/topk: top-20 corpus words (explode → count)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(20)
    )


_WORDCOUNT_SQL = f"""
WITH w AS (SELECT unnest({_DUCK_TOKENS}) AS word FROM documents)
SELECT word, count(*) AS cnt FROM w GROUP BY word
ORDER BY cnt DESC, word LIMIT 20
"""


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup corpus summary (drop_duplicates surface)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_stats(d, "text")


_DEDUP_STATS_SQL = """
SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
       count(*) - count(DISTINCT text) AS n_redundant
FROM documents
"""


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per content hash."""
    d = load_table(spark, sf_dir, "documents")
    return keep_first_by_hash(d, "text", "doc_id")


_DEDUP_KEEP_FIRST_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-content matrix: for every source pair, how
    many distinct content hashes they BOTH carry, and that count as a
    fraction of the smaller source's distinct-hash inventory — the
    "which domains mirror each other" audit that decides which sources are
    redundant in the training mix (mirrors, syndication, scraped re-posts).

    Scale: one distinct on (hash, source) — corpus-sized but 8+16 bytes a
    row — then a self-join ON THE HASH whose per-key fanout is bounded by
    the number of SOURCES carrying that hash (never corpus rows: the
    distinct collapsed those), so worst case is C(sources, 2) pairs per
    boilerplate hash; per-source inventory sizes ride as a broadcast
    O(sources) table. Same planted-hash convention as
    ``dedup_incremental`` (docs with doc_id % 29 == 0 share 5 canonical
    hashes, deterministic on both engines) so cross-source overlap is
    exercised at every SF — the raw fixture corpus has almost no exact
    duplicates."""
    did = F.col("doc_id")
    h = F.when(
        did % 29 == 0,
        F.md5(F.concat(F.lit("planted-"), (did % 5).cast("string"))),
    ).otherwise(F.md5("text"))
    d = load_table(spark, sf_dir, "documents").select(
        h.alias("h"), "source"
    )
    # three consumers (both self-join sides + the inventory sizes) — the
    # checkpoint materializes the corpus-sized distinct ONCE (the bm25 tf
    # precedent; without it each branch re-runs the scan+distinct)
    u = d.distinct().localCheckpoint(eager=True)
    sizes = u.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = u.alias("a"), u.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = F.broadcast(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("n", "n_a"))
    sb = F.broadcast(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n", "n_b"))
    return (
        pairs.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6).alias(
                "overlap_frac"
            ),
        )
    )


_SOURCE_OVERLAP_SQL = """
WITH d AS (
  SELECT CASE WHEN doc_id % 29 = 0
              THEN md5('planted-' || CAST(doc_id % 5 AS VARCHAR))
              ELSE md5(text) END AS h,
         source
  FROM documents
),
u AS (SELECT DISTINCT h, source FROM d),
sizes AS (SELECT source, count(*) AS n FROM u GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM u a JOIN u b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.n_shared,
       round(CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap_frac
FROM pairs p
JOIN sizes sa ON p.src_a = sa.source
JOIN sizes sb ON p.src_b = sb.source
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint("text").alias("fp"))


_DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_DUCK_TOKENS})), ' ')) AS fp
FROM documents
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle inverted index."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)


# Mirrors the shingle inverted-index computation. DuckDB list slicing is
# 1-based inclusive: shingle i (1-based) = toks[i : i+2] for i in 1..len-2.
_NGRAM_JACCARD_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(len(t) - 1, 1))]
         )) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""


def q_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, top-3 terms per doc for doc_id < 5 (the classic
    keyword-extraction surface over the documents table).

    Document frequency aggregates over the WHOLE corpus (one groupBy(term)
    whose payload is one long per distinct term); per-doc TF is computed only
    for the output docs (filter pushed below the join). The corpus size joins
    in as a broadcast 1-row aggregate — no driver round-trip. Ties are
    impossible across engines: tfidf is equal only for equal integer (tf,
    df), and those ties break on the term string."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 5)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round("tfidf", 4).alias("tfidf"))
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


_DOC_TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term,
       round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
FROM tf JOIN dfreq USING (term) CROSS JOIN n
WHERE doc_id < 5
QUALIFY row_number() OVER (
  PARTITION BY doc_id
  ORDER BY tf * ln((n_docs + 1.0) / (df + 1.0)) DESC, term) <= 3
ORDER BY doc_id, tfidf DESC, term
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: the step a real dedup pipeline runs AFTER any
    pairwise tier — collapse near-dup pairs into connected components so one
    canonical doc survives per cluster. Edges here are the exact n-gram
    Jaccard pairs; cluster_id is the min reachable doc_id (min-label
    propagation, operators.dedup.connected_components). Oracle: DuckDB
    recursive CTE computing the same min-reachable id."""
    d = load_table(spark, sf_dir, "documents")
    with ngram_jaccard_edges(d, "text", "doc_id", n=3, threshold=0.5) as edges:
        cc = connected_components(edges)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id").orderBy("doc_id")


# shared CTE chain: exact n-gram Jaccard edges -> recursive min-reachable-id
# components; consumed by _DEDUP_CLUSTERS_SQL and _SURVIVORSHIP_SQL
_CLUSTER_CTES = f"""
WITH RECURSIVE
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(len(t) - 1, 1))]
         )) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM edges
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
)"""

_DEDUP_CLUSTERS_SQL = (
    _CLUSTER_CTES
    + "\nSELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"
    " ORDER BY doc_id\n"
)


def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction — the MDM survivorship step a real
    dedup pipeline runs AFTER ``dedup_clusters``: per near-dup cluster,
    elect the survivor document by the quality rule (longest n_chars,
    doc_id tie-break) and merge the cluster's evidence — member count,
    total chars, distinct-source count, and the survivor's language.
    dedup_keep_best answers "which rows survive"; this builds the merged
    record a master-data system actually stores.

    Exactness: the survivor election is ONE row_number over the total
    order (n_chars DESC, doc_id) — no arithmetic; all rollups are exact
    BIGINTs. The oracle replays the SAME recursive-CTE cluster chain as
    dedup_clusters (shared _CLUSTER_CTES), then the same election, so
    agreement checks the whole pairs→components→survivorship pipeline
    end to end.

    Scale: everything after the (already bucketed) pair tier is keyed by
    cluster_id — one groupBy + one window over cluster-sized partitions
    + one group-sized join. Cluster sizes are the skew axis; a
    boilerplate mega-cluster is exactly the hot key the AQE/salting
    notes on the dedup tier cover."""
    d = load_table(spark, sf_dir, "documents")
    with ngram_jaccard_edges(d, "text", "doc_id", n=3, threshold=0.5) as edges:
        cc = connected_components(edges)
    j = cc.select(F.col("id").alias("doc_id"), "cluster_id").join(
        d.select("doc_id", "lang", "source", "n_chars"), "doc_id"
    )
    rollup = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    surv = (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("lang").alias("survivor_lang"),
        )
    )
    return rollup.join(surv, "cluster_id")


_SURVIVORSHIP_SQL = (
    _CLUSTER_CTES
    + """,
cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
j AS (
  SELECT cc.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
  FROM cc JOIN documents d USING (doc_id)
),
rollup AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM j GROUP BY 1
),
surv AS (
  SELECT cluster_id, doc_id AS survivor_doc_id, lang AS survivor_lang
  FROM j
  QUALIFY row_number() OVER (PARTITION BY cluster_id
                             ORDER BY n_chars DESC, doc_id) = 1
)
SELECT cluster_id, n_members, total_chars, n_sources,
       survivor_doc_id, survivor_lang
FROM rollup JOIN surv USING (cluster_id)
"""
)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding near-dup candidates (approximate → rows-only check).

    Uses the hand-rolled shingle→minhash→band→bucket-join tier
    (operators.dedup.minhash_banded_pairs; 3.7× faster than the pyspark.ml
    MinHashLSH variant at sf0.1 with identical pairs found — the ml variant
    stays available and pytest-covered)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_banded_pairs(d, "text", "doc_id", n=3, max_jaccard_distance=0.6)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-band near-dup pairs (xxhash64 not available in the
    oracle → rows-only check; determinism is pytest-covered instead).

    max_hamming=3: within the 4×16-band pigeonhole radius, so the result is
    provably COMPLETE (every qualifying pair shares ≥1 exact band) — and an
    honest near-dup cutoff for this corpus, whose random template pairs
    center at hamming ≈12-14 (measured r3; the previous max_hamming=12 sat
    in the bulk of that distribution and returned a quadratic ~9 % of ALL
    pairs — 1.16M rows at sf0.1 — which is similarity search, not dedup)."""
    # r19: the r18 spread REMOVED — the driver run regressed it 0.71× and a
    # quiet-host A/B confirms (spread 1.59 s vs plain 1.11 s at 32 cores):
    # the signature fold here is cheap enough that the round-robin exchange
    # plus 32-task scheduling overhead exceeds the parallelism it buys
    # (VERDICT r18 #2; contrast knn_cells, where the same A/B keeps the
    # spread: 1.47 s spread vs 2.12 s plain).
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, "text", "doc_id", max_hamming=3)


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-token accounting: BPE-style pre-token counts per language (the
    regex tier of 'token counting: whitespace + a BPE-ish regex')."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(bpe_token_count("text")).cast("bigint").alias("total_bpe_tokens"),
        F.round(
            F.avg(bpe_token_count("text").cast("double") / F.greatest(token_count("text"), F.lit(1))),
            4,
        ).alias("bpe_per_word"),
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round of tokenizer training (Sennrich et al. 2016,
    arXiv:1508.07909 §3.2): corpus-frequency-weighted counts of adjacent
    character pairs inside words, top-30 merge candidates. The full trainer
    iterates this count→merge loop; round one is the corpus-scale step — each
    later round works the same aggregate shape over the re-segmented vocab.

    Scale: the pair explosion runs over the DISTINCT-WORD table (vocab-sized,
    ~Heaps' law √corpus, not corpus-sized) with each word's corpus count
    carried as a weight — the token stream collapses FIRST (map-side combine
    into the word groupBy), so the expensive per-position explode touches
    ~10⁶ vocab rows even at 100 TB. Two shuffles (word agg, pair agg), then
    TakeOrdered for the top-k. Deterministic tie-break on the pair string."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = wc.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(30)
    )


_BPE_MERGES_SQL = f"""
WITH w AS (SELECT unnest({_DUCK_TOKENS}) AS word FROM documents),
wc AS (SELECT word, count(*) AS wc FROM w GROUP BY word),
p AS (
  SELECT unnest(list_transform(range(1, length(word)), i -> word[i:i+1])) AS pair, wc
  FROM wc WHERE length(word) >= 2
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30
"""


_BPE_N_MERGES = 10


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training end-to-end (the full loop
    ``q_bpe_merges`` only runs round one of): learn the first
    ``_BPE_N_MERGES`` merges from the corpus word frequencies and return
    the merge table in application order — (step, left, right, merged,
    weight). Rows-only by contract: each round's transform depends on the
    previous round's data-dependent argmax, so no single SQL expression
    exists; the merge sequence is pinned by the differential pytest
    against a pure-Python trainer (tests/test_bpe.py). Corpus touched
    once; every round runs on the vocab-sized table — see operators/bpe.py.

    Driver-window wall-time bound (measured r8, sf0.01): the 10-round loop
    is ~2.3 s warm / ~10 s in a cold JVM — per-round cost is job-scheduling
    latency on a vocab-sized (31-row fixture) table, not data volume, so
    raising the fixture SF does not grow it. ``_BPE_N_MERGES`` is the
    catalog's bound; the differential pytest pins the full loop
    independently of this cap."""
    from ..operators.bpe import bpe_train, word_frequency_table

    d = load_table(spark, sf_dir, "documents")
    merges, _seg = bpe_train(word_frequency_table(d, "text"), n_merges=_BPE_N_MERGES)
    rows = [
        (i + 1, left, right, left + right, int(w))
        for i, (left, right, w) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, left string, right string, merged string, weight bigint"
    )


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — segment the corpus under the merges
    ``q_bpe_train_merges`` learns: per language, total words, total BPE
    pieces, and pieces-per-word (the compression-rate curve that drives
    vocab sizing). Rows-only by contract (the learned segmentation depends
    on the k data-dependent training rounds, so no SQL twin exists); the
    end-to-end train→apply path is differentially pinned against the
    pure-Python trainer+apply in tests/test_bpe.py. Scale: see
    operators/bpe.corpus_piece_stats — the corpus pre-aggregates to
    (lang, word) before meeting the broadcast vocab map."""
    from ..operators.bpe import bpe_train, corpus_piece_stats, word_frequency_table

    d = load_table(spark, sf_dir, "documents")
    _merges, seg = bpe_train(word_frequency_table(d, "text"), n_merges=_BPE_N_MERGES)
    return corpus_piece_stats(d, "text", "lang", seg)


# the pattern contains a single quote → doubled for the SQL string literal
_BPE_RE_SQL = BPE_PRETOKEN_RE.replace("'", "''")

_BPE_TOKEN_STATS_SQL = f"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_RE_SQL}'))) AS BIGINT) AS total_bpe_tokens,
       round(avg(CAST(len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS DOUBLE)
                 / greatest(len({_DUCK_TOKENS}), 1)), 4) AS bpe_per_word
FROM documents GROUP BY lang
"""


_ZIPF_TOP_K = 50


def q_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency curve of the corpus vocabulary: the top-50
    tokens by frequency with rank and log-log coordinates — the standard
    corpus-statistics diagnostic behind vocab sizing and data-quality
    sanity checks (natural text shows ln_freq ≈ -slope·ln_rank with slope
    near 1; boilerplate-heavy or synthetic corpora flatten or step).

    Scale: one token-count aggregation (map-side combine absorbs the Zipf
    head itself), a TakeOrdered top-K cut — never a global sort — and a
    ranking window over ≤ K rows (constant-bounded, the vocab_coverage
    pattern, allowlisted in the catalog window sweep)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.col("freq").desc(), F.col("tok")).limit(_ZIPF_TOP_K)
    w = Window.orderBy(F.col("freq").desc(), F.col("tok"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank",
        "tok",
        "freq",
        F.round(F.log(F.col("rank").cast("double")), 4).alias("ln_rank"),
        F.round(F.log(F.col("freq").cast("double")), 4).alias("ln_freq"),
    )


_ZIPF_SQL = f"""
WITH counts AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
  GROUP BY tok
),
top AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok) AS rank
  FROM counts ORDER BY freq DESC, tok LIMIT {_ZIPF_TOP_K}
)
SELECT rank, tok, freq,
       round(ln(CAST(rank AS DOUBLE)), 4) AS ln_rank,
       round(ln(CAST(freq AS DOUBLE)), 4) AS ln_freq
FROM top
"""


_WINNOW_K = 3  # tokens per k-gram key
_WINNOW_W = 4  # winnowing window: w consecutive k-gram keys


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    SIGMOD '03 — the MOSS local fingerprinting algorithm): slide a window
    of ``w`` consecutive k-gram keys over each document and select each
    window's minimum key; any substring match of length >= w + k - 1
    between two documents then shares at least one selected fingerprint,
    at expected density 2/(w+1) — the guarantee that makes fingerprint
    indexes sub-linear in corpus size.

    The total order is (key asc, position desc) — the paper's "rightmost
    minimum" robust-winnowing tie rule. Production would order by
    xxhash64(key) for uniform density; the catalog query orders by the
    k-gram STRING itself so the selection replays exactly in ANSI SQL
    (winnowing's correctness guarantee is order-agnostic; only selection
    density changes). Docs with fewer than w k-grams (< w + k - 1 tokens)
    are not fingerprintable and are excluded.

    Per language: fingerprintable docs, avg selected (key, pos) pairs per
    doc, avg distinct keys per doc, and corpus-wide distinct keys — the
    dedup-index size the fingerprints would occupy.

    Scale: shingling, window-min selection, and dedup are ALL narrow
    per-row array folds (the w-fold window expansion never leaves the
    row); the only shuffles are the O(langs) stats agg and the per-lang
    distinct-key agg (partial aggregation absorbs repeated keys). Nothing
    global, no windows, no driver loop."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select("doc_id", "lang", tokens("text").alias("tk"))
        .where(F.size("tk") >= _WINNOW_K + _WINNOW_W - 1)
        .select(
            "doc_id",
            "lang",
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (_WINNOW_K - 1)),
                lambda i: F.array_join(F.slice(F.col("tk"), i, _WINNOW_K), " "),
            ).alias("sh"),
        )
    )
    sel = F.transform(
        F.sequence(F.lit(1), F.size("sh") - (_WINNOW_W - 1)),
        lambda j: F.array_min(
            F.transform(
                F.sequence(j, j + (_WINNOW_W - 1)),
                lambda p: F.struct(
                    F.element_at(F.col("sh"), p).alias("key"), (-p).alias("negp")
                ),
            )
        ),
    )
    # dedup by POSITION, not by (key, pos) struct: each position carries
    # exactly one key, so the sets are identical — and position-dedup is the
    # form DuckDB can replay (list_distinct over structs is unimplemented
    # there; over BIGINT it is fine)
    doc = base.select(
        "lang",
        "sh",
        F.array_distinct(F.transform(sel, lambda s: s["negp"])).alias("pos"),
    ).select(
        "lang",
        F.size("pos").alias("n_sel"),
        F.transform(F.col("pos"), lambda np: F.element_at(F.col("sh"), -np)).alias(
            "keys"
        ),
    ).select(
        "lang",
        "n_sel",
        "keys",
        F.size(F.array_distinct(F.col("keys"))).alias("n_keys"),
    )
    stats = doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_sel"), 4).alias("avg_selected"),
        F.round(F.avg("n_keys"), 4).alias("avg_distinct"),
    )
    uniq = (
        doc.select("lang", F.explode("keys").alias("k"))
        .groupBy("lang")
        .agg(F.count_distinct(F.col("k")).alias("corpus_unique_keys"))
    )
    return stats.join(uniq, "lang")


_WINNOW_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         list_transform(range(1, len(tk) - {_WINNOW_K - 2}),
                        i -> array_to_string(tk[i:i + {_WINNOW_K - 1}], ' ')) AS sh
  FROM (SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents)
  WHERE len(tk) >= {_WINNOW_K + _WINNOW_W - 1}
),
sel AS (
  SELECT doc_id, lang, sh,
         list_distinct(list_transform(
           list_transform(range(1, len(sh) - {_WINNOW_W - 2}),
             j -> (list_sort(list_transform(range(j, j + {_WINNOW_W}),
                    p -> {{'key': sh[p], 'negp': -p}})))[1]),
           s -> s.negp)) AS pos
  FROM base
),
doc AS (
  SELECT lang, len(pos) AS n_sel,
         list_transform(pos, np -> sh[-np]) AS keys,
         len(list_distinct(list_transform(pos, np -> sh[-np]))) AS n_keys
  FROM sel
),
stats AS (
  SELECT lang, count(*) AS n_docs,
         round(avg(n_sel), 4) AS avg_selected,
         round(avg(n_keys), 4) AS avg_distinct
  FROM doc GROUP BY lang
),
uniq AS (
  SELECT lang, count(DISTINCT k) AS corpus_unique_keys
  FROM (SELECT lang, unnest(keys) AS k FROM doc)
  GROUP BY lang
)
SELECT s.lang, s.n_docs, s.avg_selected, s.avg_distinct, u.corpus_unique_keys
FROM stats s JOIN uniq u USING (lang)
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document token entropy (Shannon, natural log) per language:
    H(doc) = -Σ p(token) ln p(token) over the doc's OWN token distribution.
    Low entropy = repetitive boilerplate/keyword-stuffed spam; high entropy
    tracks lexical diversity — a standard cheap quality signal next to the
    Gopher repetition rules (it catches "same 5 tokens repeated 200 times",
    which bigram fractions under-weigh for long docs).

    Scale: entirely a narrow map — the per-token counts come from
    higher-order array functions over each doc's token array (no explode,
    no shuffle), then one O(langs) aggregation. Per-doc cost is
    O(distinct·len) comparisons, bounded by doc length — fine for
    document-sized arrays at any corpus size (a 100k-token outlier doc is
    ~1e10 naive steps, so production would pre-truncate giant docs or
    switch that tail to a sort-based count; the fixture max is ~100
    tokens). The oracle mirrors the arithmetic with DuckDB list lambdas;
    per-doc sums iterate first-occurrence order on both engines, and the
    per-language aggregates round to 4 decimals, far above cross-engine
    float-sum noise."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", tokens("text").alias("tk"))
        .where(F.size("tk") > 0)
    )
    n = F.size("tk").cast("double")
    probs = F.transform(
        F.array_distinct("tk"),
        lambda x: F.size(F.filter("tk", lambda y: y == x)).cast("double") / n,
    )
    ent = F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc - p * F.log(p)
    )
    return (
        d.select("lang", ent.alias("ent"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ent"), 4).alias("avg_entropy"),
            F.round(F.min("ent"), 4).alias("min_entropy"),
            F.round(F.max("ent"), 4).alias("max_entropy"),
        )
    )


_TOKEN_ENTROPY_SQL = f"""
WITH t AS (
  SELECT lang, tk FROM (SELECT lang, {_DUCK_TOKENS} AS tk FROM documents)
  WHERE len(tk) > 0
),
e AS (
  SELECT lang,
         list_sum(list_transform(list_distinct(tk),
           x -> -(CAST(len(list_filter(tk, y -> y = x)) AS DOUBLE) / len(tk))
                * ln(CAST(len(list_filter(tk, y -> y = x)) AS DOUBLE) / len(tk))
         )) AS ent
  FROM t
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(ent), 4) AS avg_entropy,
       round(min(ent), 4) AS min_entropy,
       round(max(ent), 4) AS max_entropy
FROM e GROUP BY lang
"""


def q_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per doc (rows-only: the
    polynomial fold uses Spark's xxhash64, which no SQL oracle shares;
    order-sensitivity and determinism are pytest-pinned)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint("text").alias("rfp"))


_HH_K = 32  # Misra-Gries summary size per partition
_HH_TOP = 20


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top tokens via per-partition Misra-Gries(k) summaries
    merged associatively (Agarwal et al. 2012, "Mergeable Summaries") —
    the frequency member of the sketch family (HLL cardinality, KLL
    quantiles). The token stream NEVER shuffles: each partition reduces to
    <= k counters in one Arrow-batched pass, and only the O(parts·k)
    summary rows move; the returned estimates carry the deterministic
    contract est <= true <= est + err_bound (pinned with exact counts in
    tests/test_sketches.py). Rows-only by contract: the per-item estimate
    depends on partition boundaries, like every mergeable sketch here."""
    from ..operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return heavy_hitters(toks, "tok", k=_HH_K, top=_HH_TOP)


_HD_K = 16  # < 20 fixture sources, so the sketch genuinely prunes
_HD_TOP = 10


def q_heavy_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED heavy hitters: top sources (domains) by total TOKEN MASS —
    the realer 100 TB question than occurrence counts ("which domains
    dominate the training mix by tokens contributed"), answered with the
    weighted Misra-Gries of the mergeable-summaries paper (Agarwal et al.
    2012): the prune subtracts the (k+1)-th largest weighted mass, the
    contract est <= true_weight <= est + err_bound is unchanged (pinned
    against exact per-source token totals in tests/test_sketches.py).

    Scale: the document stream NEVER shuffles — each partition reduces to
    <= k (source, mass) counters in one Arrow-batched pass (token counting
    stays a JVM-side ``size(split(...))``, no explode: one row per doc
    enters the sketch, not one per token); only O(parts·k) summary rows
    move. Rows-only by contract: estimates depend on partition boundaries,
    like every mergeable sketch here."""
    from ..operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    weighted = d.select(
        "source", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    return heavy_hitters(
        weighted, "source", k=_HD_K, top=_HD_TOP, weight_col="n_tok"
    )


_DE_THRESH = 0.5


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation — the metrics loop that grades the
    APPROXIMATE near-dup tier against exact ground truth, exactly as
    `retrieval_eval` grades the ANN tiers: exact n-gram Jaccard pairs at
    threshold {t} are the truth set, MinHash banded candidates at the
    same similarity cutoff are the prediction, and the output is one row
    of (n_true, n_pred, n_hit, precision, recall, f1). This is the
    number a pipeline owner reads before trusting MinHash at 100 TB —
    run on a sample there; exact truth is affordable at evaluation
    scale BY DESIGN (the approximate tier exists so only the evaluation
    pays the exact cost).

    Plan: both pair sets flow into ONE hash full-outer join on (id_a,
    id_b) + a single-row agg — neither set is collected or re-computed.
    Rows-only by contract: the MinHash side is hash-seeded (like every
    sketch tier); the metric arithmetic is pinned in pytest against
    independently recomputed pair sets."""
    d = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=_DE_THRESH
    ).select("id_a", "id_b", F.lit(1).alias("in_t"))
    pred = minhash_banded_pairs(
        d, "text", "doc_id", n=3, max_jaccard_distance=1.0 - _DE_THRESH
    ).select("id_a", "id_b", F.lit(1).alias("in_p"))
    j = truth.join(pred, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum("in_t").cast("bigint").alias("n_true"),
        F.sum("in_p").cast("bigint").alias("n_pred"),
        F.sum(F.col("in_t") * F.col("in_p")).cast("bigint").alias("n_hit"),
    ).select(
        "n_true",
        "n_pred",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_pred"), 4).alias("precision"),
        F.round(F.col("n_hit") / F.col("n_true"), 4).alias("recall"),
        F.round(
            2.0 * F.col("n_hit") / (F.col("n_true") + F.col("n_pred")), 4
        ).alias("f1"),
    )


q_dedup_eval.__doc__ = q_dedup_eval.__doc__.format(t=_DE_THRESH)

_GMS_HASHES, _GMS_BANDS = 64, 32  # r=2: ~full recall at J>=0.5, 1/64 est grain


def q_grouped_minhash_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE MinHash estimate accuracy — the companion readout to
    `dedup_eval` (that grades retrieval P/R/F1 of the banded tier; THIS
    grades the ESTIMATE itself): for every banded candidate pair, the
    signature-agreement Jaccard estimate is compared against the exact
    3-shingle Jaccard, aggregated per language — the per-corpus-slice
    calibration check a multilingual pipeline runs before trusting one
    global MinHash threshold across languages with different shingle
    statistics (the grouped member beside group_kll_quantiles /
    heavy_tokens_by_lang / group_cms_counts).

    Rows-only by contract (the estimate is hash-seeded, like every
    sketch tier); accuracy is pytest-pinned instead: a planted identical
    pair estimates exactly 1.0 (all signature rows agree), and the
    {h}-hash estimate of a planted half-overlap pair lands within the
    binomial noise band.

    Scale: candidates come from the banded tier (never all pairs); the
    exact side reuses the inverted-index machinery at eval scope —
    affordable BY DESIGN at evaluation scale (the dedup_eval posture);
    one (id_a, id_b) hash join ties them, one lang join + groupBy
    summarizes."""
    d = load_table(spark, sf_dir, "documents")
    cand = minhash_banded_pairs(
        d,
        "text",
        "doc_id",
        n=3,
        num_hashes=_GMS_HASHES,
        bands=_GMS_BANDS,
        max_jaccard_distance=1.0,
    )
    exact = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.0).select(
        "id_a", "id_b", F.col("jaccard").alias("exact_j")
    )
    langs = d.select(F.col("doc_id").alias("id_a"), "lang")
    err = F.abs((1.0 - F.col("jaccard_dist")) - F.col("exact_j"))
    j = (
        cand.join(exact, ["id_a", "id_b"], "left")
        .join(langs, "id_a")
        .select("lang", F.coalesce("exact_j", F.lit(0.0)).alias("exact_j"),
                "jaccard_dist")
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg(err), 4).alias("mean_abs_err"),
        F.round(F.max(err), 4).alias("max_abs_err"),
    )


q_grouped_minhash_sim.__doc__ = q_grouped_minhash_sim.__doc__.format(
    h=_GMS_HASHES
)

_HL_K, _HL_TOP = 32, 5


def q_heavy_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP heavy hitters: each language's top-{top} tokens via the
    grouped Misra-Gries tier (operators/sketches.py:
    grouped_heavy_hitters) — the per-language vocabulary-drift /
    stopword-audit question a multilingual corpus pipeline asks, answered
    without a vocabulary-wide shuffle per language. Per-group contract
    (pinned in tests/test_sketches.py): within lang g,
    est <= true <= est + err_bound(g), and anything with
    true > err_bound(g) survives.

    Scale: one Arrow-batched pass reduces each partition to <= k counters
    PER LANGUAGE SEEN (langs here are a handful; for high-cardinality
    groups pre-partition on the group — the operator docstring's memory
    note); only O(parts·langs·k) summary rows shuffle, then a
    lang-partitioned ranking window cuts the top. Rows-only by contract:
    estimates depend on partition boundaries, like every MG sketch here.
    """
    from ..operators.sketches import grouped_heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens("text")).alias("tok"))
    out = grouped_heavy_hitters(
        toks, "lang", "tok", k=_HL_K, top=_HL_TOP
    )
    return out.select(
        F.col("g").alias("lang"), F.col("item").alias("tok"),
        "est_count", "err_bound",
    )


q_heavy_tokens_by_lang.__doc__ = q_heavy_tokens_by_lang.__doc__.format(
    top=_HL_TOP
)

_CMS_W = 4096  # counters per hash row
_CMS_D = 4     # independent hash rows


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for the top-20 tokens, next to
    their exact counts — the fourth mergeable sketch (Cormode &
    Muthukrishnan 2005; HLL = distinct, KLL = quantiles, Misra-Gries =
    heavy items, CMS = how-often-is-THIS-item over an unbounded key space
    in O(depth·width) memory).

    Scale: the token stream never shuffles for the SKETCH — one narrow
    Arrow-batched pass per partition, an O(depth·width) merge, and the
    folded table rides a 1-row broadcast onto the probes. The EXACT branch
    (full groupBy + TakeOrdered) exists only as the demo's measuring
    stick; production asks the table alone. Rows-only by contract: the
    estimates come from keyed siphash rows no SQL engine shares — but they
    are PARTITION-INDEPENDENT (elementwise-sum merge; pinned in
    tests/test_sketches.py) with the overcount-only guarantee
    est >= true, est <= true + 2N/width w.p. 1-2^-depth."""
    from ..operators.sketches import cms_estimates, count_min_table

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    tab = count_min_table(toks, "tok", width=_CMS_W, depth=_CMS_D)
    true_top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("tok").asc())
        .limit(20)
    )
    return (
        cms_estimates(tab, true_top, "tok")
        .select("tok", "true_count", "est_count")
        .orderBy(F.col("true_count").desc(), F.col("tok").asc())
    )


def q_group_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP Count-Min point frequencies: each language's top-5 tokens
    (exact counts as the measuring stick) probed against that language's
    own CMS table — the grouped tier of the CMS family (VERDICT r11 #6),
    completing the grouped sketch set: grouped MG (heavy_tokens_by_lang),
    grouped KLL (group_kll_quantiles), and now grouped CMS. The question
    it answers at 100 TB: "how often does THIS token occur in THIS
    language's slice" for any token, in O(langs·depth·width) memory,
    without a per-language vocabulary shuffle.

    Scale: the token stream never shuffles for the sketch — one narrow
    Arrow-batched pass reduces each partition to a depth×width table per
    language seen; O(parts·langs·depth) summary rows merge elementwise;
    the folded per-language model rides an AQE-broadcast equi-join onto
    the probes. The exact branch exists only as the demo's measuring
    stick. Rows-only by contract (keyed siphash no SQL engine shares) —
    but each group's table is PARTITION-INDEPENDENT and bit-identical to
    the ungrouped table of the group-filtered stream (pinned in
    tests/test_sketches.py), with the per-group overcount-only guarantee
    est >= true, est <= true + 2·N_g/width w.p. 1-2^-depth."""
    from ..operators.sketches import grouped_cms_estimates, grouped_count_min_table

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens("text")).alias("tok"))
    tab = grouped_count_min_table(
        toks, "lang", "tok", width=_CMS_W, depth=_CMS_D
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("true_count").desc(), F.col("tok").asc()
    )
    true_top = (
        toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
        .drop("__rn")
    )
    return (
        grouped_cms_estimates(tab, true_top, "lang", "tok")
        .select("lang", "tok", "true_count", "est_count")
        .orderBy("lang", F.col("true_count").desc(), "tok")
    )


_HEAPS_BUCKET = 50  # docs per curve point


def q_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — zipf_curve's companion
    diagnostic (Zipf: frequency vs rank; Heaps: distinct types vs corpus
    consumed): how many NEW 3-gram shingle types each 50-doc slice of
    the corpus introduces, plus the cumulative vocabulary. The corpus-
    prep question it answers: is the vocabulary saturating (dedup/
    near-dup corpus) or still growing (fresh data is adding signal)?

    Mechanics: a type's first appearance is ``min(doc_id)`` over the
    shingle index — ONE groupBy per type, no ordered scan of the corpus;
    the cumulative sum runs over the ≤ ``ceil(ids/50)``-row bucket
    table (the zipf_curve bounded-window convention). All counts exact
    BIGINT; nothing rounded.

    Scale: the shingle explode + type groupBy is the ngram_jaccard
    index shuffle; everything after is bucket-table-sized."""
    from ..operators.dedup import word_shingles

    d = spread(load_table(spark, sf_dir, "documents"))
    sh = word_shingles(d, "text", "doc_id", n=3)
    first = sh.groupBy("shingle").agg(F.min("id").alias("fd"))
    b = (
        first.select(
            F.expr(f"fd div {_HEAPS_BUCKET}").cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return b.select(
        "bucket",
        "new_types",
        F.sum("new_types").over(w).cast("bigint").alias("vocab_cum"),
    )


_HEAPS_SQL = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(t[i:i+2], ' ')
            FOR i IN range(1, greatest(len(t) - 1, 1))]
         )) AS shingle
  FROM toks
),
first AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY shingle),
b AS (
  SELECT CAST(fd // {_HEAPS_BUCKET} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS new_types
  FROM first GROUP BY 1
)
SELECT bucket, new_types,
       CAST(sum(new_types) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS vocab_cum
FROM b
"""


def q_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's token distribution
    against the REST of the corpus — the mixture diagnostic a pretraining
    pipeline reads before setting source weights (mixture_weights says
    how much of each source you HAVE; THIS says how linguistically far
    each source sits from everything else, in bits ∈ [0, 1] — near 0:
    redundant with the rest, near 1: disjoint vocabulary).

    The closed-form trick that keeps it one-sided: P's support lives
    entirely on the source's own (source, token) rows, and every token
    the source LACKS contributes exactly q·log2(2) = q to KL(Q‖M), so
    Σ over missing tokens = 1 − Σ_{t∈s} q — no anti-join against the
    full vocabulary is ever built. All counts are exact BIGINTs; p, q,
    m are integer-ratio IEEE divisions identical in both engines; the
    two KL sums are rounded 4 dp. A single-source corpus has no "rest"
    (T_rest = 0): jsd is NULL, not a throw.

    Scale: explode → ONE map-side-combined (source, token) groupBy (the
    corpus shuffle); the token-marginal and source-total windows run
    over the vocab×sources-sized count table; the corpus total is the
    one-row scalar fold (documented BNLJ attach). Nothing after the
    first shuffle scales with corpus size."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = st.agg(F.sum("c").cast("bigint").alias("tt"))
    wtok = Window.partitionBy("token")
    wsrc = Window.partitionBy("source")
    rows = st.withColumn(
        "ctok", F.sum("c").over(wtok).cast("bigint")
    ).withColumn("ts", F.sum("c").over(wsrc).cast("bigint")).crossJoin(
        F.broadcast(tot)
    )
    p = F.col("c").cast("double") / F.col("ts").cast("double")
    crest = F.col("ctok") - F.col("c")
    trest = F.col("tt") - F.col("ts")
    q = crest.cast("double") / trest.cast("double")
    m = (p + q) / 2
    terms = rows.select(
        "source",
        "ts",
        trest.alias("trest"),
        F.when(trest > 0, p * F.log2(p / m))
        .otherwise(F.lit(0.0))
        .alias("pterm"),
        F.when((trest > 0) & (crest > 0), q * F.log2(q / m))
        .otherwise(F.lit(0.0))
        .alias("qterm"),
        F.when(trest > 0, q).otherwise(F.lit(0.0)).alias("q"),
    )
    return terms.groupBy("source").agg(
        F.max("ts").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.when(F.max("trest") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                0.5 * F.sum("pterm")
                + 0.5 * (F.sum("qterm") + 1.0 - F.sum("q")),
                4,
            )
        )
        .alias("jsd_bits"),
    )


_JSD_SQL = f"""
WITH st AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({_DUCK_TOKENS}) AS token FROM documents) t
  GROUP BY 1, 2
), tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM st),
rows_ AS (
  SELECT source, c,
         CAST(sum(c) OVER (PARTITION BY token) AS BIGINT) AS ctok,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ts,
         tt
  FROM st CROSS JOIN tot
), terms AS (
  SELECT source, ts, tt - ts AS trest,
         CASE WHEN tt - ts > 0 THEN
           (CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
           * log2((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
                  / (((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
                      + (CAST(ctok - c AS DOUBLE)
                         / CAST(tt - ts AS DOUBLE))) / 2))
         ELSE 0.0 END AS pterm,
         CASE WHEN tt - ts > 0 AND ctok - c > 0 THEN
           (CAST(ctok - c AS DOUBLE) / CAST(tt - ts AS DOUBLE))
           * log2((CAST(ctok - c AS DOUBLE) / CAST(tt - ts AS DOUBLE))
                  / (((CAST(c AS DOUBLE) / CAST(ts AS DOUBLE))
                      + (CAST(ctok - c AS DOUBLE)
                         / CAST(tt - ts AS DOUBLE))) / 2))
         ELSE 0.0 END AS qterm,
         CASE WHEN tt - ts > 0 THEN
           CAST(ctok - c AS DOUBLE) / CAST(tt - ts AS DOUBLE)
         ELSE 0.0 END AS q
  FROM rows_
)
SELECT source,
       CAST(max(ts) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CASE WHEN max(trest) = 0 THEN NULL ELSE
         round(0.5 * sum(pterm) + 0.5 * (sum(qterm) + 1.0 - sum(q)), 4)
       END AS jsd_bits
FROM terms GROUP BY 1
"""


QUERIES = {
    "text_stats": q_text_stats,
    "bpe_token_stats": q_bpe_token_stats,
    "bpe_merges": q_bpe_merges,
    "bpe_train_merges": q_bpe_train_merges,
    "bpe_apply": q_bpe_apply,
    "token_entropy": q_token_entropy,
    "rolling_fp": q_rolling_fp,
    "doc_quality": q_doc_quality,
    "lang_id": q_lang_id,
    "langid_confusion": q_langid_confusion,
    "bm25_search": q_bm25_search,
    "collocations": q_collocations,
    "wordcount": q_wordcount,
    "jsd_sources": q_jsd_sources,
    "zipf_curve": q_zipf_curve,
    "heaps_curve": q_heaps_curve,
    "winnow_fp": q_winnow_fp,
    "heavy_hitters": q_heavy_hitters,
    "heavy_domains": q_heavy_domains,
    "heavy_tokens_by_lang": q_heavy_tokens_by_lang,
    "dedup_eval": q_dedup_eval,
    "grouped_minhash_sim": q_grouped_minhash_sim,
    "cms_counts": q_cms_counts,
    "group_cms_counts": q_group_cms_counts,
    "dedup_stats": q_dedup_stats,
    "source_overlap": q_source_overlap,
    "dedup_keep_first": q_dedup_keep_first,
    "doc_fingerprint": q_doc_fingerprint,
    "ngram_jaccard": q_ngram_jaccard,
    "doc_tfidf": q_doc_tfidf,
    "dedup_clusters": q_dedup_clusters,
    "dedup_survivorship": q_dedup_survivorship,
    "minhash_pairs": q_minhash_pairs,
    "simhash_pairs": q_simhash_pairs,
}

ORACLE = {
    "text_stats": _TEXT_STATS_SQL,
    "bpe_token_stats": _BPE_TOKEN_STATS_SQL,
    "bpe_merges": _BPE_MERGES_SQL,
    "token_entropy": _TOKEN_ENTROPY_SQL,
    # rolling_fp: rows-only (engine-specific hash)
    "doc_quality": _DOC_QUALITY_SQL,
    "lang_id": _LANG_ID_SQL,
    "langid_confusion": _LANGID_CONFUSION_SQL,
    "bm25_search": _BM25_SQL,
    "collocations": _COLLOCATIONS_SQL,
    "wordcount": _WORDCOUNT_SQL,
    "jsd_sources": _JSD_SQL,
    "zipf_curve": _ZIPF_SQL,
    "heaps_curve": _HEAPS_SQL,
    "winnow_fp": _WINNOW_SQL,
    "dedup_stats": _DEDUP_STATS_SQL,
    "source_overlap": _SOURCE_OVERLAP_SQL,
    "dedup_keep_first": _DEDUP_KEEP_FIRST_SQL,
    "doc_fingerprint": _DOC_FINGERPRINT_SQL,
    "ngram_jaccard": _NGRAM_JACCARD_SQL,
    "doc_tfidf": _DOC_TFIDF_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "dedup_survivorship": _SURVIVORSHIP_SQL,
    # minhash_pairs / simhash_pairs: intentionally no oracle (approximate /
    # engine-specific hash) → driver records rows-only checks.
}
