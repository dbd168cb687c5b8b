"""Column-expression libraries — pure ``pyspark.sql.functions`` compositions
(JVM-side; no Python UDFs in this package), plus ``vectors.fold_dot``, the
numpy twin of the dot-product fold that the operators' Arrow kernels use.

These cover the dask.array vector surface (SURVEY.md §2.9) and the text
analysis extensions (§2.12) as reusable expressions.
"""

from .vectors import as_double, cosine_similarity, dot, l2_norm, l2_normalize
from .text import (
    avg_word_len,
    bpe_pre_tokens,
    bpe_token_count,
    doc_fingerprint,
    rolling_fingerprint,
    lang_scores,
    predict_lang,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
)

__all__ = [
    "as_double",
    "dot",
    "l2_norm",
    "l2_normalize",
    "cosine_similarity",
    "tokens",
    "token_count",
    "bpe_pre_tokens",
    "bpe_token_count",
    "rolling_fingerprint",
    "avg_word_len",
    "stopword_ratio",
    "punct_ratio",
    "doc_fingerprint",
    "lang_scores",
    "predict_lang",
]
