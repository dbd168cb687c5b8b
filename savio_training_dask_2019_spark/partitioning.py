"""Exchange shaping: the only place the engine chooses a partition count by
hand. Every other exchange is left to AQE's bytes-based coalescing. There
are two shapes where bytes are the wrong signal:

- **Single-row-group scans** (``spread``). Parquet splits a file at
  row-group granularity, so a small single-row-group file scans as ONE
  task whatever ``spark.sql.files.minPartitionNum`` asks for, and an
  expression-heavy narrow pipeline over it (n-gram shingling, per-token
  scoring, substring generation, per-row cosines) runs single-threaded:
  measured at sf0.1, decontam_check 7.3 s -> 0.6 s, emb_near_dup's
  pairwise scoring 45 s on one task, fuzzy_join's block join + verify
  12.5 s on 2 tasks. Narrow transforms after the spread keep it. At
  corpus scale the scan already has at least ``defaultParallelism``
  partitions and the spread is a no-op decision.
- **The AQE-invisible fan-out** (``pin_fanout``). A tiny exchange of keys
  or id pairs whose read-side stage runs a join fan-out plus a per-pair
  verify (PassJoin's block join, LSH candidate verify, per-customer pair
  generation): the shuffle carries a few MB, but the stage reading it does
  the query's dominant compute. AQE sees only the bytes and coalesces it
  to 1-3 tasks (fuzzy_join ran 16.9 s that way). Pinning the exchange at
  ``shuffle_width`` sizes it with the deployment, the knob a cluster
  operator already tunes, instead of with fixture bytes. When the pin is
  keyed on the following aggregate's keys, the aggregate reuses the
  exchange, so the pin replaces a shuffle rather than adding one.

Both rules are scoped to the operators that need them. r18 tried a global
floor instead (``coalescePartitions.minPartitionSize=64k``): it multiplied
the task count of every small exchange by up to 16x and regressed 25/41
headline rows at 32 cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .cache import BoundedCache

# Memoized spread decisions, keyed (appId, semanticHash, defaultParallelism).
_SPREAD: BoundedCache[tuple[str, int, int], bool] = BoundedCache(capacity=128)


def shuffle_width(spark: SparkSession) -> int:
    """The session's declared shuffle width (``spark.sql.shuffle.partitions``),
    capped at ``4 × defaultParallelism``, and falling back to
    ``defaultParallelism`` when the conf is non-numeric (vendor runtimes
    hold e.g. "auto"). The cap matters under a session we did not create:
    Spark's stock 200 would otherwise pin every tiny fan-out exchange at
    200 tasks on a few cores."""
    cores = spark.sparkContext.defaultParallelism
    try:
        return min(int(spark.conf.get("spark.sql.shuffle.partitions")), 4 * cores)
    except (TypeError, ValueError):
        return cores


def pin_fanout(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` into ``shuffle_width`` partitions,
    which AQE does not coalesce however few bytes the exchange carries."""
    return df.repartition(shuffle_width(df.sparkSession), *keys)


def spread(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned to ``defaultParallelism`` when it has
    fewer partitions, else ``df`` itself.

    The ``getNumPartitions`` probe forces physical planning (tens of ms),
    so the decision is memoized per (session, semantic plan, width): an
    operator called repeatedly on the same input pays the probe once.
    ``semanticHash`` needs only the analyzed plan (~0.1 ms); a collision
    could at worst mis-spread another plan, a speed wobble, never a wrong
    result."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    key = (sc.applicationId, df.semanticHash(), n)
    needs = _SPREAD.get(key)
    if needs is None:
        needs = df.rdd.getNumPartitions() < n
        _SPREAD.put(key, needs)
    return df.repartition(n) if needs else df
