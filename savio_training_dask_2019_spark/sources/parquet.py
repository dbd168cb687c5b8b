"""Parquet scan layer (reference surface: ``dd.read_parquet(path, columns=...,
filters=...)`` — SURVEY.md §2.1).

In Spark the ``columns=`` / ``filters=`` knobs are unnecessary: Catalyst
pushes projections and predicates into the scan automatically (verify with
``plans.pushed_filters``). What this module adds:

- one canonical loader for the driver fixtures,
- the **nano-timestamp workaround**: the fixture ``events.parquet`` stores
  ``ts`` as INT64 TIMESTAMP(NANOS,false), which Spark's vectorized reader
  rejects outright. With ``spark.sql.legacy.parquet.nanosAsLong=true`` the
  column arrives as LongType nanoseconds; we convert with *integer* division
  (``div 1000`` — double math would lose precision above 2^53) to micros and
  cast to TIMESTAMP_NTZ under a UTC session so values equal DuckDB's naive
  reading of the same file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns written as TIMESTAMP(NANOS) in the fixtures → read as long nanos.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Resolved-scan cache (the engine's "catalog"): spark.read.parquet re-lists
# files and re-reads footers on every call, which costs ~100-1000× the
# execution time of a warm small-SF query. Memoizing the resolved DataFrame
# reuses the file index + schema exactly like a real catalog's table entry;
# no DATA is cached (plans stay lazy), so this is safe at any scale. Bounded
# LRU: 64 entries ≈ several SF dirs × 10 tables; a service cycling through
# many dirs evicts oldest instead of leaking.
from ..cache import BoundedCache

_TABLE_CACHE: BoundedCache[tuple[str, str, str], DataFrame] = BoundedCache(capacity=64)


def _nanos_to_ts_ntz(df: DataFrame, col: str) -> DataFrame:
    # integer `div` keeps full precision for epoch-nanos (~1.7e18 > 2^53)
    return df.withColumn(
        col, F.expr(f"cast(timestamp_micros(`{col}` div 1000) as timestamp_ntz)")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    Schema comes from the Parquet footer (trusted); nano-timestamp columns
    are normalized to TIMESTAMP_NTZ so all engines agree on wall-clock values.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = _nanos_to_ts_ntz(df, col)
    _TABLE_CACHE.put(key, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several fixture tables at once: ``t = load_tables(spark, d, "orders", ...)``."""
    return {n: load_table(spark, sf_dir, n) for n in (names or FIXTURE_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every fixture table as a temp view (``prefix + name``) so
    the whole corpus is drivable from plain ``spark.sql`` — the same
    registration surface the DuckDB oracle gets, and the lowest-friction
    path for a SQL-first user switching from the reference: after one call,
    ``spark.sql("SELECT ... FROM documents JOIN embeddings ...")`` works
    with all the load-path normalizations (nano-timestamp handling) already
    applied. Returns the registered view names."""
    names = []
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)
        names.append(prefix + name)
    return names
