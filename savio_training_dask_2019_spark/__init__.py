"""PySpark-native analytics engine with the query / data-processing surface of
``ucb-rit/savio-training-dask-2019`` (a Dask training: dataframes, bags,
arrays, delayed graphs), re-expressed Spark-first and extended with
LLM-data-pipeline operators (dedup, similarity search, multimodal columns,
text analysis).

Layout
------
- ``session``    : tuned SparkSession builder (AQE, Arrow, UTC, local defaults)
- ``sources``    : parquet/CSV/JSON readers with explicit-schema policy and the
                   nano-timestamp fixture workaround; sinks
- ``functions``  : column-expression libraries (vectors, text, datetime)
- ``operators``  : custom DataFrame-level operators Spark lacks natively
                   (as-of join, dedup family, similarity search, multimodal)
- ``plans``      : physical-plan introspection helpers (pushdown/codegen checks)
- ``workers``    : per-task overhead of the Python workers that run the
                   package's kernels (imported here, so it acts on a worker)
- ``streaming``  : Structured Streaming builders (windowed aggs, watermark smoke)
- ``queries``    : the named-query catalog + DuckDB oracle SQL (the driver
                   contract surface for ``__spark_entry__.py``)

Reference provenance: the reference repo is training material (no engine code
to port, see SURVEY.md §0); each operator docstring cites the Dask API the
training exercises instead of file:line.
"""

__version__ = "0.1.0"

from . import workers  # noqa: F401,E402
