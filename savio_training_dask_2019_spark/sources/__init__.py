"""Sources & sinks (SURVEY.md §2.1).

Dask surface being matched: ``dd.read_parquet`` / ``dd.read_csv`` (multi-file
glob) / ``db.read_text`` + ``json.loads`` / ``dd.from_pandas`` /
``df.to_parquet`` / ``df.to_csv``. Policy: explicit schemas everywhere at
scale; Parquet footers are the only trusted inference path.
"""

from .parquet import (
    FIXTURE_TABLES,
    load_table,
    load_tables,
    register_views,
)
from .text_json import read_csv, read_json_lines, read_text
from .pandas_io import from_iterator, from_pandas
from .sinks import (
    read_orc,
    write_bucketed_table,
    write_csv,
    write_json_lines,
    write_orc,
    write_parquet,
    write_sorted_parquet,
)

__all__ = [
    "register_views",
    "write_bucketed_table",
    "read_orc",
    "write_orc",
    "FIXTURE_TABLES",
    "load_table",
    "load_tables",
    "read_csv",
    "read_json_lines",
    "read_text",
    "from_pandas",
    "from_iterator",
    "write_parquet",
    "write_sorted_parquet",
    "write_csv",
    "write_json_lines",
]
