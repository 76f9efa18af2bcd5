"""Sources & sinks (SURVEY.md §2.A non-oracle rows).

- :mod:`.paged` — the faithful analogue of the reference's paged,
  date-chunked Google Analytics Reporting API pull, as a Spark 4 Python
  DataSource (one input partition per date chunk).
- :mod:`.ingest` — JSON/CSV ingestion with declared schemas.
- :mod:`.sinks` — JDBC append, idempotent (anti-join) upsert append,
  partitioned parquet write.
- :mod:`.layout` — range-clustered writes (row-group skipping),
  small-file compaction, quarantining PERMISSIVE ingest, and the one
  bucket layout (key hash or watermark day) of every keyed incremental
  write.
"""

from .ingest import read_csv, read_json
from .layout import cluster_write, compact_parquet, read_json_tolerant
from .paged import PagedEventsDataSource, read_paged
from .sinks import append_jdbc, upsert_append, write_partitioned

__all__ = [
    "PagedEventsDataSource",
    "read_paged",
    "read_csv",
    "read_json",
    "append_jdbc",
    "upsert_append",
    "write_partitioned",
    "cluster_write",
    "compact_parquet",
    "read_json_tolerant",
]
