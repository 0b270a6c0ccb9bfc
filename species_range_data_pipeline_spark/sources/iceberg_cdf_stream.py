"""Streaming CHANGE-DATA-FEED source over an Iceberg Hadoop layout.

``sources/iceberg_stream.py`` tails the snapshot log as an append-only
stream; this module is the Iceberg twin of
``sources/delta_cdf_stream.py``: the batch feed's manifest-walk
multiset-diff algebra (``iceberg_log.iceberg_read_changes``) on the
shared change-feed contract (``sources/log_tail.py``):

    register_iceberg_cdf_stream_source(spark)
    stream = (spark.readStream.format("iceberg_cdf_tail")
              .option("path", tbl).load())

- **Offsets are snapshot ids** (the ``iceberg_tail`` offsets); the
  version column is ``_snapshot_id`` (bigint).
- **Step semantics match the batch feed exactly**: each step diffs the
  live DATA-file sets and the POSITION-DELETE coverage.  Pure appends
  are masked by the current delete files; pure removals stream under
  the OLD delete set; a delete-coverage change puts the affected files
  on BOTH sides (old deletes vs new), so the step folds to one net-diff
  task.
- **Position deletes are applied in the per-file reader** (read the
  candidate delete parquets, match rows by the batch mask's key —
  scheme-stripped writer path == the data file's absolute path — and
  drop those row positions).  Delete files are log-scoped by the MoR
  contract, so the per-task delete-side read is metadata-sized.
- Boundaries, loud (each the batch feed's): equality-delete files in
  the range are refused (value-keyed coverage is not diffable here —
  read snapshots with ``read_iceberg_table``, which applies them),
  branched snapshot histories are refused, an expired checkpointed
  snapshot id fails with a fresh-checkpoint instruction, and migrated
  layouts (identity partition source columns absent from a data file)
  are refused by a footer probe — this reader cannot restore manifest
  partition tuples.

At scale the driver work per batch is a manifest walk per touched
snapshot (metadata-sized) plus the ``file_path`` columns of CHANGED
delete files; read work is the files each step touched — the feed
costs the day's churn, never the table (same shape measured for the
Delta twin, SCALE.md rule 63).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from .iceberg_log import _resolve
from .iceberg_stream import IcebergTailStreamReader, _SnapshotRange
from .log_tail import (
    ChangeStep,
    FileSpec,
    LogTailSource,
    cdf_schema,
    change_partitions,
)


def _cdf_schema(table_schema):
    from pyspark.sql.types import LongType, StructField

    return cdf_schema(
        table_schema, StructField("_snapshot_id", LongType(), False)
    )


class IcebergCdfTailStreamReader(IcebergTailStreamReader):
    format_name = "iceberg_cdf_tail"
    _role = "feed"

    @staticmethod
    def stream_schema(path: str):
        return _cdf_schema(IcebergTailStreamReader.stream_schema(path))

    def _touched_by(self, delete_files: set[str]) -> set[str]:
        import pyarrow.parquet as pq

        touched: set[str] = set()
        for df in delete_files:
            col = pq.read_table(df, columns=["file_path"]).column("file_path")
            touched |= {_resolve(self._path, str(v)) for v in col.unique()}
        return touched

    def partitions(self, start: dict, end: dict) -> Sequence[ChangeStep]:
        log = _SnapshotRange(
            self._path, start.get("snapshot_id"), end.get("snapshot_id")
        )
        parts: list[ChangeStep] = []
        for snap_id, prev, cur in log.steps(refuse_eq_deletes=True):
            (prev_data, prev_dels), (cur_data, cur_dels) = prev, cur
            changed_dels = (cur_dels - prev_dels) | (prev_dels - cur_dels)
            affected = (
                self._touched_by(changed_dels) if changed_dels else set()
            )
            both = affected & prev_data & cur_data
            removed = sorted((prev_data - cur_data) | both)
            added = sorted((cur_data - prev_data) | both)
            for f in added:
                log.probe(f, self._role)
            parts += change_partitions(
                snap_id,
                [FileSpec(f, mask=tuple(sorted(prev_dels))) for f in removed],
                [FileSpec(f, mask=tuple(sorted(cur_dels))) for f in added],
            )
        return parts


class IcebergCdfTailDataSource(LogTailSource):
    """Iceberg Hadoop layout as a streaming CDF source
    (``iceberg_cdf_tail``)."""

    reader = IcebergCdfTailStreamReader


def register_iceberg_cdf_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(IcebergCdfTailDataSource)
