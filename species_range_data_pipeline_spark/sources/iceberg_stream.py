"""Streaming source over an Iceberg Hadoop-layout table: snapshot
tailing — the Iceberg twin of ``sources/delta_stream.py``, on the shared
tail contract (``sources/log_tail.py``):

    register_iceberg_stream_source(spark)
    stream = spark.readStream.format("iceberg_tail").option("path", tbl).load()

- **Offsets are snapshot ids**, resolved against the metadata's
  snapshot list (the linear history — branched parent chains are
  refused, the ``iceberg_read_changes`` guard); ``startingSnapshotId``
  names the last snapshot NOT streamed.  A batch's files are the DATA
  files each snapshot ADDED (live-set difference vs the predecessor
  snapshot — manifest-entry statuses alone can't be trusted across
  manifest rewrites).
- **Change commits** are snapshots that removed data files or changed
  the delete-file set (DELETE/UPDATE/MERGE/compaction rewrites);
  row-level change consumption is ``iceberg_read_changes``' job.
- **Expired history raises.**  If the checkpointed snapshot id is no
  longer in the metadata (snapshot expiry), the stream fails with a
  fresh-checkpoint instruction rather than silently re-emitting or
  gapping — the manifest_stream vacuumed-baseline rule.
- Iceberg data files are COMPLETE (identity-partition columns
  in-file), so no partition value is restored; migrated (stripped)
  layouts are refused by a footer probe on first use, matching the
  batch read path's boundary.

The step walk (``iceberg_log._SnapshotRange``: per-snapshot live-file
state and the footer probe) is shared with both change feeds; the
per-file position-delete mask with the CDF tail
(``sources/iceberg_cdf_stream.py``).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import SparkSession

from .iceberg_log import (
    _current_schema,
    _linear_snapshots,
    _load_metadata,
    _SnapshotRange,
    _struct_type,
)
from .log_tail import FileSpec, LogTailReader, LogTailSource, drop_positions


def _strip_scheme(p: str) -> str:
    """The batch position-delete mask's join key normalization
    (``iceberg_log._apply_position_deletes``): writer-recorded paths
    lose their ``file:``/``file://`` prefix and compare as plain
    absolute paths."""
    return re.sub("^file:(//)?", "", p)


class IcebergTailStreamReader(LogTailReader):
    format_name = "iceberg_tail"
    offset_key = "snapshot_id"
    starting_option = "startingSnapshotId"
    before_first = None
    empty_log = "no snapshot at"
    _role = "streaming tail"  # named in the migrated-layout refusal

    @staticmethod
    def _start_offset(starting: int) -> int:
        return starting  # names the last snapshot NOT streamed

    @staticmethod
    def stream_schema(path: str):
        return _struct_type(_current_schema(_load_metadata(path), path))

    def positions(self) -> list[int]:
        snaps = _linear_snapshots(_load_metadata(self._path), self._path)
        return [s["snapshot-id"] for s in snaps]

    def partitions(self, start: dict, end: dict) -> Sequence[FileSpec]:
        log = _SnapshotRange(
            self._path, start.get("snapshot_id"), end.get("snapshot_id")
        )
        parts: list[FileSpec] = []
        # equality deletes count as change coverage like position deletes
        # do: any delete-file change trips the append-only guard
        for snap_id, prev, cur in log.steps():
            (prev_data, prev_dels), (cur_data, cur_dels) = prev, cur
            if prev_data - cur_data or cur_dels != prev_dels:
                self._change_commit(
                    f"snapshot {snap_id} of"
                    f" {self._path} rewrote/removed data or changed"
                    " row-level deletes: not an append-only stream."
                    " Set .option('skipChangeCommits', 'true') to"
                    " ignore change snapshots, or consume row-level"
                    " changes with iceberg_read_changes."
                )
                continue
            for f in sorted(cur_data - prev_data):
                log.probe(f, self._role)
                parts.append(FileSpec(f))
        return parts

    def _load(self, spec: FileSpec, schema):
        """The file minus the rows its side's position-delete files
        (``spec.mask``, absolute paths) cover."""
        import pyarrow.parquet as pq

        raw = pq.read_table(spec.path)
        me = _strip_scheme(spec.path)
        positions: set[int] = set()
        for dpath in spec.mask or ():
            dt = pq.read_table(dpath, columns=["file_path", "pos"])
            for fp, pos in zip(
                dt.column("file_path").to_pylist(),
                dt.column("pos").to_pylist(),
            ):
                if _strip_scheme(str(fp)) == me:
                    positions.add(int(pos))
        return drop_positions(raw, sorted(positions)) if positions else raw


class IcebergTailDataSource(LogTailSource):
    """Iceberg Hadoop layout as a streaming source (format
    ``iceberg_tail``)."""

    reader = IcebergTailStreamReader


def register_iceberg_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(IcebergTailDataSource)
