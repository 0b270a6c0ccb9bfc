"""Streaming source over the manifest table: version-offset tailing.

``write_stream_manifest`` (sources/manifest_table.py) is the sink half of
streaming over the table format; this module is the SOURCE half, on the
shared tail contract (``sources/log_tail.py``):

    register_manifest_stream_source(spark)
    stream = (spark.readStream.format("manifest_stream")
              .option("path", tbl).load())

- **Offsets are table versions**; a batch's files are those each
  version's manifest lists and its predecessor's does not.  Paired with
  ``write_stream_manifest``'s txn protocol, table-to-table streaming
  pipelines compose exactly-once.
- **Change commits** are versions whose manifest dropped files
  (DELETE/UPDATE/MERGE/OPTIMIZE rewrites); row-level change consumption
  is the batch ``read_changes`` feed's job.
- A resumed stream whose baseline manifest was vacuumed fails rather
  than re-emitting the carried files (Delta's "offset no longer
  available" case).
- **Schema is the committed schema** (manifest union, not footer
  sampling).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from .log_tail import FileSpec, LogTailReader, LogTailSource
from .manifest_table import (
    _live_files,
    _load_meta,
    table_schema,
    table_versions,
)


class ManifestStreamReader(LogTailReader):
    format_name = "manifest_stream"
    stream_schema = staticmethod(table_schema)

    def positions(self) -> list[int]:
        return table_versions(self._path)

    def partitions(self, start: dict, end: dict) -> Sequence[FileSpec]:
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[FileSpec] = []
        prev_live: set[str] | None = None
        versions = table_versions(self._path)
        for v in versions:
            if not lo < v <= hi:
                continue
            if prev_live is None:
                if v == 0:
                    prev_live = set()
                elif v - 1 in versions:
                    prev_live = set(_live_files(self._path, v - 1))
                else:
                    raise ValueError(
                        f"cannot resume from version {v - 1} of "
                        f"{self._path}: its manifest was vacuumed; restart "
                        "the stream with a fresh checkpoint"
                    )
            after = _load_meta(self._path, v)["files"]
            removed = prev_live - set(after)
            added = [f for f in after if f not in prev_live]
            prev_live = set(after)
            if removed:
                self._change_commit(
                    f"version {v} of {self._path} removed {len(removed)} "
                    "file(s) (DELETE/UPDATE/MERGE/OPTIMIZE): not an "
                    "append-only stream. Set "
                    ".option('skipChangeCommits', 'true') to ignore change "
                    "commits, or consume row-level changes with the batch "
                    "read_changes feed."
                )
                continue
            parts.extend(FileSpec(f) for f in added)
        return parts


class ManifestStreamDataSource(LogTailSource):
    """Manifest table as a streaming source (format name
    ``manifest_stream``)."""

    reader = ManifestStreamReader


def register_manifest_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(ManifestStreamDataSource)
