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

``_SnapshotRange`` (the per-snapshot live-file state and the footer
probe) and the position-delete mask are shared with the change feed
(``sources/iceberg_cdf_stream.py``).
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from functools import cached_property

from pyspark.sql import SparkSession

from .iceberg_log import (
    _current_schema,
    _identity_partition_fields,
    _load_metadata,
    _resolve,
    _struct_type,
    _walk_entries,
)
from .log_tail import FileSpec, LogTailReader, LogTailSource, drop_positions


def _linear_snapshots(meta: dict, path: str) -> list[dict]:
    snaps = list(meta.get("snapshots") or [])
    ids = [s["snapshot-id"] for s in snaps]
    for i, s in enumerate(snaps):
        parent = s.get("parent-snapshot-id")
        if parent is not None and (i == 0 or parent != ids[i - 1]):
            raise NotImplementedError(
                f"snapshot {s['snapshot-id']} of {path!r} has parent"
                f" {parent}, not its predecessor — branched histories"
                " are not tailable as a linear stream."
            )
    return snaps


def _strip_scheme(p: str) -> str:
    """The batch position-delete mask's join key normalization
    (``iceberg_log._apply_position_deletes``): writer-recorded paths
    lose their ``file:``/``file://`` prefix and compare as plain
    absolute paths."""
    return re.sub("^file:(//)?", "", p)


class _SnapshotRange:
    """The snapshots after ``start`` up to ``end`` (ids; ``None`` = before
    the first) of one table's linear history."""

    def __init__(self, path: str, start, end):
        self.path = path
        self.meta = _load_metadata(path)
        self.snaps = _linear_snapshots(self.meta, path)
        self.lo, self.hi = self._index_of(start), self._index_of(end)

    def _index_of(self, snapshot_id) -> int:
        """List index of ``snapshot_id``; -1 for the before-first None."""
        if snapshot_id is None:
            return -1
        ids = [s["snapshot-id"] for s in self.snaps]
        if snapshot_id not in ids:
            raise ValueError(
                f"snapshot {snapshot_id} of {self.path} is no longer in"
                " the metadata (expired?); restart the stream with a"
                " fresh checkpoint"
            )
        return ids.index(snapshot_id)

    def _state(self, i: int, refuse_eq_deletes: bool):
        """(live data files, live delete files) of snapshot ``i``."""
        data, dels = set(), set()
        if i < 0:
            return data, dels
        for kind, d, _sid, _seq in _walk_entries(self.path, self.snaps[i]):
            if kind == "eqdel" and refuse_eq_deletes:
                # value-keyed coverage is not position-diffable; the
                # batch feed refuses identically
                raise NotImplementedError(
                    f"equality-delete file {d['file_path']!r} in the"
                    " change-feed range; the Iceberg feed diffs"
                    " position-delete coverage only — read snapshots"
                    " directly (read_iceberg_table applies equality"
                    " deletes) or compact the deletes away."
                )
            (data if kind == "data" else dels).add(
                _resolve(self.path, d["file_path"])
            )
        return data, dels

    def steps(self, refuse_eq_deletes: bool = False):
        """(snapshot id, previous state, state) per snapshot in range."""
        prev = self._state(self.lo, refuse_eq_deletes)
        for i in range(self.lo + 1, self.hi + 1):
            cur = self._state(i, refuse_eq_deletes)
            yield self.snaps[i]["snapshot-id"], prev, cur
            prev = cur

    @cached_property
    def _id_cols(self) -> set[str]:
        return {
            by_src["name"]
            for pairs in _identity_partition_fields(self.meta).values()
            for _pname, source_id in pairs
            for by_src in _current_schema(self.meta, self.path)["fields"]
            if by_src["id"] == source_id
        }

    def probe(self, fpath: str, role: str) -> None:
        """Migrated-layout guard: the per-file reader null-pads columns
        missing from a file, which is WRONG for identity-partition
        source columns (their values live in the manifest tuples) — one
        metadata-sized footer read per landed file, driver-side."""
        if not self._id_cols:
            return
        import pyarrow.parquet as pq

        missing = self._id_cols - set(pq.read_schema(fpath).names)
        if missing:
            raise NotImplementedError(
                f"data file {fpath!r} lacks identity-partition"
                f" column(s) {sorted(missing)} (migrated layout);"
                f" the streaming {role} cannot restore manifest"
                " partition values — use the batch reader."
            )


class IcebergTailStreamReader(LogTailReader):
    format_name = "iceberg_tail"
    offset_key = "snapshot_id"
    starting_option = "startingSnapshotId"
    before_first = None
    empty_log = "no snapshot at"
    _role = "tail"  # names the reader in the migrated-layout refusal

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
