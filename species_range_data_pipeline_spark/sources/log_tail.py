"""Version-offset tailing of a table log: the contract under the five
table-format streaming sources, on Spark 4's Python streaming data
source API (``pyspark.sql.datasource.DataSourceStreamReader``).

    format            module                 offset
    manifest_stream   manifest_stream.py     {"version": n}
    delta_tail        delta_stream.py        {"version": n}
    delta_cdf_tail    delta_cdf_stream.py    {"version": n}
    iceberg_tail      iceberg_stream.py      {"snapshot_id": id | None}
    iceberg_cdf_tail  iceberg_cdf_stream.py  {"snapshot_id": id | None}

- **An offset names the last CONSUMED log position.**  ``latestOffset``
  is the newest committed position; a microbatch covers the positions
  in ``(start, end]``.  ``starting*=latest`` is resolved once, at reader
  construction: the engine calls ``initialOffset()`` asynchronously
  after ``start()``, so a head read there would silently skip a commit
  landing in between — and a checkpointed restart keeps the pin.
- **A batch is the files those positions committed** — one Spark task
  per file, never a rescan of the table.  Logs are immutable, so a batch
  replayed from the checkpoint after a crash re-reads exactly the same
  rows: exactly-once end to end with an idempotent sink.  Planning cost
  is log-sized on the driver; read cost is the files each commit landed
  — tailing a 100 TB table costs the day's appends, not the table.
- **Append-only tails fail on change commits.**  A commit that removed
  or rewrote data (DELETE/UPDATE/MERGE/compaction rewrites) is not
  representable as an insert-only stream: by default the stream fails
  loudly; ``.option("skipChangeCommits", "true")`` ignores such commits
  (Delta's own knob and name).  Row-level changes are the change
  feeds' job.
- **Change feeds** (``*_cdf_tail``) emit the table's columns plus
  ``_change_type`` ('insert' | 'delete') and a version column — the
  batch feeds' shape, so the two are interchangeable downstream.  A
  pure append step streams each added file vectorized; a pure removal
  streams each dropped file as deletes; a step that both removes and
  adds (a rewrite, or a changed row mask) folds to ONE task emitting
  the NET multiset difference, so an UPDATE surfaces as
  delete-of-pre-image + insert-of-post-image and a merge-on-read
  DELETE surfaces exactly its newly masked rows (carried rows cancel).
  The one-task fold is the honest cut: its inputs are commit-scoped by
  the merge-on-read contract.  MapType columns cannot be multiset-diffed
  and are refused.
- **Every file is conformed to the committed schema**: columns are
  cast, columns appended after the file was written are null-padded
  (the batch read path's rule), and partition values the log records
  outside the file are restored.

A format adapter subclasses ``LogTailReader`` and describes only its
log: how to list positions (``positions``), what each step in a range
added or removed and whether it is a change commit (``partitions``,
built from ``FileSpec`` / ``change_partitions``), and how to load one
file with its row mask (``_load``).  Format guards live in the adapter.

**The batch half.**  ``batch_changes`` is the same algebra for the
batch feeds (``manifest_table.read_changes``,
``delta_log.read_delta_changes``, ``iceberg_log.iceberg_read_changes``),
over the format's own JVM reads: each step's removed and added files
come from the walk its ``*_cdf_tail`` twin uses, a pure step passes its
one side through, and a mixed step is a signed union + ONE ``groupBy``
over all columns — NULL-safe (grouping treats NULLs as equal, so
NULL-bearing carried rows cancel where a join's equality would not)
and one shuffle over touched files only.  Steps union by name, so
columns added mid-range are null-padded on the steps before them.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .delta_log import _typed_partition_value


def require_path(options, format_name: str) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(f"{format_name} requires .option('path', ...)")
    return path


def cdf_schema(table_schema, version_field):
    """The change-feed schema: the table's columns, ``_change_type``,
    then ``version_field`` (the format's version column)."""
    from pyspark.sql.types import MapType, StringType, StructField, StructType

    if any(isinstance(f.dataType, MapType) for f in table_schema.fields):
        raise NotImplementedError(
            "change feed needs multiset-diff over all columns; MapType"
            " columns are not comparable — drop or cast the map column"
        )
    return StructType(
        [
            *table_schema.fields,
            StructField("_change_type", StringType(), False),
            version_field,
        ]
    )


def batch_changes(spark, steps, version_field):
    """The batch change feed over ``steps``: ``(version, schema,
    removed, added)`` per log step, each side a DataFrame of the files
    that step removed or added (``None`` when it touched none) under the
    step's committed ``schema``.  An empty range yields an empty frame
    under ``cdf_schema`` of the last step's schema."""
    from pyspark.sql import functions as F

    out = schema = None
    for version, schema, removed, added in steps:
        cdf_schema(schema, version_field)  # refuses MapType columns
        if removed is None and added is None:
            continue
        cols = schema.names
        if removed is None or added is None:
            step = (removed if added is None else added).select(
                *cols,
                F.lit("delete" if added is None else "insert").alias(
                    "_change_type"
                ),
            )
        else:
            net = (
                removed.select(*cols, F.lit(-1).alias("__sign"))
                .unionByName(added.select(*cols, F.lit(1).alias("__sign")))
                .groupBy(*cols)
                .agg(F.sum("__sign").alias("__net"))
            )
            step = net.where(F.col("__net") != 0).select(
                *cols,
                F.when(F.col("__net") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.explode(F.sequence(F.lit(1), F.abs(F.col("__net")))).alias(
                    "__i"
                ),
            ).drop("__i")
        step = step.withColumn(
            version_field.name, F.lit(version).cast(version_field.dataType)
        )
        out = step if out is None else out.unionByName(
            step, allowMissingColumns=True
        )
    if out is None:
        return spark.createDataFrame([], cdf_schema(schema, version_field))
    return out


def conform(table, schema, pvalues: dict):
    """``table`` (pyarrow) under ``schema``: columns cast, ``pvalues``
    (column -> the log's string form) restored as constant columns, and
    columns absent from the file null-padded."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    types = {f.name: f.dataType for f in schema.fields}
    target = to_arrow_schema(schema)
    n = table.num_rows
    cols = []
    for field in target:
        if field.name in pvalues:
            tv = _typed_partition_value(pvalues[field.name], types[field.name])
            cols.append(
                pa.array([tv] * n).cast(field.type)
                if tv is not None
                else pa.nulls(n, field.type)
            )
        elif field.name in table.column_names:
            cols.append(table.column(field.name).cast(field.type))
        else:
            cols.append(pa.nulls(n, field.type))
    return pa.Table.from_arrays(cols, schema=target)


def drop_positions(table, positions):
    """``table`` without the rows at ``positions`` (row indexes; those
    past the end are ignored)."""
    import numpy as np
    import pyarrow as pa

    pos = np.asarray(positions)
    keep = np.ones(table.num_rows, dtype=bool)
    keep[pos[pos < table.num_rows].astype(np.int64)] = False
    return table.filter(pa.array(keep))


class FileSpec(InputPartition):
    """One data file: absolute path, partition values (column -> the
    log's string form) and the format's row mask, if any.  On its own it
    is an append tail's partition — one task per appended file."""

    def __init__(self, path: str, pvalues: dict | None = None, mask=None):
        self.path = path
        self.pvalues = pvalues or {}
        self.mask = mask


class ChangeStep(InputPartition):
    """Change-feed work of one log step at ``version``: a single file of
    a pure insert/delete step, or both sides of a mixed step."""

    def __init__(self, version, removed: list, added: list):
        self.version = version
        self.removed = removed
        self.added = added


def change_partitions(version, removed: list, added: list) -> list:
    """A pure step streams each file as its own task; a step that both
    removes and adds folds to one net-diff task."""
    if removed and added:
        return [ChangeStep(version, removed, added)]
    return [ChangeStep(version, [s], []) for s in removed] + [
        ChangeStep(version, [], [s]) for s in added
    ]


def _freeze(v):
    if isinstance(v, list):
        return ("__list__", tuple(_freeze(x) for x in v))
    if isinstance(v, dict):
        return (
            "__struct__",
            tuple((k, _freeze(x)) for k, x in sorted(v.items())),
        )
    return v


def _thaw(v):
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "__list__":
        return [_thaw(x) for x in v[1]]
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "__struct__":
        return {k: _thaw(x) for k, x in v[1]}
    return v


class LogTailReader(DataSourceStreamReader):
    """Options, offsets, ``commit`` and the per-file read of a tail.

    An adapter sets the class attributes and implements ``positions``,
    ``stream_schema`` and ``partitions``; it overrides ``_load`` when
    its files carry row masks or need a guard."""

    format_name = ""
    offset_key = "version"
    starting_option = "startingVersion"
    before_first: int | None = -1  # the offset before the first position
    empty_log = "no committed version at"

    def __init__(self, options, schema):
        self._path = require_path(options, self.format_name)
        self._skip_changes = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        starting = options.get(self.starting_option)
        if starting is None:
            self._initial = self.before_first
        elif str(starting).lower() == "latest":
            # pinned now, never in initialOffset() (module docstring)
            positions = self.positions()
            self._initial = positions[-1] if positions else self.before_first
        else:
            self._initial = self._start_offset(int(starting))
        self._schema = schema

    @staticmethod
    def _start_offset(starting: int):
        """The initial offset for an explicit ``starting*`` value: by
        default the position before it, so its batch includes it."""
        return starting - 1

    def positions(self) -> list:
        """The committed log positions, oldest first."""
        raise NotImplementedError

    def initialOffset(self) -> dict:
        return {self.offset_key: self._initial}

    def latestOffset(self) -> dict:
        positions = self.positions()
        if not positions:
            raise ValueError(f"{self.empty_log} {self._path}")
        return {self.offset_key: positions[-1]}

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint and logs are immutable:
        # there is no source-side state to release
        pass

    def _change_commit(self, message: str) -> None:
        """A step that removed or rewrote data: fail with ``message``
        unless ``skipChangeCommits`` is set (the caller then skips it)."""
        if not self._skip_changes:
            raise ValueError(message)

    def _load(self, spec: FileSpec, schema):
        """One data file as a pyarrow Table; adapters whose files carry
        a row mask (``spec.mask``) apply it here."""
        import pyarrow.parquet as pq

        return pq.read_table(spec.path)

    def _conformed(self, spec: FileSpec, schema):
        return conform(self._load(spec, schema), schema, spec.pvalues)

    def read(self, partition) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        if isinstance(partition, FileSpec):
            yield from self._conformed(partition, self._schema).to_batches()
            return
        data = StructType(self._schema.fields[:-2])
        target = to_arrow_schema(self._schema)
        if not (partition.removed and partition.added):
            (spec,) = partition.removed or partition.added
            tbl = self._conformed(spec, data)
            n = tbl.num_rows
            ctype = "insert" if partition.added else "delete"
            yield from pa.Table.from_arrays(
                [
                    *tbl.columns,
                    pa.array([ctype] * n, pa.string()),
                    pa.array([partition.version] * n, target.types[-1]),
                ],
                schema=target,
            ).to_batches()
            return
        # mixed step: net multiset diff of both sides, exact (rows are
        # frozen to hashable tuples — no float coercion)
        net: Counter = Counter()
        for sign, specs in ((-1, partition.removed), (1, partition.added)):
            for spec in specs:
                for row in self._conformed(spec, data).to_pylist():
                    key = tuple(_freeze(row[f.name]) for f in data.fields)
                    net[key] += sign
        names = [f.name for f in data.fields]
        rows = []
        for key, n in sorted(net.items(), key=lambda kv: repr(kv[0])):
            if n == 0:
                continue
            row = {c: _thaw(v) for c, v in zip(names, key)}
            row["_change_type"] = "insert" if n > 0 else "delete"
            row[self._schema.fields[-1].name] = partition.version
            rows.extend([row] * abs(n))
        if rows:
            yield from pa.Table.from_pylist(rows, schema=target).to_batches()


class LogTailSource(DataSource):
    """The DataSource half of a tail: ``reader`` names the format and
    resolves the stream schema from the table path."""

    reader: type[LogTailReader]

    @classmethod
    def name(cls) -> str:
        return cls.reader.format_name

    def schema(self):
        path = require_path(self.options, self.name())
        return self.reader.stream_schema(path)

    def streamReader(self, schema) -> LogTailReader:
        return self.reader(self.options, schema)
