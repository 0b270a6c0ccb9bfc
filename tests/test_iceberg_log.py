"""Read-only Iceberg-layout reader (`sources/iceberg_log.py`).

The fixture tables are written BY THE TESTS following the public
Iceberg table spec's Hadoop layout: ``metadata/version-hint.text`` +
``vN.metadata.json``, snapshot manifest lists and manifests as real
Avro OCF files (rendered by the engine's own ``avro_ocf.write_avro``),
and complete parquet data files (identity-partition columns stored IN
the files, per the spec).  No Iceberg runtime anywhere.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from species_range_data_pipeline_spark.sources.avro_ocf import write_avro
from species_range_data_pipeline_spark.sources.iceberg_log import (
    iceberg_scan_files,
    iceberg_snapshots,
    read_iceberg_table,
)

# -- minimal spec-shaped Avro schemas (the fields the spec requires and
#    the reader consumes; extra spec fields are optional in OCF) --------

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def _manifest_schema(partition_fields):
    part = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": n, "type": ["null", t], "default": None}
            for n, t in partition_fields
        ],
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
            },
            {"name": "data_file", "type": data_file},
        ],
    }


def _schema_fields():
    return [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "year", "required": False, "type": "int"},
        {"id": 3, "name": "v", "required": False, "type": "string"},
    ]


class _Builder:
    """Assemble an Iceberg Hadoop-layout table on disk."""

    def __init__(self, root: str, format_version: int = 2):
        self.root = root
        self.fv = format_version
        self.snapshots: list[dict] = []
        self._n = 0
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    def data_file(self, name: str, ks, year):
        """Complete parquet data file (partition column stored in-file)."""
        p = os.path.join(self.root, "data", name)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "year": pa.array([year] * len(ks), pa.int32()),
                    "v": [f"{year}-{k}" for k in ks],
                }
            ),
            p,
        )
        return p

    def manifest(
        self,
        name: str,
        entries,
        partition_fields=(("year", "int"),),
        seqs=None,
        equality_ids=None,
    ):
        """entries: [(status, file_path, partition dict, n_rows, content)];
        ``seqs``/``equality_ids``: optional per-entry lists (None items
        leave the field null — entry seq then inherits from the
        manifest list per the spec)."""
        recs = [
            {
                "status": st,
                "snapshot_id": None,
                "sequence_number": None if seqs is None else seqs[i],
                "data_file": {
                    "content": content,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": part,
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(fp)
                    if os.path.exists(fp)
                    else 0,
                    "equality_ids": None
                    if equality_ids is None
                    else equality_ids[i],
                },
            }
            for i, (st, fp, part, n, content) in enumerate(entries)
        ]
        p = os.path.join(self.root, "metadata", name)
        write_avro(recs, _manifest_schema(partition_fields), p)
        return p

    def snapshot(self, snap_id: int, manifests, contents=None, seqs=None):
        mlist = os.path.join(
            self.root, "metadata", f"snap-{snap_id}.avro"
        )
        contents = contents or [0] * len(manifests)
        mseqs = seqs or [None] * len(manifests)
        write_avro(
            [
                {
                    "manifest_path": m,
                    "manifest_length": os.path.getsize(m),
                    "partition_spec_id": 0,
                    "content": c,
                    "sequence_number": sq,
                    "added_snapshot_id": snap_id,
                }
                for m, c, sq in zip(manifests, contents, mseqs)
            ],
            _MANIFEST_LIST_SCHEMA,
            mlist,
        )
        self.snapshots.append(
            {
                "snapshot-id": snap_id,
                "timestamp-ms": 1700000000000 + snap_id,
                "manifest-list": mlist,
                "summary": {"operation": "append"},
            }
        )

    def commit(self, current_snapshot_id=None, schemas=None, extra=None):
        self._n += 1
        meta: dict = {
            "format-version": self.fv,
            "table-uuid": "00000000-0000-0000-0000-000000000000",
            "location": self.root,
            "last-column-id": 3,
            "snapshots": self.snapshots,
        }
        if current_snapshot_id is not None:
            meta["current-snapshot-id"] = current_snapshot_id
        if self.fv == 2:
            meta["schemas"] = schemas or [
                {
                    "type": "struct",
                    "schema-id": 0,
                    "fields": _schema_fields(),
                }
            ]
            meta["current-schema-id"] = (schemas or [{}])[-1].get(
                "schema-id", 0
            )
            meta["partition-specs"] = [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": "year",
                            "transform": "identity",
                            "source-id": 2,
                            "field-id": 1000,
                        }
                    ],
                }
            ]
            meta["default-spec-id"] = 0
        else:
            meta["schema"] = {"type": "struct", "fields": _schema_fields()}
            meta["partition-spec"] = [
                {
                    "name": "year",
                    "transform": "identity",
                    "source-id": 2,
                    "field-id": 1000,
                }
            ]
        if extra:
            meta.update(extra)
        with open(
            os.path.join(self.root, "metadata", f"v{self._n}.metadata.json"),
            "w",
        ) as fh:
            json.dump(meta, fh)
        with open(
            os.path.join(self.root, "metadata", "version-hint.text"), "w"
        ) as fh:
            fh.write(str(self._n))


def _two_snapshot_table(tmp_path, name="t"):
    b = _Builder(str(tmp_path / name))
    f20 = b.data_file("f2020.parquet", [1, 2], 2020)
    f21 = b.data_file("f2021.parquet", [3, 4], 2021)
    m1 = b.manifest(
        "m1.avro",
        [
            (1, f20, {"year": 2020}, 2, 0),
            (1, f21, {"year": 2021}, 2, 0),
        ],
    )
    b.snapshot(100, [m1])
    # snapshot 200 rewrites 2020: old entry DELETED, replacement ADDED
    f20b = b.data_file("f2020b.parquet", [5, 6], 2020)
    m2 = b.manifest(
        "m2.avro",
        [
            (2, f20, {"year": 2020}, 2, 0),  # status=2: left the table
            (0, f21, {"year": 2021}, 2, 0),  # existing
            (1, f20b, {"year": 2020}, 2, 0),  # added
        ],
    )
    b.snapshot(200, [m2])
    b.commit(current_snapshot_id=200)
    return b


def test_snapshot_read_time_travel_and_pruning(spark, tmp_path):
    b = _two_snapshot_table(tmp_path)
    t = b.root

    assert [s["snapshot-id"] for s in iceberg_snapshots(t)] == [100, 200]
    latest = {(r.k, r.year, r.v) for r in read_iceberg_table(spark, t).collect()}
    assert latest == {
        (5, 2020, "2020-5"),
        (6, 2020, "2020-6"),
        (3, 2021, "2021-3"),
        (4, 2021, "2021-4"),
    }
    old = {
        (r.k, r.year)
        for r in read_iceberg_table(spark, t, snapshot_id=100).collect()
    }
    assert old == {(1, 2020), (2, 2020), (3, 2021), (4, 2021)}

    # identity-partition pruning: year filter opens one file
    pruned = iceberg_scan_files(t, filters=[("year", "=", 2021)])
    assert [os.path.basename(f) for f in pruned] == ["f2021.parquet"]
    got = {
        (r.k, r.year)
        for r in read_iceberg_table(
            spark, t, filters=[("year", "=", 2021)]
        ).collect()
    }
    assert got == {(3, 2021), (4, 2021)}
    # everything pruned -> empty frame with the table schema
    empty = read_iceberg_table(spark, t, filters=[("year", ">", 3000)])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "year", "v"]

    with pytest.raises(ValueError, match="snapshot 999"):
        read_iceberg_table(spark, t, snapshot_id=999)


def test_format_version_1_layout(spark, tmp_path):
    b = _Builder(str(tmp_path / "v1"), format_version=1)
    f = b.data_file("f.parquet", [7, 8], 2022)
    m = b.manifest("m.avro", [(1, f, {"year": 2022}, 2, 0)])
    b.snapshot(1, [m])
    b.commit(current_snapshot_id=1)
    got = {(r.k, r.year) for r in read_iceberg_table(spark, b.root).collect()}
    assert got == {(7, 2022), (8, 2022)}
    assert iceberg_scan_files(b.root, filters=[("year", "=", 1999)]) == []


def test_empty_table_and_missing_layout(spark, tmp_path):
    b = _Builder(str(tmp_path / "empty"))
    b.commit(current_snapshot_id=None)
    df = read_iceberg_table(spark, b.root)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "year", "v"]
    with pytest.raises(FileNotFoundError, match="metadata"):
        read_iceberg_table(spark, str(tmp_path / "nope"))


def test_refusals_are_loud(spark, tmp_path):
    # format-version 3
    b = _Builder(str(tmp_path / "fv3"))
    b.commit(current_snapshot_id=None, extra={"format-version": 3})
    with pytest.raises(NotImplementedError, match="format-version 3"):
        read_iceberg_table(spark, b.root)

    # manifest-list content flag disagreeing with the entry content
    # code (a delete manifest holding a plain data file): corrupt
    # metadata, refused rather than guessed around
    b = _Builder(str(tmp_path / "delm"))
    f = b.data_file("f.parquet", [1], 2020)
    m = b.manifest("m.avro", [(1, f, {"year": 2020}, 1, 0)])
    b.snapshot(1, [m], contents=[1])
    b.commit(current_snapshot_id=1)
    with pytest.raises(NotImplementedError, match="content flag disagrees"):
        read_iceberg_table(spark, b.root)

    # equality-delete file missing its equality_ids: the delete
    # predicate columns are unknowable — refused (applied deletes are
    # covered by test_equality_deletes_*)
    b = _Builder(str(tmp_path / "deldf"))
    f = b.data_file("f.parquet", [1], 2020)
    ed = os.path.join(b.root, "data", "eq.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), ed)
    md = b.manifest("md.avro", [(1, ed, {"year": None}, 1, 2)])
    m = b.manifest("m.avro", [(1, f, {"year": 2020}, 1, 0)])
    b.snapshot(1, [m, md], contents=[0, 1], seqs=[1, 2])
    b.commit(current_snapshot_id=1)
    with pytest.raises(NotImplementedError, match="equality_ids"):
        read_iceberg_table(spark, b.root)

    # non-parquet data file
    b = _Builder(str(tmp_path / "orc"))
    f = b.data_file("f.parquet", [1], 2020)
    recs_path = b.manifest("m.avro", [(1, f, {"year": 2020}, 1, 0)])
    # rewrite the manifest with file_format=ORC
    from species_range_data_pipeline_spark.sources.avro_ocf import parse_avro

    with open(recs_path, "rb") as fh:
        schema, recs = parse_avro(fh.read())
    recs[0]["data_file"]["file_format"] = "ORC"
    write_avro(recs, _manifest_schema((("year", "int"),)), recs_path)
    b.snapshot(1, [recs_path])
    b.commit(current_snapshot_id=1)
    with pytest.raises(NotImplementedError, match="PARQUET"):
        read_iceberg_table(spark, b.root)

    # rename via field-id indirection across historical schemas
    b = _Builder(str(tmp_path / "rename"))
    old_fields = [dict(f) for f in _schema_fields()]
    old_fields[2] = {"id": 3, "name": "val", "required": False, "type": "string"}
    b.commit(
        current_snapshot_id=None,
        schemas=[
            {"type": "struct", "schema-id": 0, "fields": old_fields},
            {"type": "struct", "schema-id": 1, "fields": _schema_fields()},
        ],
    )
    with pytest.raises(NotImplementedError, match="renamed column"):
        read_iceberg_table(spark, b.root)

    # non-local data-file URI
    b = _Builder(str(tmp_path / "s3"))
    m = b.manifest(
        "m.avro", [(1, "s3://bucket/f.parquet", {"year": 2020}, 1, 0)]
    )
    b.snapshot(1, [m])
    b.commit(current_snapshot_id=1)
    with pytest.raises(NotImplementedError, match="non-local"):
        read_iceberg_table(spark, b.root)


def test_null_partition_value_prunes_not_null(spark, tmp_path):
    b = _Builder(str(tmp_path / "nullp"))
    p = os.path.join(b.root, "data", "f.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([9], pa.int64()),
                "year": pa.array([None], pa.int32()),
                "v": ["x"],
            }
        ),
        p,
    )
    m = b.manifest("m.avro", [(1, p, {"year": None}, 1, 0)])
    b.snapshot(1, [m])
    b.commit(current_snapshot_id=1)
    rows = read_iceberg_table(spark, b.root).collect()
    assert [(r.k, r.year) for r in rows] == [(9, None)]
    assert iceberg_scan_files(b.root, filters=[("year", "not_null", None)]) == []


def test_timestamp_as_of_and_sql_view(spark, tmp_path):
    """TIMESTAMP AS OF over the snapshot log's timestamp-ms, plus the
    register_iceberg_view catalog sugar."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_snapshot_as_of,
        register_iceberg_view,
    )

    b = _two_snapshot_table(tmp_path, "tt")
    t = b.root
    # builder stamps timestamp-ms = 1700000000000 + snap_id
    t100 = (1700000000000 + 100) / 1000.0
    t200 = (1700000000000 + 200) / 1000.0
    assert iceberg_snapshot_as_of(t, t100) == 100
    assert iceberg_snapshot_as_of(t, t200 + 5) == 200
    with pytest.raises(ValueError, match="existed at epoch"):
        iceberg_snapshot_as_of(t, t100 - 5)

    register_iceberg_view(spark, "ib_tt_old", t, as_of=t100)
    register_iceberg_view(spark, "ib_tt_new", t)
    old_ks = {
        r.k for r in spark.sql("SELECT k FROM ib_tt_old").collect()
    }
    new_ks = {
        r.k for r in spark.sql("SELECT k FROM ib_tt_new").collect()
    }
    assert old_ks == {1, 2, 3, 4}
    assert new_ks == {3, 4, 5, 6}
    with pytest.raises(ValueError, match="not both"):
        register_iceberg_view(spark, "x", t, snapshot_id=100, as_of=t100)


def test_files_table_and_history(spark, tmp_path):
    """Metadata-only observability over the manifest walk."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_files_table,
        iceberg_table_history,
    )

    b = _two_snapshot_table(tmp_path, "ft")
    ft = {os.path.basename(r.file): r
          for r in iceberg_files_table(spark, b.root).collect()}
    assert set(ft) == {"f2020b.parquet", "f2021.parquet"}
    assert ft["f2021.parquet"].n_rows == 2
    assert ft["f2021.parquet"].partition_values == {"year": "2021"}
    old = {os.path.basename(r.file)
           for r in iceberg_files_table(spark, b.root, snapshot_id=100).collect()}
    assert old == {"f2020.parquet", "f2021.parquet"}

    hist = [tuple(r) for r in iceberg_table_history(spark, b.root).collect()]
    assert hist == [(100, 1700000000100, "append"),
                    (200, 1700000000200, "append")]


def test_read_plan_is_one_scan_no_join(spark, tmp_path):
    """Plan pin: Iceberg data files are complete, so the read is ONE
    parquet scan with zero joins of any kind — partition columns come
    from the files themselves."""
    import contextlib
    import io

    b = _two_snapshot_table(tmp_path, "plan")
    df = read_iceberg_table(spark, b.root)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_replay_property_vs_reference(tmp_path):
    """Hypothesis: for ANY sequence of snapshot file-sets expressed as
    manifests with spec-correct entry statuses (added/existing/deleted),
    the reader's live-file set at every snapshot equals the reference
    set the generator tracked — including multi-manifest snapshots."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    files = [f"data/f{i}.parquet" for i in range(6)]

    @settings(max_examples=30, deadline=None)
    @given(
        # each snapshot: which files are live after it
        live_sets=st.lists(
            st.sets(st.sampled_from(files), min_size=0, max_size=6),
            min_size=1,
            max_size=5,
        ),
        split=st.booleans(),  # one manifest vs two per snapshot
    )
    def check(live_sets, split):
        import shutil as _sh
        import tempfile as _tf

        root = _tf.mkdtemp(dir=str(tmp_path), prefix="prop_")
        try:
            b = _Builder(root)
            # materialize every referenced file once (complete rows)
            paths = {}
            for i, f in enumerate(files):
                paths[f] = b.data_file(os.path.basename(f), [i], 2020)
            prev: set[str] = set()
            for si, live in enumerate(live_sets):
                entries = []
                for f in sorted(live):
                    status = 0 if f in prev else 1  # existing vs added
                    entries.append(
                        (status, paths[f], {"year": 2020}, 1, 0)
                    )
                for f in sorted(prev - live):
                    entries.append((2, paths[f], {"year": 2020}, 1, 0))
                if split and len(entries) > 1:
                    mid = len(entries) // 2
                    m = [
                        b.manifest(f"m{si}a.avro", entries[:mid]),
                        b.manifest(f"m{si}b.avro", entries[mid:]),
                    ]
                else:
                    m = [b.manifest(f"m{si}.avro", entries)]
                b.snapshot(1000 + si, m)
                prev = set(live)
            b.commit(current_snapshot_id=1000 + len(live_sets) - 1)
            for si, live in enumerate(live_sets):
                got = {
                    os.path.basename(f)
                    for f in iceberg_scan_files(root, snapshot_id=1000 + si)
                }
                assert got == {os.path.basename(paths[f]) for f in live}
        finally:
            _sh.rmtree(root, ignore_errors=True)

    check()


def test_column_bounds_prune_files(spark, tmp_path):
    """Manifest lower_bounds/upper_bounds (field-id -> single-value
    binary, the spec's array-of-{key,value}-records map encoding)
    decode into zone maps: a filter on a NON-partition column prunes
    files without opening them, and null_value_counts back the
    is_null/not_null proofs."""
    import struct

    b = _Builder(str(tmp_path / "bounds"))
    f1 = b.data_file("f1.parquet", [1, 2], 2020)
    f2 = b.data_file("f2.parquet", [100, 200], 2020)

    kv_bytes = {
        "type": "array",
        "items": {
            "type": "record",
            "name": "kb",
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "bytes"},
            ],
        },
    }
    kv_long = {
        "type": "array",
        "items": {
            "type": "record",
            "name": "kl",
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "long"},
            ],
        },
    }
    part = {
        "type": "record",
        "name": "r102",
        "fields": [{"name": "year", "type": ["null", "int"],
                    "default": None}],
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": part},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {"name": "lower_bounds", "type": ["null", kv_bytes],
             "default": None},
            {"name": "upper_bounds", "type": ["null", kv_bytes],
             "default": None},
            {"name": "null_value_counts", "type": ["null", kv_long],
             "default": None},
        ],
    }
    man_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None},
            {"name": "data_file", "type": data_file},
        ],
    }

    def lb(lo_k):  # field id 1 = k (long, little-endian 8 bytes)
        return [{"key": 1, "value": struct.pack("<q", lo_k)}]

    recs = []
    for fp, (lo_k, hi_k) in ((f1, (1, 2)), (f2, (100, 200))):
        recs.append(
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {"year": 2020},
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "lower_bounds": lb(lo_k),
                    "upper_bounds": [
                        {"key": 1, "value": struct.pack("<q", hi_k)}
                    ],
                    "null_value_counts": [{"key": 1, "value": 0},
                                          {"key": 3, "value": 2}],
                },
            }
        )
    m = os.path.join(b.root, "metadata", "m.avro")
    write_avro(recs, man_schema, m)
    b.snapshot(1, [m])
    b.commit(current_snapshot_id=1)

    # non-partition column k prunes on decoded bounds
    pruned = iceberg_scan_files(b.root, filters=[("k", ">=", 50)])
    assert [os.path.basename(f) for f in pruned] == ["f2.parquet"]
    pruned = iceberg_scan_files(b.root, filters=[("k", "<=", 10)])
    assert [os.path.basename(f) for f in pruned] == ["f1.parquet"]
    # null_value_counts: k has zero nulls -> is_null prunes everything;
    # v (field id 3) is all-null (2 of 2) -> not_null prunes everything
    assert iceberg_scan_files(b.root, filters=[("k", "is_null", None)]) == []
    assert iceberg_scan_files(b.root, filters=[("v", "not_null", None)]) == []
    # the filtered READ is still exact through the surviving file
    got = {
        r.k
        for r in read_iceberg_table(
            spark, b.root, filters=[("k", ">=", 50)]
        ).collect()
    }
    assert got == {100, 200}


def test_null_partition_proof_does_not_poison_other_columns(spark, tmp_path):
    """ADVICE r16: a NULL identity-partition value used to fabricate a
    1-row record count, so any OTHER column with null_value_counts >= 1
    satisfied the pruner's all-null proof when the entry carried null
    counts but no record_count.  The proof is now per-column."""
    root = str(tmp_path / "np")
    b = _Builder(root)
    fp = os.path.join(root, "data", "f0.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, None, 3], pa.int64()),
                "year": pa.array([None, None, None], pa.int32()),
                "v": pa.array(["a", "b", "c"]),
            }
        ),
        fp,
    )
    # hand-rolled manifest: OPTIONAL record_count (absent) plus
    # null_value_counts in the spec's k*_v* logical-map encoding
    man_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {
                                        "name": "year",
                                        "type": ["null", "int"],
                                        "default": None,
                                    }
                                ],
                            },
                        },
                        {
                            "name": "record_count",
                            "type": ["null", "long"],
                            "default": None,
                        },
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "null_value_counts",
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": {
                                        "type": "record",
                                        "name": "k117_v118",
                                        "fields": [
                                            {"name": "key", "type": "int"},
                                            {"name": "value", "type": "long"},
                                        ],
                                    },
                                },
                            ],
                            "default": None,
                        },
                    ],
                },
            },
        ],
    }
    mp = os.path.join(root, "metadata", "m0.avro")
    write_avro(
        [
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {"year": None},
                    "record_count": None,  # absent: the ADVICE trigger
                    "file_size_in_bytes": os.path.getsize(fp),
                    # k has ONE null (of three rows) — under the old 1/1
                    # sentinel this wrongly proved k all-null
                    "null_value_counts": [{"key": 1, "value": 1}],
                },
            }
        ],
        man_schema,
        mp,
    )
    b.snapshot(100, [mp])
    b.commit(current_snapshot_id=100)

    # k holds non-null rows: a not_null probe must KEEP the file
    kept = iceberg_scan_files(root, filters=[("k", "not_null", None)])
    assert [os.path.basename(f) for f in kept] == ["f0.parquet"]
    # the NULL-partition column itself still prunes — and stronger,
    # equality probes on the all-null column prune too
    assert iceberg_scan_files(root, filters=[("year", "not_null", None)]) == []
    assert iceberg_scan_files(root, filters=[("year", "=", 2020)]) == []


def test_spec_field_name_resolves_via_source_id(spark, tmp_path):
    """ADVICE r16: identity zone maps were keyed by the partition FIELD
    name; a spec field named differently from its source column attached
    the [v, v] range to the wrong column (and could wrongly prune a
    table column sharing the spec field's name).  Resolution now goes
    source-id -> current schema name."""
    root = str(tmp_path / "sid")
    b = _Builder(root)
    f20 = b.data_file("f2020.parquet", [1, 2], 2020)
    f21 = b.data_file("f2021.parquet", [3, 4], 2021)
    m1 = b.manifest(
        "m1.avro",
        [
            (1, f20, {"yr": 2020}, 2, 0),
            (1, f21, {"yr": 2021}, 2, 0),
        ],
        partition_fields=(("yr", "int"),),
    )
    b.snapshot(100, [m1])
    b.commit(
        current_snapshot_id=100,
        extra={
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            # spec field name DIVERGES from source column
                            "name": "yr",
                            "transform": "identity",
                            "source-id": 2,  # column "year"
                            "field-id": 1000,
                        }
                    ],
                }
            ]
        },
    )
    # the filter names the TABLE column; pruning must work via source-id
    kept = iceberg_scan_files(root, filters=[("year", "=", 2021)])
    assert [os.path.basename(f) for f in kept] == ["f2021.parquet"]
    got = {
        (r.k, r.year)
        for r in read_iceberg_table(
            spark, root, filters=[("year", "=", 2021)]
        ).collect()
    }
    assert got == {(3, 2021), (4, 2021)}


def test_name_reuse_across_field_ids_refused(spark, tmp_path):
    """ADVICE r16: a column dropped then re-added under the same NAME
    gets a new field id; the per-id rename guard never fired and
    name-based parquet resolution would silently read the retired
    column's data from pre-drop files.  Now refused."""
    root = str(tmp_path / "reuse")
    b = _Builder(root)
    f20 = b.data_file("f2020.parquet", [1, 2], 2020)
    m1 = b.manifest("m1.avro", [(1, f20, {"year": 2020}, 2, 0)])
    b.snapshot(100, [m1])
    b.commit(
        current_snapshot_id=100,
        schemas=[
            {
                "type": "struct",
                "schema-id": 0,
                "fields": _schema_fields(),  # "v" under field id 3
            },
            {
                "type": "struct",
                "schema-id": 1,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {
                        "id": 2,
                        "name": "year",
                        "required": False,
                        "type": "int",
                    },
                    # "v" re-added under a NEW field id after a drop
                    {"id": 4, "name": "v", "required": False, "type": "string"},
                ],
            },
        ],
    )
    with pytest.raises(NotImplementedError, match="reused column name"):
        read_iceberg_table(spark, root)


def test_migrated_table_restores_partition_values(spark, tmp_path):
    """ADVICE r16: tables migrated via add_files/Hive import lack the
    identity-partition source columns in the data files;
    spark.read.schema() silently filled them with NULL (and a re-applied
    partition filter dropped every row).  The footer probe now detects
    the layout and restores values from the manifest partition tuples
    via a broadcast basename map join."""
    root = str(tmp_path / "mig")
    b = _Builder(root)
    files = {}
    for year, ks in ((2020, [1, 2]), (2021, [3, 4])):
        fp = os.path.join(root, "data", f"m{year}.parquet")
        pq.write_table(  # NO year column: the migrated layout
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "v": [f"{year}-{k}" for k in ks],
                }
            ),
            fp,
        )
        files[year] = fp
    m1 = b.manifest(
        "m1.avro",
        [
            (1, files[2020], {"year": 2020}, 2, 0),
            (1, files[2021], {"year": 2021}, 2, 0),
        ],
    )
    b.snapshot(100, [m1])
    b.commit(current_snapshot_id=100)

    df = read_iceberg_table(spark, root)
    assert [f.name for f in df.schema.fields] == ["k", "year", "v"]
    got = {(r.k, r.year, r.v) for r in df.collect()}
    assert got == {
        (1, 2020, "2020-1"),
        (2, 2020, "2020-2"),
        (3, 2021, "2021-3"),
        (4, 2021, "2021-4"),
    }
    # the re-applied partition filter keeps (not drops) the right rows
    got = {
        (r.k, r.year)
        for r in read_iceberg_table(
            spark, root, filters=[("year", "=", 2021)]
        ).collect()
    }
    assert got == {(3, 2021), (4, 2021)}


def test_migrated_table_mixed_layout_refused(spark, tmp_path):
    """One complete file + one missing the identity source column under
    the same spec: refused loudly (silently-null partition values are
    the wrong-rows failure)."""
    root = str(tmp_path / "mix")
    b = _Builder(root)
    complete = b.data_file("a_complete.parquet", [1, 2], 2020)
    stripped = os.path.join(root, "data", "z_stripped.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()), "v": ["x"]}), stripped
    )
    m1 = b.manifest(
        "m1.avro",
        [
            (1, complete, {"year": 2020}, 2, 0),
            (1, stripped, {"year": 2021}, 1, 0),
        ],
    )
    b.snapshot(100, [m1])
    b.commit(current_snapshot_id=100)
    with pytest.raises(NotImplementedError, match="disagree"):
        read_iceberg_table(spark, root)


def _mor_table(tmp_path, name="mor"):
    """v2 merge-on-read table: snapshot 100 = 6 rows across two data
    files; snapshot 200 adds a position-delete file masking k=2,4
    (positions 1,3 of f2020) and k=6 (position 1 of f2021), plus one
    delete row aimed at a path not in the snapshot (must no-op)."""
    b = _Builder(str(tmp_path / name))
    f20 = b.data_file("f2020.parquet", [1, 2, 3, 4], 2020)
    f21 = b.data_file("f2021.parquet", [5, 6], 2021)
    m1 = b.manifest(
        "m1.avro",
        [
            (1, f20, {"year": 2020}, 4, 0),
            (1, f21, {"year": 2021}, 2, 0),
        ],
    )
    b.snapshot(100, [m1])
    pd_path = os.path.join(b.root, "data", "pd1.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": [
                    f20,
                    f20,
                    f21,
                    os.path.join(b.root, "data", "rewritten-away.parquet"),
                ],
                "pos": pa.array([1, 3, 1, 0], pa.int64()),
            }
        ),
        pd_path,
    )
    md = b.manifest("md.avro", [(1, pd_path, {"year": None}, 4, 1)])
    b.snapshot(200, [m1, md], contents=[0, 1])
    b.commit(current_snapshot_id=200)
    return b


def test_position_deletes_applied(spark, tmp_path):
    """v2 merge-on-read position deletes: masked rows vanish from the
    current snapshot, time travel before the delete still sees them,
    and a delete row aimed at a file outside the snapshot no-ops."""
    b = _mor_table(tmp_path)

    latest = {(r.k, r.year) for r in read_iceberg_table(spark, b.root).collect()}
    assert latest == {(1, 2020), (3, 2020), (5, 2021)}

    old = {r.k for r in read_iceberg_table(spark, b.root, snapshot_id=100).collect()}
    assert old == {1, 2, 3, 4, 5, 6}

    # partition pruning + the delete mask compose
    got = {
        r.k
        for r in read_iceberg_table(
            spark, b.root, filters=[("year", "=", 2020)]
        ).collect()
    }
    assert got == {1, 3}


def test_position_delete_plan_is_broadcast_anti_join(spark, tmp_path):
    """Plan pin: the delete mask is a BROADCAST left-anti join — ONE
    scan of the data files plus the log-sized delete-file scan on the
    broadcast side; never a SortMergeJoin exchange."""
    import contextlib
    import io
    import re as _re

    b = _mor_table(tmp_path, "morplan")
    df = read_iceberg_table(spark, b.root)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan  # data + deletes
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_position_deletes_compose_with_migrated_restore(spark, tmp_path):
    """Position deletes apply on the raw scan even when the table also
    needs migrated-layout partition restoration."""
    root = str(tmp_path / "mormig")
    b = _Builder(root)
    fp = os.path.join(root, "data", "m2020.parquet")
    pq.write_table(  # migrated: NO year column in-file
        pa.table(
            {
                "k": pa.array([1, 2, 3], pa.int64()),
                "v": ["a", "b", "c"],
            }
        ),
        fp,
    )
    m1 = b.manifest("m1.avro", [(1, fp, {"year": 2020}, 3, 0)])
    b.snapshot(100, [m1])
    pd_path = os.path.join(root, "data", "pd.parquet")
    pq.write_table(
        pa.table({"file_path": [fp], "pos": pa.array([1], pa.int64())}),
        pd_path,
    )
    md = b.manifest("md.avro", [(1, pd_path, {"year": None}, 1, 1)])
    b.snapshot(200, [m1, md], contents=[0, 1])
    b.commit(current_snapshot_id=200)

    got = {(r.k, r.year, r.v) for r in read_iceberg_table(spark, root).collect()}
    assert got == {(1, 2020, "a"), (3, 2020, "c")}


def _mor_history(tmp_path, name="morhist"):
    """s100: f20(k 1..4, 2020) + f21(k 5..6, 2021); s150: append
    f22(k 7..8, 2022); s200: position deletes mask k=2,4 (f20) and k=6
    (f21); s250: compaction materializes f21's delete (f21 -> f21b
    holding just k=5, delete file carried) — a step whose net change
    feed must be EMPTY."""
    b = _Builder(str(tmp_path / name))
    f20 = b.data_file("f2020.parquet", [1, 2, 3, 4], 2020)
    f21 = b.data_file("f2021.parquet", [5, 6], 2021)
    m1 = b.manifest(
        "m1.avro",
        [(1, f20, {"year": 2020}, 4, 0), (1, f21, {"year": 2021}, 2, 0)],
    )
    b.snapshot(100, [m1])
    f22 = b.data_file("f2022.parquet", [7, 8], 2022)
    m2 = b.manifest(
        "m2.avro",
        [
            (0, f20, {"year": 2020}, 4, 0),
            (0, f21, {"year": 2021}, 2, 0),
            (1, f22, {"year": 2022}, 2, 0),
        ],
    )
    b.snapshot(150, [m2])
    pd_path = os.path.join(b.root, "data", "pd1.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": [f20, f20, f21],
                "pos": pa.array([1, 3, 1], pa.int64()),
            }
        ),
        pd_path,
    )
    md = b.manifest("md.avro", [(1, pd_path, {"year": None}, 3, 1)])
    b.snapshot(200, [m2, md], contents=[0, 1])
    # s250: compaction of f21 under its delete -> f21b(k=5)
    f21b = b.data_file("f2021b.parquet", [5], 2021)
    m3 = b.manifest(
        "m3.avro",
        [
            (0, f20, {"year": 2020}, 4, 0),
            (2, f21, {"year": 2021}, 2, 0),  # DELETED entry
            (1, f21b, {"year": 2021}, 1, 0),
            (0, f22, {"year": 2022}, 2, 0),
        ],
    )
    b.snapshot(250, [m3, md], contents=[0, 1])
    b.commit(current_snapshot_id=250)
    return b


def test_iceberg_change_feed(spark, tmp_path):
    """Appends stream through, a delete-manifest step surfaces exactly
    the newly-masked rows, and a compaction that merely materializes an
    existing delete nets to zero changes."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_read_changes,
    )

    b = _mor_history(tmp_path)
    feed = iceberg_read_changes(spark, b.root, 100).collect()
    got = {(r.k, r._change_type, r._snapshot_id) for r in feed}
    assert got == {
        (7, "insert", 150),
        (8, "insert", 150),
        (2, "delete", 200),
        (4, "delete", 200),
        (6, "delete", 200),
    }
    # sub-range: just the delete step
    sub = iceberg_read_changes(spark, b.root, 150, 200).collect()
    assert {(r.k, r._change_type) for r in sub} == {
        (2, "delete"),
        (4, "delete"),
        (6, "delete"),
    }
    # the compaction-only step nets to an empty feed
    empty = iceberg_read_changes(spark, b.root, 200, 250).collect()
    assert empty == []
    with pytest.raises(ValueError, match="must come after"):
        iceberg_read_changes(spark, b.root, 200, 100)


def test_iceberg_change_feed_replays_to_snapshot(spark, tmp_path):
    """Replay identity across every snapshot pair: multiset(snap a) +
    inserts - deletes over (a, b] == multiset(snap b)."""
    from collections import Counter

    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_read_changes,
    )

    b = _mor_history(tmp_path, "morhistid")
    ids = [100, 150, 200, 250]

    def rows_at(sid):
        return Counter(
            (r.k, r.year, r.v)
            for r in read_iceberg_table(spark, b.root, snapshot_id=sid).collect()
        )

    for i, frm in enumerate(ids[:-1]):
        for to in ids[i + 1:]:
            state = Counter(rows_at(frm))
            for r in iceberg_read_changes(spark, b.root, frm, to).collect():
                key = (r.k, r.year, r.v)
                if r._change_type == "insert":
                    state[key] += 1
                else:
                    state[key] -= 1
                    if state[key] == 0:
                        del state[key]
            assert state == rows_at(to), (frm, to)


def test_iceberg_change_feed_branched_history_refused(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_read_changes,
    )

    b = _Builder(str(tmp_path / "branch"))
    f20 = b.data_file("f2020.parquet", [1], 2020)
    m1 = b.manifest("m1.avro", [(1, f20, {"year": 2020}, 1, 0)])
    b.snapshot(100, [m1])
    b.snapshot(200, [m1])
    b.snapshots[1]["parent-snapshot-id"] = 999  # not its predecessor
    b.commit(current_snapshot_id=200)
    with pytest.raises(NotImplementedError, match="branched"):
        iceberg_read_changes(spark, b.root, 100)


def test_iceberg_change_feed_migrated_layout_refused(spark, tmp_path):
    """A step adding a data file without its identity-partition source
    column (migrated layout) is refused by the batch feed, as by the
    snapshot reader and the CDF tail — reading on would emit the
    manifest's year as a silent NULL."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_read_changes,
    )

    b = _Builder(str(tmp_path / "mig"))
    f20 = b.data_file("f2020.parquet", [1], 2020)
    m1 = b.manifest("m1.avro", [(1, f20, {"year": 2020}, 1, 0)])
    b.snapshot(100, [m1])
    stripped = os.path.join(b.root, "data", "stripped.parquet")
    pq.write_table(
        pa.table({"k": pa.array([7], pa.int64()), "v": pa.array(["a"])}),
        stripped,
    )
    m2 = b.manifest("m2.avro", [(1, stripped, {"year": 2001}, 1, 0)])
    b.snapshot(200, [m1, m2])
    b.commit(current_snapshot_id=200)
    with pytest.raises(NotImplementedError, match="identity-partition"):
        iceberg_read_changes(spark, b.root, 100)


# --- v2 equality deletes (r18) ---------------------------------------------


def _eq_delete_file(b, name, cols: dict):
    p = os.path.join(b.root, "data", name)
    pq.write_table(pa.table(cols), p)
    return p


def test_equality_deletes_masked_with_sequence_scoping(spark, tmp_path):
    """Equality deletes subtract rows matching the delete file's key
    values — but ONLY from data files with strictly smaller data
    sequence numbers, so a row re-inserted AFTER the delete (the
    Flink/CDC upsert pattern) survives; time travel before the delete
    still sees everything.  Sequence numbers are inherited from the
    manifest-list entries per the spec."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        read_iceberg_table,
    )

    b = _Builder(str(tmp_path / "eq"))
    f20 = b.data_file("f2020.parquet", [1, 2, 3, 4], 2020)
    f21 = b.data_file("f2021.parquet", [5, 6, 7, 8], 2021)
    m1 = b.manifest(
        "m1.avro",
        [(1, f20, {"year": 2020}, 4, 0), (1, f21, {"year": 2021}, 4, 0)],
    )
    b.snapshot(1, [m1], contents=[0], seqs=[1])

    ed = _eq_delete_file(
        b, "eqdel.parquet", {"k": pa.array([2, 6, 100], pa.int64())}
    )
    md = b.manifest(
        "md.avro",
        [(1, ed, {"year": None}, 3, 2)],
        equality_ids=[[1]],
    )
    b.snapshot(2, [m1, md], contents=[0, 1], seqs=[1, 2])

    # snap 3: k=2 re-inserted at seq 3 (> delete seq 2) -> survives
    f20b = b.data_file("f2020b.parquet", [2], 2020)
    m3 = b.manifest("m3.avro", [(1, f20b, {"year": 2020}, 1, 0)])
    b.snapshot(3, [m1, md, m3], contents=[0, 1, 0], seqs=[1, 2, 3])
    b.commit(current_snapshot_id=3)

    s1 = {r.k for r in read_iceberg_table(spark, b.root, snapshot_id=1).collect()}
    assert s1 == {1, 2, 3, 4, 5, 6, 7, 8}
    s2 = {r.k for r in read_iceberg_table(spark, b.root, snapshot_id=2).collect()}
    assert s2 == {1, 3, 4, 5, 7, 8}
    latest = [
        (r.k, r.year)
        for r in read_iceberg_table(spark, b.root).collect()
    ]
    assert sorted(latest) == [
        (1, 2020), (2, 2020), (3, 2020), (4, 2020),
        (5, 2021), (7, 2021), (8, 2021),
    ]


def test_equality_deletes_multi_column_and_null_match(spark, tmp_path):
    """Multi-column equality ids delete only full-tuple matches, and a
    NULL in the delete row matches NULL in the data (the spec's
    null-safe equality)."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        read_iceberg_table,
    )

    b = _Builder(str(tmp_path / "eqm"))
    p = os.path.join(b.root, "data", "f.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 1, 2, None], pa.int64()),
                "year": pa.array([2020, 2021, 2020, 2020], pa.int32()),
                "v": ["a", "b", "c", "d"],
            }
        ),
        p,
    )
    m1 = b.manifest("m1.avro", [(1, p, {"year": None}, 4, 0)])
    ed = _eq_delete_file(
        b,
        "eqdel.parquet",
        {
            "k": pa.array([1, None], pa.int64()),
            "year": pa.array([2020, 2020], pa.int32()),
        },
    )
    md = b.manifest(
        "md.avro", [(1, ed, {"year": None}, 2, 2)], equality_ids=[[1, 2]]
    )
    b.snapshot(1, [m1, md], contents=[0, 1], seqs=[1, 2])
    b.commit(current_snapshot_id=1)

    got = {(r.k, r.v) for r in read_iceberg_table(spark, b.root).collect()}
    # (1, 2020) and (NULL, 2020) deleted; (1, 2021) and (2, 2020) stay
    assert got == {(1, "b"), (2, "c")}


def test_equality_deletes_compose_with_position_deletes(spark, tmp_path):
    """Both delete kinds in one snapshot: position deletes mask their
    exact (file, pos) rows, equality deletes mask their key matches."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        read_iceberg_table,
    )

    b = _Builder(str(tmp_path / "eqpos"))
    f20 = b.data_file("f2020.parquet", [1, 2, 3, 4], 2020)
    m1 = b.manifest("m1.avro", [(1, f20, {"year": 2020}, 4, 0)])
    pd_path = os.path.join(b.root, "data", "posdel.parquet")
    pq.write_table(
        pa.table(
            {"file_path": [f20], "pos": pa.array([0], pa.int64())}
        ),
        pd_path,
    )
    ed = _eq_delete_file(b, "eqdel.parquet", {"k": pa.array([3], pa.int64())})
    md = b.manifest(
        "md.avro",
        [(1, pd_path, {"year": None}, 1, 1), (1, ed, {"year": None}, 1, 2)],
        equality_ids=[None, [1]],
    )
    b.snapshot(1, [m1, md], contents=[0, 1], seqs=[1, 2])
    b.commit(current_snapshot_id=1)

    got = {r.k for r in read_iceberg_table(spark, b.root).collect()}
    assert got == {2, 4}  # pos 0 (k=1) and k=3 both masked


def test_change_feed_refuses_equality_deletes(spark, tmp_path):
    """The snapshot diff feed cannot express equality-delete coverage
    changes as file-set algebra — refused loudly, never a wrong diff."""
    from species_range_data_pipeline_spark.sources.iceberg_log import (
        iceberg_read_changes,
    )

    b = _Builder(str(tmp_path / "eqcf"))
    f20 = b.data_file("f2020.parquet", [1, 2], 2020)
    m1 = b.manifest("m1.avro", [(1, f20, {"year": 2020}, 2, 0)])
    b.snapshot(1, [m1], contents=[0], seqs=[1])
    ed = _eq_delete_file(b, "eqdel.parquet", {"k": pa.array([1], pa.int64())})
    md = b.manifest(
        "md.avro", [(1, ed, {"year": None}, 1, 2)], equality_ids=[[1]]
    )
    b.snapshot(2, [m1, md], contents=[0, 1], seqs=[1, 2])
    b.commit(current_snapshot_id=2)
    with pytest.raises(NotImplementedError, match="equality-delete"):
        iceberg_read_changes(spark, b.root, 1).collect()
