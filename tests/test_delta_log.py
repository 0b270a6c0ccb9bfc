"""Read-only Delta-layout reader (VERDICT r15 next #6).

The fixture log is written BY THE TESTS (no Delta writer exists in the
package, by design): parquet data files via Spark/pyarrow plus
hand-written ``_delta_log/*.json`` commits following the public Delta
protocol spec — add/remove replay, partitionValues, URL-encoded paths,
stats zone maps, and every refusal boundary the module documents.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from species_range_data_pipeline_spark.sources.delta_log import (
    delta_log_versions,
    delta_scan_files,
    read_delta_table,
)

_PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _schema_string(fields):
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": {}}
                for n, t in fields
            ],
        }
    )


def _meta(fields, partition_cols=(), configuration=None):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(fields),
            "partitionColumns": list(partition_cols),
            "configuration": configuration or {},
        }
    }


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _data_file(table, rel, cols: dict, stats: dict | None = None):
    """Write a parquet data file at ``rel`` and return its add action."""
    fpath = os.path.join(table, rel)
    if os.path.dirname(fpath):
        os.makedirs(os.path.dirname(fpath), exist_ok=True)
    pq.write_table(pa.table(cols), fpath)
    add = {
        "path": rel,
        "partitionValues": {},
        "size": os.path.getsize(fpath),
        "modificationTime": 0,
        "dataChange": True,
    }
    if stats is not None:
        add["stats"] = json.dumps(stats)
    return {"add": add}


def _basic_table(tmp_path, name="t"):
    table = str(tmp_path / name)
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long"), ("v", "string")]
    a1 = _data_file(
        table,
        "part-0001.parquet",
        {"k": [1, 2, 3], "v": ["a", "b", "c"]},
        stats={
            "numRecords": 3,
            "minValues": {"k": 1},
            "maxValues": {"k": 3},
            "nullCount": {"k": 0, "v": 0},
        },
    )
    a2 = _data_file(
        table,
        "part-0002.parquet",
        {"k": [10, 11], "v": ["x", "y"]},
        stats={
            "numRecords": 2,
            "minValues": {"k": 10},
            "maxValues": {"k": 11},
            "nullCount": {"k": 0, "v": 0},
        },
    )
    _commit(table, 0, [_PROTOCOL, _meta(fields), a1, a2])
    return table, a1, a2


def test_snapshot_read_and_time_travel(spark, tmp_path):
    """Adds-minus-removes replay: the latest snapshot drops the removed
    file, VERSION AS OF 0 still sees it."""
    table, a1, a2 = _basic_table(tmp_path)
    # v1: compact away part-0001 into part-0003 (same rows, one remove)
    a3 = _data_file(
        table, "part-0003.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]}
    )
    _commit(
        table,
        1,
        [
            {"remove": {"path": "part-0001.parquet", "dataChange": False}},
            a3,
        ],
    )

    assert delta_log_versions(table) == [0, 1]
    latest = {
        (r.k, r.v) for r in read_delta_table(spark, table).collect()
    }
    assert latest == {(1, "a"), (2, "b"), (3, "c"), (10, "x"), (11, "y")}
    files_latest = {os.path.basename(f) for f in delta_scan_files(table)}
    assert files_latest == {"part-0002.parquet", "part-0003.parquet"}
    files_v0 = {os.path.basename(f) for f in delta_scan_files(table, 0)}
    assert files_v0 == {"part-0001.parquet", "part-0002.parquet"}
    v0 = {(r.k, r.v) for r in read_delta_table(spark, table, version=0).collect()}
    assert v0 == latest  # same logical rows pre/post compaction


def test_stats_zone_maps_prune_files(spark, tmp_path):
    """add.stats minValues/maxValues feed the manifest pruner: a filter
    outside a file's range skips the file without opening it, and the
    surviving predicate still applies exactly."""
    table, a1, a2 = _basic_table(tmp_path)
    pruned = delta_scan_files(table, filters=[("k", ">=", 10)])
    assert [os.path.basename(f) for f in pruned] == ["part-0002.parquet"]
    got = {
        (r.k, r.v)
        for r in read_delta_table(
            spark, table, filters=[("k", ">=", 10)]
        ).collect()
    }
    assert got == {(10, "x"), (11, "y")}
    # filter inside the kept file's range still filters rows exactly
    got = {
        (r.k, r.v)
        for r in read_delta_table(
            spark, table, filters=[("k", "=", 11)]
        ).collect()
    }
    assert got == {(11, "y")}
    # everything pruned -> empty frame, full schema
    empty = read_delta_table(spark, table, filters=[("k", ">", 99)])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v"]


def test_partitioned_table_restores_typed_columns(spark, tmp_path):
    """Partition values live only in the log (string-serialized); the
    read restores them as typed columns in schema order via the
    broadcast basename map, and a partition filter prunes files."""
    table = str(tmp_path / "p")
    os.makedirs(os.path.join(table, "y=2020"), exist_ok=True)
    os.makedirs(os.path.join(table, "y=2021"), exist_ok=True)
    fields = [("k", "long"), ("y", "integer"), ("v", "string")]
    adds = []
    for year, ks in (("2020", [1, 2]), ("2021", [3, 4])):
        rel = f"y={year}/part-{year}.parquet"
        a = _data_file(
            table,
            rel,
            {"k": ks, "v": [f"{year}-{k}" for k in ks]},
            stats={
                "numRecords": 2,
                "minValues": {"k": min(ks)},
                "maxValues": {"k": max(ks)},
                "nullCount": {"k": 0, "v": 0},
            },
        )
        a["add"]["partitionValues"] = {"y": year}
        adds.append(a)
    _commit(table, 0, [_PROTOCOL, _meta(fields, partition_cols=["y"]), *adds])

    df = read_delta_table(spark, table)
    assert [f.name for f in df.schema.fields] == ["k", "y", "v"]
    assert dict(df.dtypes)["y"] == "int"
    got = {(r.k, r.y, r.v) for r in df.collect()}
    assert got == {
        (1, 2020, "2020-1"),
        (2, 2020, "2020-2"),
        (3, 2021, "2021-3"),
        (4, 2021, "2021-4"),
    }
    # partition filter prunes at the FILE level (typed [v, v] range)
    pruned = delta_scan_files(table, filters=[("y", "=", 2021)])
    assert [os.path.basename(f) for f in pruned] == ["part-2021.parquet"]
    got = {
        (r.k, r.y)
        for r in read_delta_table(
            spark, table, filters=[("y", "=", 2021)]
        ).collect()
    }
    assert got == {(3, 2021), (4, 2021)}


def test_null_partition_value_and_url_encoded_path(spark, tmp_path):
    table = str(tmp_path / "n")
    os.makedirs(os.path.join(table, "sub dir"), exist_ok=True)
    fields = [("k", "long"), ("g", "string")]
    a = _data_file(table, "sub dir/f1.parquet", {"k": [7]})
    a["add"]["path"] = "sub%20dir/f1.parquet"  # URL-encoded, per spec
    a["add"]["partitionValues"] = {"g": None}  # NULL partition
    _commit(table, 0, [_PROTOCOL, _meta(fields, partition_cols=["g"]), a])
    rows = read_delta_table(spark, table).collect()
    assert [(r.k, r.g) for r in rows] == [(7, None)]
    # a not_null filter on the partition column prunes the file outright
    assert delta_scan_files(table, filters=[("g", "not_null", None)]) == []


def test_refusals_are_loud(spark, tmp_path):
    """Every unsupported layout feature raises, never mis-reads."""
    # minReaderVersion > 1
    t1 = str(tmp_path / "r1")
    os.makedirs(t1, exist_ok=True)
    a = _data_file(t1, "f.parquet", {"k": [1]})
    _commit(
        t1,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            _meta([("k", "long")]),
            a,
        ],
    )
    with pytest.raises(NotImplementedError, match="minReaderVersion=3"):
        read_delta_table(spark, t1)

    # minReaderVersion=3 carrying a feature beyond the implemented
    # pair (deletionVectors + columnMapping are both admitted from r18)
    t1b = str(tmp_path / "r1b")
    os.makedirs(t1b, exist_ok=True)
    a = _data_file(t1b, "f.parquet", {"k": [1]})
    _commit(
        t1b,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors", "timestampNtz"],
                }
            },
            _meta([("k", "long")]),
            a,
        ],
    )
    with pytest.raises(NotImplementedError, match="timestampNtz"):
        read_delta_table(spark, t1b)

    # deletion vector with an out-of-spec storageType (even under a
    # lying protocol: the add itself is validated)
    t2 = str(tmp_path / "r2")
    os.makedirs(t2, exist_ok=True)
    a = _data_file(t2, "f.parquet", {"k": [1]})
    a["add"]["deletionVector"] = {"storageType": "z", "pathOrInlineDv": "x"}
    _commit(t2, 0, [_PROTOCOL, _meta([("k", "long")]), a])
    with pytest.raises(NotImplementedError, match="storageType"):
        read_delta_table(spark, t2)

    # column mapping: ID mode reads since r18, but a schema field
    # without the spec-required delta.columnMapping.id is refused
    # (conforming id-mode tests — test_column_mapping_id_* below)
    t3 = str(tmp_path / "r3")
    os.makedirs(t3, exist_ok=True)
    a = _data_file(t3, "f.parquet", {"k": [1]})
    _commit(
        t3,
        0,
        [
            _PROTOCOL,
            _meta(
                [("k", "long")],
                configuration={"delta.columnMapping.mode": "id"},
            ),
            a,
        ],
    )
    with pytest.raises(
        NotImplementedError, match="delta.columnMapping.id"
    ):
        read_delta_table(spark, t3)

    # JSON-rendered v2 checkpoint: an unrecognized checkpoint shape
    # (parquet v2 checkpoints are read since r18 —
    # test_v2_checkpoint_* below)
    t4, *_ = _basic_table(tmp_path, "r4")
    v2name = f"{0:020d}.checkpoint.80a083e8-7026-4e79-81be-000000000000.json"
    with open(os.path.join(t4, "_delta_log", v2name), "w") as fh:
        fh.write("{}")
    with pytest.raises(NotImplementedError, match="unrecognized checkpoint"):
        read_delta_table(spark, t4)

    # non-contiguous log (commit 0 vacuumed away)
    t5 = str(tmp_path / "r5")
    os.makedirs(t5, exist_ok=True)
    a = _data_file(t5, "f.parquet", {"k": [1]})
    _commit(t5, 1, [_PROTOCOL, _meta([("k", "long")]), a])
    with pytest.raises(NotImplementedError, match="cannot reach version"):
        read_delta_table(spark, t5)

    # absolute data-file path (shallow clone)
    t6 = str(tmp_path / "r6")
    os.makedirs(t6, exist_ok=True)
    a = _data_file(t6, "f.parquet", {"k": [1]})
    a["add"]["path"] = "file:///elsewhere/f.parquet"
    _commit(t6, 0, [_PROTOCOL, _meta([("k", "long")]), a])
    with pytest.raises(NotImplementedError, match="absolute"):
        read_delta_table(spark, t6)

    # not a delta table at all
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        read_delta_table(spark, str(tmp_path / "nope"))


def test_last_add_wins_and_commitinfo_ignored(spark, tmp_path):
    """Re-adding an existing path replaces its metadata (the spec's
    last-writer-wins per path); commitInfo/txn actions are inert."""
    table = str(tmp_path / "w")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long")]
    a = _data_file(table, "f.parquet", {"k": [1, 2]})
    _commit(
        table,
        0,
        [
            _PROTOCOL,
            _meta(fields),
            a,
            {"commitInfo": {"operation": "WRITE"}},
            {"txn": {"appId": "app", "version": 1}},
        ],
    )
    # v1 rewrites the same path in place (new rows)
    pq.write_table(
        pa.table({"k": [5, 6, 7]}), os.path.join(table, "f.parquet")
    )
    a2 = {
        "add": {
            "path": "f.parquet",
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(table, "f.parquet")),
            "modificationTime": 1,
            "dataChange": True,
        }
    }
    _commit(table, 1, [a2, {"commitInfo": {"operation": "REPLACE"}}])
    got = sorted(r.k for r in read_delta_table(spark, table).collect())
    assert got == [5, 6, 7]
    assert len(delta_scan_files(table)) == 1


def _write_classic_checkpoint(table, version, adds, fields, parts=1):
    """Spec-shaped classic checkpoint parquet: one action per row, struct
    columns, partitionValues as a real parquet MAP (what delta writers
    emit — to_pylist yields kv tuple lists, the shape the reader must
    re-dict)."""
    pv_map = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pv_map),
            ("size", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_t),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None,
         "metaData": {
             "id": "0" * 32,
             "schemaString": _schema_string(fields),
             "partitionColumns": [],
             "configuration": [],
         },
         "add": None},
    ] + [
        {"protocol": None, "metaData": None,
         "add": {"path": a[0], "partitionValues": list(a[1].items()),
                 "size": 1, "dataChange": True, "stats": a[2],
                 "deletionVector": a[3] if len(a) > 3 else None}}
        for a in adds
    ]
    schema = pa.schema(
        [("protocol", proto_t), ("metaData", meta_t), ("add", add_t)]
    )
    tbl = pa.Table.from_pylist(rows, schema=schema)
    log = os.path.join(table, "_delta_log")
    if parts == 1:
        pq.write_table(tbl, os.path.join(log, f"{version:020d}.checkpoint.parquet"))
    else:
        per = max(1, len(rows) // parts)
        for i in range(parts):
            lo = i * per
            hi = len(rows) if i == parts - 1 else (i + 1) * per
            pq.write_table(
                tbl.slice(lo, hi - lo),
                os.path.join(
                    log,
                    f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet",
                ),
            )


def test_checkpoint_replay_after_log_cleanup(spark, tmp_path):
    """A classic checkpoint IS the snapshot at its version: with the
    pre-checkpoint JSON commits deleted (log cleanup), the latest
    snapshot still replays from checkpoint + JSON tail; time travel
    BELOW the checkpoint refuses loudly."""
    table, a1, a2 = _basic_table(tmp_path, "ckpt")
    fields = [("k", "long"), ("v", "string")]
    # v1 removes part-0001; checkpoint at v1 holds the live set
    _commit(table, 1, [{"remove": {"path": "part-0001.parquet",
                                   "dataChange": True}}])
    _write_classic_checkpoint(
        table, 1,
        [("part-0002.parquet", {}, json.dumps(
            {"numRecords": 2, "minValues": {"k": 10},
             "maxValues": {"k": 11}, "nullCount": {"k": 0}}))],
        fields,
    )
    # v2 adds another file via a JSON commit after the checkpoint
    a3 = _data_file(
        table,
        "part-0003.parquet",
        {"k": [20], "v": ["z"]},
        stats={"numRecords": 1, "minValues": {"k": 20},
               "maxValues": {"k": 20}, "nullCount": {"k": 0}},
    )
    _commit(table, 2, [a3])
    # log cleanup: pre-checkpoint JSON commits vanish
    os.unlink(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    os.unlink(os.path.join(table, "_delta_log", f"{1:020d}.json"))
    with open(os.path.join(table, "_delta_log", "_last_checkpoint"), "w") as fh:
        fh.write('{"version": 1, "size": 3}')

    got = {(r.k, r.v) for r in read_delta_table(spark, table).collect()}
    assert got == {(10, "x"), (11, "y"), (20, "z")}
    # checkpoint-carried stats still prune (kv-tuple map decode path)
    assert [os.path.basename(f) for f in delta_scan_files(
        table, filters=[("k", "<", 15)])] == ["part-0002.parquet"]
    # versions below the checkpoint are unreachable -> loud
    with pytest.raises(NotImplementedError, match="cannot reach version 0"):
        read_delta_table(spark, table, version=0)
    # a requested version beyond the newest commit is a plain ValueError
    with pytest.raises(ValueError, match="out of range"):
        read_delta_table(spark, table, version=9)


def test_multipart_checkpoint_and_partition_map(spark, tmp_path):
    """Multi-part classic checkpoints (N.checkpoint.M.P.parquet) load
    across parts, and MAP-typed partitionValues re-dict into typed
    partition columns."""
    table = str(tmp_path / "mp")
    os.makedirs(os.path.join(table, "_delta_log"), exist_ok=True)
    os.makedirs(os.path.join(table, "y=2020"), exist_ok=True)
    os.makedirs(os.path.join(table, "y=2021"), exist_ok=True)
    fields = [("k", "long"), ("y", "integer"), ("v", "string")]
    for year, ks in (("2020", [1, 2]), ("2021", [3, 4])):
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()),
                      "v": [f"{year}-{k}" for k in ks]}),
            os.path.join(table, f"y={year}", f"f{year}.parquet"),
        )
    # checkpoint at v0 is the only log content (no JSON at all)
    pv_adds = [
        (f"y={year}/f{year}.parquet", {"y": year}, json.dumps(
            {"numRecords": 2}))
        for year in ("2020", "2021")
    ]
    _write_classic_checkpoint(table, 0, pv_adds, fields, parts=2)
    # partitionColumns must come from the checkpoint metaData: patch it
    # by rewriting part 1 with partition columns set
    import pyarrow.parquet as _pq

    log = os.path.join(table, "_delta_log")
    p1 = os.path.join(log, f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet")
    t1 = _pq.read_table(p1).to_pylist()
    for row in t1:
        if row["metaData"] and row["metaData"].get("schemaString"):
            row["metaData"]["partitionColumns"] = ["y"]
            row["metaData"]["configuration"] = []
            row["metaData"]["id"] = "0" * 32
    _pq.write_table(
        pa.Table.from_pylist(t1, schema=_pq.read_schema(p1)), p1
    )

    df = read_delta_table(spark, table)
    assert dict(df.dtypes)["y"] == "int"
    got = {(r.k, r.y, r.v) for r in df.collect()}
    assert got == {(1, 2020, "2020-1"), (2, 2020, "2020-2"),
                   (3, 2021, "2021-3"), (4, 2021, "2021-4")}
    pruned = delta_scan_files(table, filters=[("y", "=", 2020)])
    assert [os.path.basename(f) for f in pruned] == ["f2020.parquet"]


def test_timestamp_as_of_and_sql_view(spark, tmp_path):
    """TIMESTAMP AS OF resolution from commitInfo timestamps (ms) with
    an mtime fallback, plus the register_delta_view catalog sugar."""
    from species_range_data_pipeline_spark.sources.delta_log import (
        delta_version_as_of,
        register_delta_view,
    )

    table, a1, a2 = _basic_table(tmp_path, "tt")
    # stamp v0 via commitInfo (1000 s); v1 carries NO commitInfo, so its
    # time falls back to the commit file's mtime (2000 s)
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json"), "a") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1000_000}}) + "\n")
    a3 = _data_file(table, "part-0003.parquet", {"k": [99], "v": ["q"]})
    _commit(table, 1, [a3])
    os.utime(os.path.join(log, f"{1:020d}.json"), (2000, 2000))

    assert delta_version_as_of(table, 1500) == 0
    assert delta_version_as_of(table, 2500) == 1
    with pytest.raises(ValueError, match="existed at epoch"):
        delta_version_as_of(table, 500)

    register_delta_view(spark, "dl_tt_v0", table, as_of=1500)
    register_delta_view(spark, "dl_tt_v1", table)
    n0 = spark.sql("SELECT count(*) AS n FROM dl_tt_v0").collect()[0].n
    n1 = spark.sql("SELECT count(*) AS n FROM dl_tt_v1").collect()[0].n
    assert (n0, n1) == (5, 6)
    with pytest.raises(ValueError, match="not both"):
        register_delta_view(spark, "x", table, version=0, as_of=1500)


def test_replay_property_vs_reference(tmp_path):
    """Hypothesis: for ANY add/remove action sequence split across any
    commit boundaries, with a classic checkpoint injected at any
    version, the reader's live-file set equals a brute-force Python
    replay of the full action list."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from species_range_data_pipeline_spark.sources.delta_log import (
        delta_scan_files,
    )

    paths = [f"f{i}.parquet" for i in range(6)]
    action = st.tuples(st.sampled_from(["add", "remove"]), st.sampled_from(paths))

    @settings(max_examples=40, deadline=None)
    @given(
        actions=st.lists(action, min_size=1, max_size=24),
        n_commits=st.integers(min_value=1, max_value=5),
        data=st.data(),
    )
    def check(actions, n_commits, data):
        import shutil as _sh
        import tempfile as _tf

        table = _tf.mkdtemp(dir=str(tmp_path), prefix="prop_")
        try:
            fields = [("k", "long")]
            # split actions into n_commits contiguous chunks
            cuts = sorted(
                data.draw(
                    st.lists(
                        st.integers(0, len(actions)),
                        min_size=n_commits - 1,
                        max_size=n_commits - 1,
                    )
                )
            )
            chunks, lo = [], 0
            for c in [*cuts, len(actions)]:
                chunks.append(actions[lo:c])
                lo = c
            ckpt_at = data.draw(
                st.one_of(st.none(), st.integers(0, len(chunks) - 1))
            )
            live_ref: set[str] = set()
            for v, chunk in enumerate(chunks):
                acts = [_PROTOCOL, _meta(fields)] if v == 0 else []
                for kind, p in chunk:
                    if kind == "add":
                        acts.append(
                            {"add": {"path": p, "partitionValues": {},
                                     "size": 1, "modificationTime": 0,
                                     "dataChange": True}}
                        )
                        live_ref.add(p)
                    else:
                        acts.append(
                            {"remove": {"path": p, "dataChange": True}}
                        )
                        live_ref.discard(p)
                _commit(table, v, acts)
                if ckpt_at == v:
                    _write_classic_checkpoint(
                        table, v,
                        [(p, {}, json.dumps({"numRecords": 1}))
                         for p in sorted(live_ref)],
                        fields,
                    )
            got = {os.path.basename(f) for f in delta_scan_files(table)}
            assert got == live_ref
            # and with the pre-checkpoint JSON commits cleaned up
            if ckpt_at is not None:
                for v in range(ckpt_at):
                    os.unlink(
                        os.path.join(table, "_delta_log", f"{v:020d}.json")
                    )
                got = {os.path.basename(f) for f in delta_scan_files(table)}
                assert got == live_ref
        finally:
            _sh.rmtree(table, ignore_errors=True)

    check()


def test_cli_sql_sniffs_layouts(tmp_path, capsys, spark):
    """`--table NAME=PATH` on the sql subcommand sniffs the directory
    shape: Delta layout, Iceberg layout, and the engine's manifest
    table all register through catalog.register_table_view."""
    from species_range_data_pipeline_spark.__main__ import main
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_manifest_table,
    )
    from tests.test_iceberg_log import _two_snapshot_table

    dl, *_ = _basic_table(tmp_path, "dl")
    ib = _two_snapshot_table(tmp_path, "ib").root
    mt = str(tmp_path / "mt")
    write_manifest_table(spark.range(0, 3).selectExpr("id"), mt)

    rc = main([
        "sql",
        "SELECT (SELECT count(*) FROM d) AS n_delta,"
        " (SELECT count(*) FROM i) AS n_iceberg,"
        " (SELECT count(*) FROM m) AS n_manifest",
        "--table", f"d={dl}",
        "--table", f"i={ib}",
        "--table", f"m={mt}",
    ])
    assert rc == 0
    out = capsys.readouterr().out.replace(" ", "")
    assert "|5" in out and "|4" in out and "|3" in out


def test_files_table_and_history(spark, tmp_path):
    """Metadata-only observability: files_table rows carry log-recorded
    stats/partition values, history carries commitInfo + action counts."""
    from species_range_data_pipeline_spark.sources.delta_log import (
        delta_files_table,
        delta_table_history,
    )

    table, a1, a2 = _basic_table(tmp_path, "ft")
    log = os.path.join(table, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json"), "a") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE",
                                            "timestamp": 1234000}}) + "\n")
    _commit(table, 1, [{"remove": {"path": "part-0001.parquet",
                                   "dataChange": True}}])

    ft = {r.file: r for r in delta_files_table(spark, table).collect()}
    assert set(os.path.basename(f) for f in ft) == {"part-0002.parquet"}
    row = ft[os.path.join(table, "part-0002.parquet")]
    assert row.n_rows == 2 and row.col_min["k"] == "10"
    assert row.null_counts["k"] == 0 and row.partition_values == {}
    assert row.dv_deleted_rows is None  # no deletion vector on this file

    # a DV'd file reports its masked-row count (physical n_rows stays)
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
    )

    add_dv = {
        "add": {
            "path": "part-0002.parquet",
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
            "stats": json.dumps({"numRecords": 2}),
            "deletionVector": make_inline_descriptor([0]),
        }
    }
    _commit(table, 2, [add_dv, {"remove": {"path": "part-0002.parquet",
                                           "dataChange": True}}])
    ft2 = {
        os.path.basename(r.file): r
        for r in delta_files_table(spark, table).collect()
    }
    assert ft2["part-0002.parquet"].dv_deleted_rows == 1
    assert ft2["part-0002.parquet"].n_rows == 2

    hist = {r.version: r for r in delta_table_history(spark, table).collect()}
    assert hist[0].operation == "WRITE" and hist[0].timestamp_ms == 1234000
    assert (hist[0].n_added, hist[0].n_removed) == (2, 0)
    assert hist[1].operation is None
    assert (hist[1].n_added, hist[1].n_removed) == (0, 1)


def test_partitioned_read_plan_is_one_scan_plus_broadcast(spark, tmp_path):
    """Plan pin (the engine's scan-count discipline): the partitioned
    Delta read is ONE parquet scan joined to the log-sized partition
    map by BROADCAST hash join — never a SortMergeJoin exchange, never
    a per-partition scan union."""
    import contextlib
    import io

    table = str(tmp_path / "plan")
    fields = [("k", "long"), ("y", "integer")]
    adds = []
    for year, ks in (("2020", [1, 2]), ("2021", [3, 4])):
        rel = f"y={year}/p{year}.parquet"
        a = _data_file(table, rel, {"k": ks})
        a["add"]["partitionValues"] = {"y": year}
        adds.append(a)
    _commit(table, 0, [_PROTOCOL, _meta(fields, partition_cols=["y"]), *adds])

    df = read_delta_table(spark, table)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    # formatted explain prints each node twice (tree + detail section);
    # count the numbered detail headers = actual plan nodes
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_null_partition_proof_does_not_poison_other_columns(spark, tmp_path):
    """ADVICE r16: a NULL partition value used to fabricate a 1-row
    count sentinel, so any OTHER column with nullCount >= 1 satisfied
    the pruner's all-null proof (n_null >= n_rows) when stats carried
    nullCount but no numRecords — the file was wrongly pruned despite
    holding non-null rows.  The proof is now per-column."""
    table = str(tmp_path / "np")
    fields = [("k", "long"), ("g", "string")]
    a = _data_file(
        table,
        "f1.parquet",
        {"k": pa.array([1, None, 3], pa.int64())},
        stats={"nullCount": {"k": 1}},  # nullCount but NO numRecords
    )
    a["add"]["partitionValues"] = {"g": None}
    _commit(table, 0, [_PROTOCOL, _meta(fields, partition_cols=["g"]), a])

    # k holds non-null rows: a not_null probe must KEEP the file
    kept = delta_scan_files(table, filters=[("k", "not_null", None)])
    assert [os.path.basename(f) for f in kept] == ["f1.parquet"]
    rows = {
        (r.k, r.g)
        for r in read_delta_table(
            spark, table, filters=[("k", "not_null", None)]
        ).collect()
    }
    assert rows == {(1, None), (3, None)}
    # the NULL-partition column itself still prunes — and the per-column
    # proof is stronger: equality/range probes on it prune too (SQL
    # comparisons with NULL are never true)
    assert delta_scan_files(table, filters=[("g", "not_null", None)]) == []
    assert delta_scan_files(table, filters=[("g", "=", "x")]) == []


def test_special_character_basenames_survive_partition_join(spark, tmp_path):
    """ADVICE r16: input_file_name() returns the percent-encoded Hadoop
    URI, so a basename holding a space/%/'+' mismatched the raw
    driver-side join key and every row of that file silently vanished.
    The join key is now URI-decoded."""
    from urllib.parse import quote

    table = str(tmp_path / "sc")
    fields = [("k", "long"), ("y", "integer")]
    adds = []
    for year, name, ks in (
        ("2020", "part a%b.parquet", [1, 2]),
        ("2021", "part+c d.parquet", [3]),
    ):
        rel = f"y={year}/{name}"
        a = _data_file(table, rel, {"k": pa.array(ks, pa.int64())})
        a["add"]["path"] = f"y={year}/{quote(name)}"  # spec: URL-encoded
        a["add"]["partitionValues"] = {"y": year}
        adds.append(a)
    _commit(table, 0, [_PROTOCOL, _meta(fields, partition_cols=["y"]), *adds])

    got = {(r.k, r.y) for r in read_delta_table(spark, table).collect()}
    assert got == {(1, 2020), (2, 2020), (3, 2021)}


_PROTOCOL_DV = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
}


def _dv_table(tmp_path, name="dv"):
    """v0: two files (k 1..4 / k 10..13); v1: a DV masks positions 1,3
    of f1 (k=2,4) — written ADD-BEFORE-REMOVE in the commit to pin the
    spec's (path, DV uid) action keying; v2: an INLINE DV masks
    position 0 of f2 (k=10)."""
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
        make_uuid_descriptor,
    )

    table = str(tmp_path / name)
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long"), ("v", "string")]
    a1 = _data_file(
        table, "f1.parquet", {"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]}
    )
    a2 = _data_file(table, "f2.parquet", {"k": [10, 11, 12, 13],
                                          "v": ["w", "x", "y", "z"]})
    _commit(table, 0, [_PROTOCOL_DV, _meta(fields), a1, a2])

    d1 = make_uuid_descriptor(table, [1, 3])
    add_dv = {"add": dict(a1["add"], deletionVector=d1)}
    rm_old = {"remove": {"path": "f1.parquet", "dataChange": True}}
    _commit(table, 1, [add_dv, rm_old])  # add BEFORE remove, deliberately

    d2 = make_inline_descriptor([0])
    add_dv2 = {"add": dict(a2["add"], deletionVector=d2)}
    rm_old2 = {"remove": {"path": "f2.parquet", "dataChange": True}}
    _commit(table, 2, [rm_old2, add_dv2])
    return table


def test_deletion_vectors_masked_on_read(spark, tmp_path):
    """File- and inline-stored DVs mask exactly their positions; time
    travel before the DV still sees every row; the same-commit
    remove/add pair reconstructs in either JSON order."""
    table = _dv_table(tmp_path)

    got = {(r.k, r.v) for r in read_delta_table(spark, table).collect()}
    assert got == {(1, "a"), (3, "c"), (11, "x"), (12, "y"), (13, "z")}

    v0 = {r.k for r in read_delta_table(spark, table, version=0).collect()}
    assert v0 == {1, 2, 3, 4, 10, 11, 12, 13}
    v1 = {r.k for r in read_delta_table(spark, table, version=1).collect()}
    assert v1 == {1, 3, 10, 11, 12, 13}


def test_deletion_vector_mask_scans_split_clean_from_masked(spark, tmp_path):
    """Plan pin: only DV'd files pay the mask — at version 1 (one DV'd
    file + one clean) the plan is TWO parquet scans with the Arrow
    bitmap filter on exactly one side; a DV-free snapshot stays ONE
    scan with no Python anywhere."""
    import contextlib
    import io
    import re as _re

    table = _dv_table(tmp_path, "dvplan")

    def plan_of(version):
        df = read_delta_table(spark, table, version=version)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p1 = plan_of(1)
    assert len(_re.findall(r"\(\d+\) Scan parquet", p1)) == 2, p1
    assert len(_re.findall(r"\(\d+\) ArrowEvalPython", p1)) == 1, p1

    p0 = plan_of(0)
    assert len(_re.findall(r"\(\d+\) Scan parquet", p0)) == 1, p0
    assert "ArrowEvalPython" not in p0, p0


def test_deletion_vectors_compose_with_partitions(spark, tmp_path):
    """DV mask + partition-column restoration + partition pruning."""
    from species_range_data_pipeline_spark.sources.dv import (
        make_uuid_descriptor,
    )

    table = str(tmp_path / "dvp")
    os.makedirs(os.path.join(table, "y=2020"), exist_ok=True)
    fields = [("k", "long"), ("y", "integer")]
    a = _data_file(table, "y=2020/p.parquet", {"k": [1, 2, 3]})
    a["add"]["partitionValues"] = {"y": "2020"}
    b = _data_file(table, "y=2021/q.parquet", {"k": [7, 8]})
    b["add"]["partitionValues"] = {"y": "2021"}
    _commit(
        table, 0, [_PROTOCOL_DV, _meta(fields, partition_cols=["y"]), a, b]
    )
    d = make_uuid_descriptor(table, [1])  # masks k=2
    _commit(
        table,
        1,
        [
            {"remove": {"path": "y=2020/p.parquet", "dataChange": True}},
            {"add": dict(a["add"], deletionVector=d)},
        ],
    )
    got = {(r.k, r.y) for r in read_delta_table(spark, table).collect()}
    assert got == {(1, 2020), (3, 2020), (7, 2021), (8, 2021)}
    got = {
        (r.k, r.y)
        for r in read_delta_table(
            spark, table, filters=[("y", "=", 2020)]
        ).collect()
    }
    assert got == {(1, 2020), (3, 2020)}


def test_corrupt_dv_is_loud(spark, tmp_path):
    """A DV whose bytes fail the CRC raises at read planning — never a
    silent wrong row set."""
    table = _dv_table(tmp_path, "dvbad")
    (dv_file,) = [
        os.path.join(table, n)
        for n in os.listdir(table)
        if n.startswith("deletion_vector_")
    ]
    blob = bytearray(open(dv_file, "rb").read())
    blob[10] ^= 0xFF
    open(dv_file, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        read_delta_table(spark, table).collect()


def test_two_live_dv_versions_refused(tmp_path):
    """A log that leaves two live (path, DV) pairs for one path is
    writer corruption — refused, since either answer is wrong rows."""
    from species_range_data_pipeline_spark.sources.delta_log import _replay
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
    )

    table = str(tmp_path / "dvdup")
    os.makedirs(table, exist_ok=True)
    a = _data_file(table, "f.parquet", {"k": [1, 2]})
    _commit(table, 0, [_PROTOCOL_DV, _meta([("k", "long")]), a])
    # v1 adds a DV'd version WITHOUT removing the bare one
    _commit(
        table,
        1,
        [{"add": dict(a["add"], deletionVector=make_inline_descriptor([0]))}],
    )
    with pytest.raises(ValueError, match="two live versions"):
        _replay(table)


def _feed_table(tmp_path, name="feed"):
    """v0: f1(k 1..3) + f2(k 10,11); v1: append f3(k 20); v2: rewrite
    f1 -> f1b (k=2 dropped, 1/3 carried, 4 added); v3: DV on f2 masks
    position 0 (k=10)."""
    from species_range_data_pipeline_spark.sources.dv import (
        make_uuid_descriptor,
    )

    table = str(tmp_path / name)
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long"), ("v", "string")]
    a1 = _data_file(table, "f1.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    a2 = _data_file(table, "f2.parquet", {"k": [10, 11], "v": ["x", "y"]})
    _commit(table, 0, [_PROTOCOL_DV, _meta(fields), a1, a2])
    a3 = _data_file(table, "f3.parquet", {"k": [20], "v": ["t"]})
    _commit(table, 1, [a3])
    a1b = _data_file(
        table, "f1b.parquet", {"k": [1, 3, 4], "v": ["a", "c", "d"]}
    )
    _commit(
        table,
        2,
        [a1b, {"remove": {"path": "f1.parquet", "dataChange": True}}],
    )
    d = make_uuid_descriptor(table, [0])
    _commit(
        table,
        3,
        [
            {"add": dict(a2["add"], deletionVector=d)},
            {"remove": {"path": "f2.parquet", "dataChange": True}},
        ],
    )
    return table


def test_change_feed_over_foreign_delta_log(spark, tmp_path):
    """read_delta_changes reconstructs row-level changes from the log
    alone: appends stream through, a rewrite nets out carried rows, and
    a DV step surfaces exactly its newly-masked rows as deletes."""
    from species_range_data_pipeline_spark.sources.delta_log import (
        read_delta_changes,
    )

    table = _feed_table(tmp_path)
    feed = read_delta_changes(spark, table, 0).collect()
    got = {(r.k, r.v, r._change_type, r._commit_version) for r in feed}
    assert got == {
        (20, "t", "insert", 1),
        (2, "b", "delete", 2),
        (4, "d", "insert", 2),
        (10, "x", "delete", 3),
    }
    # sub-range: only the rewrite step
    sub = read_delta_changes(spark, table, 1, 2).collect()
    assert {(r.k, r._change_type) for r in sub} == {
        (2, "delete"),
        (4, "insert"),
    }
    with pytest.raises(ValueError, match="must exceed"):
        read_delta_changes(spark, table, 3, 3)


def test_change_feed_replays_to_snapshot(spark, tmp_path):
    """Replay identity: multiset(snapshot(v)) + inserts - deletes over
    (v, v'] equals multiset(snapshot(v')) for every version pair — the
    same invariant the engine's own manifest feed pins."""
    from collections import Counter

    from species_range_data_pipeline_spark.sources.delta_log import (
        read_delta_changes,
    )

    table = _feed_table(tmp_path, "feedid")

    def rows_at(v):
        return Counter(
            (r.k, r.v)
            for r in read_delta_table(spark, table, version=v).collect()
        )

    for frm in (0, 1, 2):
        for to in range(frm + 1, 4):
            state = Counter(rows_at(frm))
            for r in read_delta_changes(spark, table, frm, to).collect():
                key = (r.k, r.v)
                if r._change_type == "insert":
                    state[key] += 1
                else:
                    state[key] -= 1
                    if state[key] == 0:
                        del state[key]
            assert state == rows_at(to), (frm, to)


def test_change_feed_replays_each_version_once(spark, tmp_path, monkeypatch):
    """The batch feed's step walk carries each step's after-snapshot
    forward as the next step's before: over v0..v3 that is one replay
    per version, not two per step."""
    from species_range_data_pipeline_spark.sources import delta_log

    table = _feed_table(tmp_path, "feedonce")
    calls = []
    real = delta_log._replay

    def counting(path, version=None):
        calls.append(version)
        return real(path, version)

    monkeypatch.setattr(delta_log, "_replay", counting)
    delta_log.read_delta_changes(spark, table, 0)
    assert sorted(calls) == [0, 1, 2, 3]


def test_midlog_rename_refused_add_column_reads(spark, tmp_path):
    """Schema evolution boundary: a mid-log RENAME (illegal without
    column mapping) is refused loudly instead of silently nulling the
    renamed column; a legal ADD COLUMN still reads with nulls."""
    table = str(tmp_path / "evo")
    os.makedirs(table, exist_ok=True)
    a = _data_file(table, "f0.parquet", {"k": [1, 2], "v": ["a", "b"]})
    _commit(table, 0, [_PROTOCOL, _meta([("k", "long"), ("v", "string")]), a])
    # v1: metadata-only RENAME v -> w (no column mapping)
    _commit(table, 1, [_meta([("k", "long"), ("w", "string")])])
    with pytest.raises(NotImplementedError, match="rename/drop"):
        read_delta_table(spark, table).collect()
    # version 0 still reads under its own schema
    v0 = {(r.k, r.v) for r in read_delta_table(spark, table, version=0).collect()}
    assert v0 == {(1, "a"), (2, "b")}

    # legal evolution: ADD COLUMN, old files fill with null
    table2 = str(tmp_path / "evo2")
    os.makedirs(table2, exist_ok=True)
    a = _data_file(table2, "f0.parquet", {"k": [1]})
    _commit(table2, 0, [_PROTOCOL, _meta([("k", "long")]), a])
    b = _data_file(table2, "f1.parquet", {"k": [2], "extra": [9]})
    _commit(
        table2, 1, [_meta([("k", "long"), ("extra", "long")]), b]
    )
    got = {(r.k, r.extra) for r in read_delta_table(spark, table2).collect()}
    assert got == {(1, None), (2, 9)}


def test_checkpoint_carries_deletion_vectors(spark, tmp_path):
    """A classic checkpoint whose add rows carry DV structs replays the
    mask after the pre-checkpoint JSON is cleaned up."""
    from species_range_data_pipeline_spark.sources.dv import (
        make_uuid_descriptor,
    )

    table = str(tmp_path / "ckdv")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long")]
    a = _data_file(table, "f.parquet", {"k": [1, 2, 3]})
    _commit(table, 0, [_PROTOCOL_DV, _meta(fields), a])
    d = make_uuid_descriptor(table, [1])  # masks k=2
    _commit(
        table,
        1,
        [
            {"add": dict(a["add"], deletionVector=d)},
            {"remove": {"path": "f.parquet", "dataChange": True}},
        ],
    )
    _write_classic_checkpoint(
        table,
        1,
        [("f.parquet", {}, json.dumps({"numRecords": 3}), d)],
        fields,
    )
    for v in range(1):
        os.unlink(os.path.join(table, "_delta_log", f"{v:020d}.json"))
    got = {r.k for r in read_delta_table(spark, table).collect()}
    assert got == {1, 3}


def test_replay_property_with_dv_rewrites(tmp_path):
    """Hypothesis: for ANY well-formed action history including DV
    rewrites — each a same-commit remove(old uid)/add(new uid) pair,
    with ALL of a commit's actions arbitrarily permuted — the replayed
    (path -> DV uid) map equals a brute-force reference.  This is the
    spec's (path, DV uid) action keying under fire: keying by path
    alone breaks whenever a permutation puts an add before its paired
    remove."""
    import itertools as _it
    import shutil as _sh
    import tempfile as _tf

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from species_range_data_pipeline_spark.sources.delta_log import (
        _dv_uid,
        _replay,
    )
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
    )

    paths = [f"f{i}.parquet" for i in range(4)]
    action = st.tuples(
        st.sampled_from(["add", "remove", "dv"]), st.sampled_from(paths)
    )

    @settings(max_examples=40, deadline=None)
    @given(
        actions=st.lists(action, min_size=1, max_size=16),
        n_commits=st.integers(min_value=1, max_value=4),
        data=st.data(),
    )
    def check(actions, n_commits, data):
        table = _tf.mkdtemp(dir=str(tmp_path), prefix="dvprop_")
        try:
            fields = [("k", "long")]
            cuts = sorted(
                data.draw(
                    st.lists(
                        st.integers(0, len(actions)),
                        min_size=n_commits - 1,
                        max_size=n_commits - 1,
                    )
                )
            )
            chunks, lo = [], 0
            for c in [*cuts, len(actions)]:
                chunks.append(actions[lo:c])
                lo = c
            ref: dict[str, dict | None] = {}  # live path -> descriptor
            counter = _it.count()

            def _add_json(p, desc):
                add = {"path": p, "partitionValues": {}, "size": 1,
                       "modificationTime": 0, "dataChange": True}
                if desc is not None:
                    add["deletionVector"] = desc
                return {"add": add}

            def _remove_json(p, desc):
                rm = {"path": p, "dataChange": True}
                if desc is not None:
                    rm["deletionVector"] = desc
                return {"remove": rm}

            for v, chunk in enumerate(chunks):
                seen: set[str] = set()
                acts = []
                for kind, p in chunk:
                    if p in seen:
                        continue  # at most one file action set per path
                    seen.add(p)
                    if kind == "add":
                        # re-adding a live DV-less file keeps the SAME
                        # (path, None) key: the spec forbids a commit
                        # holding both a remove and an add under one
                        # (path, DV uid) — reconstruction would be
                        # order-dependent — so a well-formed writer
                        # emits just the add (last-add-wins overwrite)
                        if p in ref and ref[p] is not None:
                            acts.append(_remove_json(p, ref[p]))
                        acts.append(_add_json(p, None))
                        ref[p] = None
                    elif kind == "remove":
                        if p in ref:
                            acts.append(_remove_json(p, ref.pop(p)))
                    else:  # dv rewrite — only meaningful on a live file
                        if p in ref:
                            desc = make_inline_descriptor([next(counter)])
                            acts.append(_remove_json(p, ref[p]))
                            acts.append(_add_json(p, desc))
                            ref[p] = desc
                acts = list(data.draw(st.permutations(acts)))
                if v == 0:
                    acts = [_PROTOCOL_DV, _meta(fields), *acts]
                _commit(table, v, acts)
            snap = _replay(table)
            got = {rel: _dv_uid(add) for rel, add in snap["live"].items()}
            want = {
                p: _dv_uid({"deletionVector": d} if d else {})
                for p, d in ref.items()
            }
            assert got == want
        finally:
            _sh.rmtree(table, ignore_errors=True)

    check()


def test_missing_dv_blob_raises_instead_of_resurrecting(spark, tmp_path):
    """The masked scan contains ONLY DV'd files, so a blob-map miss is
    always a key-normalization bug (ADVICE r17): the mask UDF must
    refuse loudly rather than silently keep (resurrect) every deleted
    row of that file."""
    from species_range_data_pipeline_spark.sources.delta_log import (
        _apply_deletion_vectors,
    )
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
    )

    table = str(tmp_path / "miss")
    os.makedirs(table, exist_ok=True)
    fpath = os.path.join(table, "f1.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), fpath)
    scan = spark.read.parquet(fpath)
    # dv_map keyed under a DIFFERENT path than the scan's file_path
    bad = _apply_deletion_vectors(
        spark,
        scan,
        table,
        {os.path.join(table, "elsewhere.parquet"): make_inline_descriptor([0])},
    )
    with pytest.raises(Exception, match="resurrect"):
        bad.collect()


def test_empty_dv_masks_nothing(spark, tmp_path):
    """A cardinality-0 deletion vector keeps every row (and must not
    crash the executor mask on the empty position array — ADVICE r17)."""
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
    )

    table = str(tmp_path / "dv0")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long")]
    a1 = _data_file(table, "f1.parquet", {"k": [1, 2, 3]})
    _commit(table, 0, [_PROTOCOL_DV, _meta(fields), a1])
    add_dv = {"add": dict(a1["add"], deletionVector=make_inline_descriptor([]))}
    _commit(
        table,
        1,
        [add_dv, {"remove": {"path": "f1.parquet", "dataChange": True}}],
    )
    got = sorted(r.k for r in read_delta_table(spark, table).collect())
    assert got == [1, 2, 3]


def test_dv_broadcast_cap_refuses_before_loading(spark, tmp_path):
    """Descriptors declaring more total serialized bytes than
    DV_BROADCAST_CAP_BYTES refuse the read BEFORE any blob is loaded
    (VERDICT r17 wrong #1) — the pointed-to DV file need not even
    exist for the refusal to fire."""
    table = str(tmp_path / "dvcap")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long")]
    a1 = _data_file(table, "f1.parquet", {"k": [1, 2, 3]})
    _commit(table, 0, [_PROTOCOL_DV, _meta(fields), a1])
    huge = {
        "storageType": "u",
        "pathOrInlineDv": "ab^-aKj^aaaaaaaaaaaaaaaaaaaa",
        "offset": 1,
        "sizeInBytes": 2**40,
        "cardinality": 2**30,
    }
    add_dv = {"add": dict(a1["add"], deletionVector=huge)}
    _commit(
        table,
        1,
        [add_dv, {"remove": {"path": "f1.parquet", "dataChange": True}}],
    )
    with pytest.raises(NotImplementedError, match="broadcast cap"):
        read_delta_table(spark, table)


# --- name-mode column mapping (r18) ---------------------------------------

_PROTOCOL_CM = {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}


def _meta_mapped(fields, partition_cols=()):
    """metaData for a name-mode column-mapped table: ``fields`` is
    [(logical, physical, type), ...]; schemaString fields carry the
    spec's ``delta.columnMapping.physicalName``/``id`` metadata and
    ``partitionColumns`` stay LOGICAL (the delta-spark convention)."""
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": lg,
                "type": t,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.physicalName": ph,
                    "delta.columnMapping.id": i + 1,
                },
            }
            for i, (lg, ph, t) in enumerate(fields)
        ],
    }
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": list(partition_cols),
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(len(fields)),
            },
        }
    }


def _mapped_table(tmp_path, name="cm"):
    """v0: partitioned mapped table (logical k/y/v -> physical col-1/
    col-2/col-3), data files under PHYSICAL names, partitionValues and
    stats keyed by PHYSICAL names; v1: RENAME v -> val (physicalName
    stable); v2: DROP k (files still carry col-1)."""
    table = str(tmp_path / name)
    os.makedirs(table, exist_ok=True)
    adds = []
    for year, ks in (("2020", [1, 2]), ("2021", [3, 4])):
        rel = f"y={year}/part-{year}.parquet"
        a = _data_file(
            table,
            rel,
            {"col-1": ks, "col-3": [f"{year}-{k}" for k in ks]},
            stats={
                "numRecords": 2,
                "minValues": {"col-1": min(ks)},
                "maxValues": {"col-1": max(ks)},
                "nullCount": {"col-1": 0, "col-3": 0},
            },
        )
        a["add"]["partitionValues"] = {"col-2": year}
        adds.append(a)
    f0 = [("k", "col-1", "long"), ("y", "col-2", "integer"),
          ("v", "col-3", "string")]
    _commit(table, 0, [_PROTOCOL_CM, _meta_mapped(f0, ["y"]), *adds])
    f1 = [("k", "col-1", "long"), ("y", "col-2", "integer"),
          ("val", "col-3", "string")]
    _commit(table, 1, [_meta_mapped(f1, ["y"])])  # RENAME v -> val
    f2 = [("y", "col-2", "integer"), ("val", "col-3", "string")]
    _commit(table, 2, [_meta_mapped(f2, ["y"])])  # DROP k
    return table


def test_column_mapping_rename_and_drop_read(spark, tmp_path):
    """Name-mode column mapping (VERDICT r17 next #2): data files,
    stats, and partitionValues are written under PHYSICAL names; the
    read resolves them back to logical names, so RENAME COLUMN and
    DROP COLUMN histories — illegal without mapping — read correctly
    at every version."""
    table = _mapped_table(tmp_path)

    v0 = read_delta_table(spark, table, version=0)
    assert [f.name for f in v0.schema.fields] == ["k", "y", "v"]
    assert {(r.k, r.y, r.v) for r in v0.collect()} == {
        (1, 2020, "2020-1"),
        (2, 2020, "2020-2"),
        (3, 2021, "2021-3"),
        (4, 2021, "2021-4"),
    }

    v1 = read_delta_table(spark, table, version=1)  # post-RENAME
    assert [f.name for f in v1.schema.fields] == ["k", "y", "val"]
    assert {(r.k, r.val) for r in v1.collect()} == {
        (1, "2020-1"), (2, "2020-2"), (3, "2021-3"), (4, "2021-4"),
    }

    latest = read_delta_table(spark, table)  # post-DROP: col-1 ignored
    assert [f.name for f in latest.schema.fields] == ["y", "val"]
    assert {(r.y, r.val) for r in latest.collect()} == {
        (2020, "2020-1"), (2020, "2020-2"),
        (2021, "2021-3"), (2021, "2021-4"),
    }


def test_column_mapping_change_feed_across_rename(spark, tmp_path):
    """The batch feed resolves name-mode column mapping per step: after
    a RENAME v -> val (metadata only, no rows), a rewrite step's rows
    carry their values under the renamed LOGICAL column, read from the
    files' unchanged physical names on both sides of the diff."""
    from species_range_data_pipeline_spark.sources.delta_log import (
        read_delta_changes,
    )

    table = str(tmp_path / "cmfeed")
    os.makedirs(table, exist_ok=True)
    a0 = _data_file(
        table, "y=2020/f0.parquet", {"col-1": [1, 2], "col-3": ["a", "b"]}
    )
    a0["add"]["partitionValues"] = {"col-2": "2020"}
    f0 = [("k", "col-1", "long"), ("y", "col-2", "integer"),
          ("v", "col-3", "string")]
    _commit(table, 0, [_PROTOCOL_CM, _meta_mapped(f0, ["y"]), a0])
    f1 = [("k", "col-1", "long"), ("y", "col-2", "integer"),
          ("val", "col-3", "string")]
    _commit(table, 1, [_meta_mapped(f1, ["y"])])  # RENAME v -> val
    a2 = _data_file(
        table, "y=2020/f1.parquet", {"col-1": [1, 5], "col-3": ["a", "e"]}
    )
    a2["add"]["partitionValues"] = {"col-2": "2020"}
    _commit(
        table,
        2,
        [a2, {"remove": {"path": "y=2020/f0.parquet", "dataChange": True}}],
    )

    feed = read_delta_changes(spark, table, 0)
    assert feed.columns == ["k", "y", "val", "_change_type", "_commit_version"]
    assert {tuple(r) for r in feed.collect()} == {
        (2, 2020, "b", "delete", 2),
        (5, 2020, "e", "insert", 2),
    }


def test_column_mapping_zone_maps_and_partition_prune(spark, tmp_path):
    """The subtle part the verdict flagged: physical-keyed add.stats
    and partitionValues must feed the pruner under LOGICAL names — a
    filter on the renamed logical column and one on the partition
    column both skip files without opening anything."""
    table = _mapped_table(tmp_path, "cmprune")

    pruned = delta_scan_files(table, version=1, filters=[("k", ">=", 3)])
    assert [os.path.basename(f) for f in pruned] == ["part-2021.parquet"]
    pruned = delta_scan_files(table, version=1, filters=[("y", "=", 2020)])
    assert [os.path.basename(f) for f in pruned] == ["part-2020.parquet"]
    got = {
        (r.k, r.y, r.val)
        for r in read_delta_table(
            spark, table, version=1, filters=[("k", "<", 3), ("y", "=", 2020)]
        ).collect()
    }
    assert got == {(1, 2020, "2020-1"), (2, 2020, "2020-2")}


def test_column_mapping_composes_with_deletion_vectors(spark, tmp_path):
    """Mapping + merge-on-read: a DV masks physical-file positions and
    the surviving rows still come back under logical names."""
    from species_range_data_pipeline_spark.sources.dv import (
        make_inline_descriptor,
    )

    table = str(tmp_path / "cmdv")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "col-1", "long"), ("v", "col-2", "string")]
    a = _data_file(
        table, "f1.parquet", {"col-1": [1, 2, 3], "col-2": ["a", "b", "c"]}
    )
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "columnMapping"],
            "writerFeatures": ["deletionVectors", "columnMapping"],
        }
    }
    _commit(table, 0, [proto, _meta_mapped(fields), a])
    add_dv = {"add": dict(a["add"], deletionVector=make_inline_descriptor([1]))}
    _commit(
        table, 1,
        [add_dv, {"remove": {"path": "f1.parquet", "dataChange": True}}],
    )
    got = {(r.k, r.v) for r in read_delta_table(spark, table).collect()}
    assert got == {(1, "a"), (3, "c")}


def test_column_mapping_nested_physical_name_refused(spark, tmp_path):
    """Nested struct fields with a physicalName differing from the
    field name are beyond the top-level aliasing this reader does —
    refused loudly, never silently mis-resolved."""
    table = str(tmp_path / "cmnest")
    os.makedirs(table, exist_ok=True)
    nested = {
        "type": "struct",
        "fields": [
            {
                "name": "s",
                "nullable": True,
                "metadata": {"delta.columnMapping.physicalName": "col-1"},
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "inner",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.physicalName": "col-9"
                            },
                        }
                    ],
                },
            }
        ],
    }
    meta = {
        "metaData": {
            "id": "0" * 32,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(nested),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }
    }
    a = _data_file(table, "f1.parquet", {"col-1": [1]})
    _commit(table, 0, [_PROTOCOL_CM, meta, a])
    with pytest.raises(NotImplementedError, match="NESTED"):
        read_delta_table(spark, table)


# --- v2 uuid-named checkpoints (r18) ---------------------------------------


def _write_v2_checkpoint(table, version, rows, sidecar_rows=None, uid="80a083e8-7026-4e79-81be-0000000000b1"):
    """Write a v2 checkpoint parquet (plus one sidecar when given).
    ``rows``/``sidecar_rows`` are lists of single-key action dicts the
    way the log JSON spells them."""
    import pandas as pd

    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)

    def _clean(v):
        # pandas->arrow renders {} as an empty STRUCT, which parquet
        # cannot hold; real checkpoints use MAP columns there.  None
        # round-trips to the same "absent" meaning for the loader.
        if isinstance(v, dict):
            return {k: _clean(x) for k, x in v.items()} if v else None
        return v

    def _frame(actions, extra_cols):
        cols = {c: [] for c in extra_cols}
        for a in actions:
            for c in extra_cols:
                cols[c].append(_clean(a.get(c)))
        return pd.DataFrame(cols)

    main_cols = ["checkpointMetadata", "sidecar", "protocol", "metaData", "add"]
    main = rows[:]
    if sidecar_rows is not None:
        sc_name = f"{uid}-sidecar-1.parquet"
        os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(
                _frame(sidecar_rows, ["add", "remove"]),
                preserve_index=False,
            ),
            os.path.join(log, "_sidecars", sc_name),
        )
        main.append({"sidecar": {"path": sc_name, "sizeInBytes": 1}})
    pq.write_table(
        pa.Table.from_pandas(_frame(main, main_cols), preserve_index=False),
        os.path.join(log, f"{version:020d}.checkpoint.{uid}.parquet"),
    )


def test_v2_checkpoint_replay_after_log_cleanup(spark, tmp_path):
    """A table checkpointed only in the v2 uuid-named format after log
    cleanup (JSON tail only) reads correctly: the checkpoint's inlined
    metaData/protocol plus sidecar add actions reconstruct the
    snapshot, and the JSON tail replays on top (VERDICT r17 next #6)."""
    table = str(tmp_path / "v2ck")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long"), ("v", "string")]
    a1 = _data_file(table, "f1.parquet", {"k": [1, 2], "v": ["a", "b"]})
    a2 = _data_file(table, "f2.parquet", {"k": [3], "v": ["c"]})
    # pretend v0 added f1+junk and v1 removed junk / added f2: the v2
    # checkpoint at version 1 holds the live set {f1, f2}
    _write_v2_checkpoint(
        table,
        1,
        rows=[
            {"checkpointMetadata": {"version": 1}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": _meta(fields)["metaData"]},
        ],
        sidecar_rows=[a1, a2],
    )
    # JSON tail: v2 appends f3 (versions 0-1 were cleaned up)
    a3 = _data_file(table, "f3.parquet", {"k": [9], "v": ["z"]})
    _commit(table, 2, [a3])

    got = {(r.k, r.v) for r in read_delta_table(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (9, "z")}
    # checkpoint-only version (no JSON) reads too
    v1 = {r.k for r in read_delta_table(spark, table, version=1).collect()}
    assert v1 == {1, 2, 3}
    # versions before the checkpoint are honestly unreachable
    with pytest.raises(NotImplementedError, match="cannot reach"):
        read_delta_table(spark, table, version=0)


def test_v2_checkpoint_inlined_actions_no_sidecar(spark, tmp_path):
    """A v2 checkpoint may inline its file actions instead of using
    sidecars."""
    table = str(tmp_path / "v2inline")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long")]
    a1 = _data_file(table, "f1.parquet", {"k": [5, 6]})
    _write_v2_checkpoint(
        table,
        0,
        rows=[
            {"checkpointMetadata": {"version": 0}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": _meta(fields)["metaData"]},
            a1,
        ],
    )
    got = sorted(r.k for r in read_delta_table(spark, table).collect())
    assert got == [5, 6]


def test_v2_checkpoint_version_mismatch_and_missing_sidecar(spark, tmp_path):
    """checkpointMetadata.version must equal the file-name version, and
    a missing sidecar file refuses the reconstruction."""
    table = str(tmp_path / "v2bad")
    os.makedirs(table, exist_ok=True)
    fields = [("k", "long")]
    a1 = _data_file(table, "f1.parquet", {"k": [1]})
    _write_v2_checkpoint(
        table,
        3,
        rows=[
            {"checkpointMetadata": {"version": 2}},  # lies about itself
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": _meta(fields)["metaData"]},
            a1,
        ],
    )
    with pytest.raises(ValueError, match="declares version"):
        read_delta_table(spark, table)

    table2 = str(tmp_path / "v2bad2")
    os.makedirs(table2, exist_ok=True)
    a1 = _data_file(table2, "f1.parquet", {"k": [1]})
    _write_v2_checkpoint(
        table2,
        0,
        rows=[
            {"checkpointMetadata": {"version": 0}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": _meta([("k", "long")])["metaData"]},
            {"sidecar": {"path": "not-there.parquet", "sizeInBytes": 1}},
        ],
    )
    with pytest.raises(FileNotFoundError, match="sidecar"):
        read_delta_table(spark, table2)


# --- id-mode column mapping (r18) -----------------------------------------


def _meta_mapped_id(fields, partition_cols=()):
    """metaData for an ID-mode column-mapped table: ``fields`` is
    [(logical, physical, type, field_id), ...]."""
    schema = {
        "type": "struct",
        "fields": [
            {
                "name": lg,
                "type": t,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.physicalName": ph,
                    "delta.columnMapping.id": fid,
                },
            }
            for lg, ph, t, fid in fields
        ],
    }
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": list(partition_cols),
            "configuration": {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": str(len(fields)),
            },
        }
    }


def _data_file_with_ids(table, rel, cols: dict, ids: dict):
    """Write a parquet data file whose footer carries parquet field
    ids (``ids``: column name -> id), returning its add action."""
    fpath = os.path.join(table, rel)
    if os.path.dirname(fpath):
        os.makedirs(os.path.dirname(fpath), exist_ok=True)
    arrays = {k: pa.array(v) for k, v in cols.items()}
    schema = pa.schema(
        [
            pa.field(
                name,
                arrays[name].type,
                metadata={b"PARQUET:field_id": str(ids[name]).encode()}
                if name in ids
                else None,
            )
            for name in cols
        ]
    )
    pq.write_table(pa.table(arrays, schema=schema), fpath)
    return {
        "add": {
            "path": rel,
            "partitionValues": {},
            "size": os.path.getsize(fpath),
            "modificationTime": 0,
            "dataChange": True,
        }
    }


def test_column_mapping_id_mode_reads_and_rename(spark, tmp_path):
    """ID-mode mapping: physical-name resolution verified against the
    files' parquet field ids — a conforming table (ids agree) reads
    correctly, including across a RENAME commit."""
    table = str(tmp_path / "idm")
    os.makedirs(table, exist_ok=True)
    a = _data_file_with_ids(
        table,
        "f1.parquet",
        {"col-1": [1, 2], "col-2": ["a", "b"]},
        {"col-1": 1, "col-2": 2},
    )
    f0 = [("k", "col-1", "long", 1), ("v", "col-2", "string", 2)]
    _commit(table, 0, [_PROTOCOL_CM, _meta_mapped_id(f0), a])
    f1 = [("k", "col-1", "long", 1), ("val", "col-2", "string", 2)]
    _commit(table, 1, [_meta_mapped_id(f1)])  # RENAME v -> val

    v0 = read_delta_table(spark, table, version=0)
    assert {(r.k, r.v) for r in v0.collect()} == {(1, "a"), (2, "b")}
    latest = read_delta_table(spark, table)
    assert [f.name for f in latest.schema.fields] == ["k", "val"]
    assert {(r.k, r.val) for r in latest.collect()} == {(1, "a"), (2, "b")}


def test_column_mapping_id_mode_mismatched_field_id_refused(
    spark, tmp_path
):
    """A file whose footer field id disagrees with the schema's id for
    that physical name would be silently mis-read by name — refused."""
    table = str(tmp_path / "idm")
    os.makedirs(table, exist_ok=True)
    a = _data_file_with_ids(
        table,
        "f1.parquet",
        {"col-1": [1], "col-2": ["a"]},
        {"col-1": 2, "col-2": 1},  # swapped ids
    )
    f0 = [("k", "col-1", "long", 1), ("v", "col-2", "string", 2)]
    _commit(table, 0, [_PROTOCOL_CM, _meta_mapped_id(f0), a])
    with pytest.raises(NotImplementedError, match="field id"):
        read_delta_table(spark, table).collect()


def test_column_mapping_id_mode_file_without_ids_refused(spark, tmp_path):
    """An id-mode table whose data file carries NO parquet field ids
    cannot be verified — refused rather than resolved by name alone."""
    table = str(tmp_path / "idm")
    os.makedirs(table, exist_ok=True)
    a = _data_file(table, "f1.parquet", {"col-1": [1]})
    f0 = [("k", "col-1", "long", 1)]
    _commit(table, 0, [_PROTOCOL_CM, _meta_mapped_id(f0), a])
    with pytest.raises(NotImplementedError, match="field id"):
        read_delta_table(spark, table).collect()
