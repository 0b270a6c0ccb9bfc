"""Source/sink format adapters: lossless round trips, binary refusal, and —
the scale-critical property — partition pruning on Hive-style layouts."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from species_range_data_pipeline_spark.catalog import load_table
from species_range_data_pipeline_spark.sources.formats import (
    read_table,
    write_table,
)

from .conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_round_trip_orders(spark, tmp_path, fmt):
    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / fmt)
    write_table(orders, path, fmt)
    # read with the writer's schema: the fixture carries TIMESTAMP_NTZ and
    # ORC (correctly) refuses a silent NTZ->LTZ cast
    back = read_table(spark, path, fmt, schema=orders.schema)
    assert back.schema == orders.schema
    assert _rows(back.select(*sorted(back.columns))) == _rows(
        orders.select(*sorted(orders.columns))
    )


def test_text_formats_refuse_binary(spark, tmp_path):
    df = spark.createDataFrame([(1, bytearray(b"\x00\x01"))], "id: long, blob: binary")
    with pytest.raises(ValueError, match="binary"):
        write_table(df, str(tmp_path / "x"), "csv")
    with pytest.raises(ValueError, match="schema"):
        read_table(spark, str(tmp_path / "x"), "json")


def test_partition_pruning_hits_one_directory(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_part")
    write_table(orders, path, "parquet", partition_by=["o_orderstatus"])

    pruned = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the status predicate must be a PARTITION filter (directory skip),
    # not a data filter evaluated per row
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    want = orders.where(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == want


def test_avro_gated_with_clear_remediation(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.formats import avro_available

    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "avro")
    if avro_available(spark):
        write_table(orders, path, "avro")
        back = read_table(spark, path, "avro", schema=orders.schema)
        assert back.count() == orders.count()
    else:
        with pytest.raises(RuntimeError, match="spark-avro"):
            write_table(orders, path, "avro")
        with pytest.raises(RuntimeError, match="spark-avro"):
            read_table(spark, path, "avro")


def test_observed_write_metrics_single_pass(spark, tmp_path):
    """Observation metrics computed during the sink write equal a separate
    aggregate pass — and the plan contains exactly one scan."""
    from species_range_data_pipeline_spark.operators.observe import observed_write

    orders = load_table(spark, SF_SMOKE, "orders")
    got = observed_write(
        orders,
        str(tmp_path / "out"),
        {
            "n_rows": F.count(F.lit(1)),
            "n_open": F.count_if(F.col("o_orderstatus") == "O"),
            "max_price": F.max("o_totalprice"),
        },
    )
    want = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.max("o_totalprice").alias("max_price"),
    ).collect()[0]
    assert got == want.asDict()
    assert spark.read.parquet(str(tmp_path / "out")).count() == got["n_rows"]


def test_range_sorted_layout_disjoint_file_ranges(spark, tmp_path):
    """write_range_sorted yields files with non-overlapping cluster-key
    ranges (the property that makes footer min/max stats prune files) and
    the plan shows a range exchange + in-partition sort."""
    from species_range_data_pipeline_spark.sources.formats import (
        write_range_sorted,
    )

    events = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "by_ts")
    write_range_sorted(events, path, ["ts"], num_files=4)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(per_file) == 4
    for a, b in zip(per_file, per_file[1:]):
        assert a.hi <= b.lo  # disjoint up to boundary equality

    plan = (
        events.repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert spark.read.parquet(path).count() == events.count()


def test_read_merged_schema_unions_evolved_files(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.formats import (
        read_merged_schema,
    )

    p = tmp_path / "evolved"
    spark.createDataFrame([(1, "a")], "id: long, name: string").write.parquet(
        str(p / "v1")
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id: long, name: string, score: double"
    ).write.parquet(str(p / "v2"))
    df = read_merged_schema(spark, str(p / "*"))
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_csv_rejects_routed_not_dropped(spark, tmp_path):
    import pyspark.sql.types as T

    from species_range_data_pipeline_spark.sources.formats import (
        read_csv_with_rejects,
    )

    p = tmp_path / "raw.csv"
    p.write_text(
        "id,qty\n"
        "1,10\n"
        "oops,not-a-number\n"
        "2,20\n"
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("qty", T.LongType())]
    )
    good, rejects = read_csv_with_rejects(spark, str(p), schema)
    assert sorted((r.id, r.qty) for r in good.collect()) == [(1, 10), (2, 20)]
    bad = [r[0] for r in rejects.collect()]
    assert bad == ["oops,not-a-number"]


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.formats import compact_files

    p = str(tmp_path / "shattered")
    events = load_table(spark, SF_SMOKE, "events")
    events.repartition(16).write.parquet(p)
    before_files = len(list((tmp_path / "shattered").glob("part-*.parquet")))
    assert before_files == 16
    want = _rows(events.select("event_id"))

    n = compact_files(spark, p, target_rows_per_file=10**6)
    after = spark.read.parquet(p)
    after_files = len(list((tmp_path / "shattered").glob("part-*.parquet")))
    assert n == 1 and after_files == 1
    assert _rows(after.select("event_id")) == want


def test_dynamic_partition_pruning_on_hive_layout(spark, tmp_path):
    """A selective dim filter prunes fact PARTITIONS at runtime (DPP): the
    scan's PartitionFilters carry a dynamicpruningexpression — on a 100 TB
    Hive-layout fact table this is the difference between reading one
    partition directory and all of them, without any static filter on the
    fact side."""
    import contextlib
    import io

    orders = load_table(spark, SF_SMOKE, "orders")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    spark.createDataFrame(
        [("1-URGENT", "fast"), ("5-LOW", "slow")],
        "o_orderpriority string, cls string",
    ).write.parquet(str(tmp_path / "dim"))

    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim")).where(F.col("cls") == "fast")
    j = fact.join(dim, "o_orderpriority").groupBy("cls").count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    assert "dynamicpruningexpression" in buf.getvalue()
    assert j.collect()[0]["cls"] == "fast"


def test_manifest_table_snapshots_and_crash_isolation(spark, tmp_path):
    """Atomic-manifest table: append/overwrite commits version snapshots
    readable forever (time travel); data files landed WITHOUT a manifest
    commit (writer crash) are invisible to every reader."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_versions,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    df1 = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(100, 150).selectExpr("id", "id * 2 AS v")

    assert write_manifest_table(df1, path, "append") == 0
    assert write_manifest_table(df2, path, "append") == 1
    assert read_manifest_table(spark, path).count() == 150
    assert read_manifest_table(spark, path, version=0).count() == 100

    # overwrite commits a new live set but old versions stay readable
    df3 = spark.range(0, 7).selectExpr("id", "id * 2 AS v")
    assert write_manifest_table(df3, path, "overwrite") == 2
    assert read_manifest_table(spark, path).count() == 7
    assert read_manifest_table(spark, path, version=1).count() == 150

    # simulate a writer that died after landing data, before committing
    orphan = tmp_path / "tbl" / "data_deadbeef0000"
    spark.range(0, 999).write.parquet(str(orphan))
    assert read_manifest_table(spark, path).count() == 7  # still invisible
    assert table_versions(path) == [0, 1, 2]


def test_manifest_stream_sink_exactly_once_on_replay(spark, tmp_path):
    """Streaming commits carry txn=batch_id: re-running the committed batch
    (crash between manifest commit and checkpoint ack) adds nothing."""
    import shutil as sh

    from species_range_data_pipeline_spark.sources.manifest_table import (
        last_committed_txn,
        read_manifest_table,
        write_manifest_table,
        write_stream_manifest,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sh.copy(f"{SF_SMOKE}/events.parquet", src_dir / "a.parquet")
    import pyspark.sql.types as T

    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    path = str(tmp_path / "tbl")
    q = write_stream_manifest(
        stream.select("event_id", "user_id"), path, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    base = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert read_manifest_table(spark, path).count() == base
    assert last_committed_txn(path) == 0

    # replay batch 0 manually (same txn) -> no-op, same version
    batch0 = spark.read.parquet(str(src_dir / "a.parquet")).select(
        "event_id", "user_id"
    )
    v = write_manifest_table(batch0, path, "append", txn=0)
    assert read_manifest_table(spark, path).count() == base
    # a NEW txn does append
    v2 = write_manifest_table(batch0, path, "append", txn=1)
    assert v2 == v + 1
    assert read_manifest_table(spark, path).count() == 2 * base


def test_manifest_version_delta_reads_only_new_rows(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_version_delta,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 100).selectExpr("id"), path)
    write_manifest_table(spark.range(100, 130).selectExpr("id"), path)
    delta = read_version_delta(spark, path, 0)
    assert delta.count() == 30
    assert delta.agg({"id": "min"}).collect()[0][0] == 100


def test_manifest_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_versions,
        vacuum_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 50).selectExpr("id"), path)
    write_manifest_table(spark.range(50, 60).selectExpr("id"), path, "overwrite")
    # crash orphan: data landed, never committed
    spark.range(0, 99).write.parquet(str(tmp_path / "tbl" / "data_orphan00001"))

    # Default retention refuses to touch fresh unreferenced files — an
    # in-flight writer's landed-but-uncommitted data must survive vacuum.
    assert vacuum_manifest_table(path, keep_versions=1) == 0
    assert read_manifest_table(spark, path).count() == 10

    removed = vacuum_manifest_table(path, keep_versions=1, retention_seconds=0)
    assert removed > 0
    assert table_versions(path) == [1]
    assert read_manifest_table(spark, path).count() == 10  # live data intact


def test_manifest_concurrent_commit_loses_cleanly(spark, tmp_path, monkeypatch):
    """A writer whose view of the version log NEVER catches up (the
    pathological race) exhausts its retries and raises — without ever
    clobbering the winner's manifest or committing partial state."""
    from species_range_data_pipeline_spark.sources import manifest_table as mt

    path = str(tmp_path / "tbl")
    mt.write_manifest_table(spark.range(0, 10).selectExpr("id"), path)
    mt.write_manifest_table(spark.range(10, 30).selectExpr("id"), path)  # v1

    real = mt.table_versions
    monkeypatch.setattr(mt, "table_versions", lambda p: [0])  # stale: unaware of v1
    try:
        with pytest.raises(RuntimeError, match="concurrency races"):
            mt.write_manifest_table(spark.range(99, 100).selectExpr("id"), path)
    finally:
        monkeypatch.setattr(mt, "table_versions", real)
    assert mt.read_manifest_table(spark, path).count() == 30  # v1 untouched
    assert mt.table_versions(path) == [0, 1]


def test_manifest_append_retries_past_one_race(spark, tmp_path, monkeypatch):
    """Losing ONE put-if-absent race recomposes against the winner's
    manifest and succeeds: both appends' rows are in the final version
    (append-append always commutes — the Delta conflict rule)."""
    from species_range_data_pipeline_spark.sources import manifest_table as mt

    path = str(tmp_path / "tbl")
    mt.write_manifest_table(spark.range(0, 10).selectExpr("id"), path)
    mt.write_manifest_table(spark.range(10, 30).selectExpr("id"), path)  # v1

    real = mt.table_versions
    calls = {"n": 0}

    def stale_once(p):
        calls["n"] += 1
        return [0] if calls["n"] == 1 else real(p)

    monkeypatch.setattr(mt, "table_versions", stale_once)
    v = mt.write_manifest_table(spark.range(100, 105).selectExpr("id"), path)
    monkeypatch.setattr(mt, "table_versions", real)
    assert v == 2
    assert mt.read_manifest_table(spark, path).count() == 35  # 30 + 5
    assert sorted(r.id for r in mt.read_manifest_table(spark, path)
                  .where("id >= 100").collect()) == [100, 101, 102, 103, 104]


def test_manifest_check_constraints_enforced(spark, tmp_path):
    """CHECK constraints: declared at create, inherited by appends,
    enforced on every commit (append AND DML rewrite) against the NEW
    files only; a violating commit is refused with no version published
    and its staged files removed; NULL passes per the SQL standard."""
    import glob

    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_versions,
        update_where,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    cons = {"v_nonneg": "v >= 0", "g_known": "g IN ('a', 'b')"}
    write_manifest_table(
        spark.range(0, 50).selectExpr(
            "id", "CAST(id AS long) AS v", "IF(id % 2 = 0, 'a', 'b') AS g"
        ).coalesce(1),
        path,
        constraints=cons,
    )
    # conforming append (with a NULL in a checked column: passes)
    write_manifest_table(
        spark.range(50, 60).selectExpr(
            "id", "IF(id = 55, NULL, CAST(id AS long)) AS v", "'a' AS g"
        ).coalesce(1),
        path,
    )
    assert read_manifest_table(spark, path).count() == 60

    # violating append: refused, no new version, staging cleaned up
    with pytest.raises(ValueError, match="v_nonneg"):
        write_manifest_table(
            spark.range(60, 70).selectExpr(
                "id", "CAST(-id AS long) AS v", "'b' AS g"
            ).coalesce(1),
            path,
        )
    assert table_versions(path) == [0, 1]
    assert read_manifest_table(spark, path).count() == 60
    live = set()
    for f in glob.glob(str(tmp_path / "tbl" / "data_*" / "*.parquet")):
        live.add(f)
    # every staged file on disk belongs to a committed version
    from species_range_data_pipeline_spark.sources.manifest_table import (
        _live_files,
    )

    committed = set(_live_files(path, 0)) | set(_live_files(path, 1))
    assert live == committed

    # DML rewrite that would break a constraint: refused the same way
    with pytest.raises(ValueError, match="g_known"):
        update_where(spark, path, [("id", "<", 5)], {"g": "'zz'"})
    assert table_versions(path) == [0, 1]

    # appends cannot change the recorded constraint set
    with pytest.raises(ValueError, match="cannot change"):
        write_manifest_table(
            spark.range(70, 71).selectExpr(
                "id", "CAST(id AS long) AS v", "'a' AS g"
            ),
            path,
            constraints={"other": "v < 10"},
        )


def test_manifest_zone_map_file_skipping(spark, tmp_path):
    """Commits record per-file min/max from the parquet footers; a filtered
    read opens ONLY files whose zone map can match, and still returns the
    exact filtered rows (file skipping composes with the real predicate)."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # three commits with disjoint id ranges -> disjoint zone maps
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        write_manifest_table(
            spark.range(lo, hi)
            .coalesce(1)
            .selectExpr("id", "concat('u', id) AS label"),
            path,
        )
    all_files = manifest_scan_files(path)
    hit = manifest_scan_files(path, filters=[("id", ">=", 250)])
    assert len(all_files) == 3 and len(hit) == 1  # two files never opened

    got = read_manifest_table(spark, path, filters=[("id", ">=", 250)])
    assert got.count() == 50
    assert got.agg({"id": "min"}).collect()[0][0] == 250

    # string zone maps prune too (min/max over utf8)
    assert len(manifest_scan_files(path, filters=[("label", "=", "zzz")])) == 0

    # every file pruned -> empty frame with the committed schema, not an error
    empty = read_manifest_table(spark, path, filters=[("id", ">", 10_000)])
    assert empty.count() == 0 and empty.columns == ["id", "label"]

    # a conjunction prunes on both bounds: only the middle file survives
    mid = manifest_scan_files(
        path, filters=[("id", ">=", 120), ("id", "<", 180)]
    )
    assert len(mid) == 1


def test_manifest_zone_map_absent_stats_never_prunes(spark, tmp_path):
    """A column with no usable stats (or a filter value of an incomparable
    type) keeps the file — skipping is allowed to be incomplete, never
    wrong.  Old manifests written before stats existed behave the same."""
    import json
    import os

    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 10).coalesce(1).selectExpr("id"), path
    )
    # simulate a pre-stats manifest: strip the stats block from v0
    mpath = os.path.join(path, "_manifest", "v0.json")
    with open(mpath) as fh:
        meta = json.load(fh)
    meta.pop("stats")
    os.remove(mpath)
    with open(mpath, "w") as fh:
        json.dump(meta, fh)

    assert len(manifest_scan_files(path, filters=[("id", ">", 10_000)])) == 1
    # ...but the DataFrame predicate still applies: zero rows survive
    assert (
        read_manifest_table(spark, path, filters=[("id", ">", 10_000)]).count()
        == 0
    )


def test_manifest_decimal_columns_write_without_zone_maps(spark, tmp_path):
    """pyarrow cannot extract min/max for integer-backed DECIMAL columns
    (INT32 for DECIMAL(1,1), INT64 for DECIMAL(10,2)).  Such a column is
    treated as stats-less: the write succeeds, a filter on it keeps
    every file and still returns the right rows, and the other columns
    keep their zone maps."""
    from decimal import Decimal

    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(3).coalesce(1).selectExpr(
            "id", "CAST(id AS DECIMAL(10,2)) AS amt", "0.5 AS score"
        ),
        path,
    )
    got = sorted(
        tuple(r) for r in read_manifest_table(spark, path).collect()
    )
    assert got == [
        (i, Decimal(f"{i}.00"), Decimal("0.5")) for i in range(3)
    ]
    assert (
        read_manifest_table(spark, path)
        .schema["score"].dataType.simpleString() == "decimal(1,1)"
    )
    hit = read_manifest_table(spark, path, filters=[("amt", ">", 1)])
    assert [r.id for r in hit.collect()] == [2]
    assert len(manifest_scan_files(path, filters=[("amt", ">", 100)])) == 1
    # the id column keeps its zone map: an out-of-range filter prunes
    assert manifest_scan_files(path, filters=[("id", ">", 10)]) == []


def test_manifest_optimize_zorder_makes_skipping_effective(spark, tmp_path):
    """OPTIMIZE ZORDER: commits whose files each span the FULL value range
    prune nothing; after rewriting into z-ordered files, single-column
    predicates on EITHER dimension skip most files, rows are intact, and
    the pre-optimize version is still time-travelable."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        optimize_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # 4 commits, each a random shuffle spanning the whole (a, b) space
    base = spark.range(0, 4000).select(
        "id",
        (F.hash("id") % 1000 + 1000).alias("a"),
        (F.hash("id", F.lit(1)) % 1000 + 1000).alias("b"),
    )
    for part in range(4):
        write_manifest_table(
            base.where(F.col("id") % 4 == part).coalesce(1), path
        )
    pre_files = manifest_scan_files(path)
    pre_hit = manifest_scan_files(path, filters=[("a", "<", 900)])
    assert len(pre_files) == 4 and len(pre_hit) == 4  # nothing prunable

    v = optimize_manifest_table(spark, path, ["a", "b"], target_files=8)
    post_files = manifest_scan_files(path)
    assert 1 < len(post_files) <= 8
    # both dimensions now prune: a narrow predicate on a OR on b touches
    # a strict subset of files
    hit_a = manifest_scan_files(path, filters=[("a", "<", 900)])
    hit_b = manifest_scan_files(path, filters=[("b", "<", 900)])
    assert len(hit_a) < len(post_files), (len(hit_a), len(post_files))
    assert len(hit_b) < len(post_files), (len(hit_b), len(post_files))

    # content unchanged, filtered reads exact, history intact
    assert read_manifest_table(spark, path).count() == 4000
    got = read_manifest_table(spark, path, filters=[("a", "<", 900)]).count()
    want = base.where("a < 900").count()
    assert got == want
    assert read_manifest_table(spark, path, version=v - 1).count() == 4000


def test_manifest_optimize_single_column_range_layout(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        optimize_manifest_table,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS g")
    write_manifest_table(df.orderBy("g").coalesce(4), path)
    optimize_manifest_table(spark, path, ["id"], target_files=5)
    files = manifest_scan_files(path)
    # disjoint ranges: a point predicate touches exactly one file
    hit = manifest_scan_files(path, filters=[("id", "=", 500)])
    assert len(files) == 5 and len(hit) == 1
    assert read_manifest_table(spark, path).count() == 1000


def test_manifest_schema_evolution_on_append(spark, tmp_path):
    """Appends may ADD columns: the committed schema is the union, reads
    resolve against it in either commit order (pre-evolution files yield
    nulls), time travel sees each version's own schema, and a TYPE change
    refuses loudly instead of coercing."""
    import pytest as _pytest

    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_schema,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 10).selectExpr("id"), path)
    write_manifest_table(
        spark.range(10, 20).selectExpr("id", "id * 2 AS extra"), path
    )
    df = read_manifest_table(spark, path)
    assert df.columns == ["id", "extra"]
    assert df.count() == 20
    assert df.where("extra IS NULL").count() == 10  # pre-evolution files
    # time travel: v0 predates the column
    assert read_manifest_table(spark, path, version=0).columns == ["id"]
    assert [f.name for f in table_schema(path).fields] == ["id", "extra"]

    # reversed order in a fresh table: old-schema append after evolution
    path2 = str(tmp_path / "tbl2")
    write_manifest_table(
        spark.range(0, 5).selectExpr("id", "id * 2 AS extra"), path2
    )
    write_manifest_table(spark.range(5, 9).selectExpr("id"), path2)
    df2 = read_manifest_table(spark, path2)
    assert df2.columns == ["id", "extra"] and df2.count() == 9

    # type conflict: long -> string must refuse
    with _pytest.raises(ValueError, match="schema conflict.*extra"):
        write_manifest_table(
            spark.range(9, 12).selectExpr("id", "CAST(id AS STRING) AS extra"),
            path2,
        )


def test_manifest_bloom_index_point_lookup_skipping(spark, tmp_path):
    """Bloom-indexed columns let EQUALITY probes skip files even when every
    file's [min, max] spans the whole key space (high-cardinality unsorted
    ids — the case zone maps cannot help).  Range filters ignore blooms;
    reads stay exact; a present key is always found (no false negatives)."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # every commit spans id range 0..4000 via a bit-reversal-ish scatter,
    # but holds a DISJOINT set of uuid-like keys
    for part in range(4):
        df = (
            spark.range(0, 1000)
            .select((F.col("id") * 4 + part).alias("n"))
            .selectExpr(
                "n % 4000 AS scattered",
                "concat('key-', n) AS ukey",
            )
            .coalesce(1)
        )
        write_manifest_table(df, path, index_columns=["ukey"])

    files = manifest_scan_files(path)
    assert len(files) == 4
    # zone maps can't prune ukey (strings 'key-...' interleave), but the
    # bloom can: each key lives in exactly one file
    hit = manifest_scan_files(path, filters=[("ukey", "=", "key-2001")])
    assert len(hit) == 1
    # absent key: all files bloom-miss (prob. of 4 false positives ~ 0)
    miss = manifest_scan_files(path, filters=[("ukey", "=", "no-such-key")])
    assert len(miss) <= 1
    # exactness: the probed row comes back, and only it
    got = read_manifest_table(
        spark, path, filters=[("ukey", "=", "key-2001")]
    ).collect()
    assert len(got) == 1 and got[0].scattered == 2001 % 4000
    # no false negatives across a sample of present keys
    for n in (0, 399, 1777, 3998):
        assert (
            read_manifest_table(
                spark, path, filters=[("ukey", "=", f"key-{n}")]
            ).count()
            == 1
        ), n
    # range ops don't consult blooms (and stay correct)
    assert (
        read_manifest_table(spark, path, filters=[("ukey", ">=", "key-3")])
        .count()
        == sum(1 for n in range(4000) if f"key-{n}" >= "key-3")
    )


def test_manifest_bloom_numeric_type_drift_no_false_negative(spark, tmp_path):
    """A double column probed with a Python int (or the reverse) must
    still find its file — canonicalization collapses integral floats."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    for part in range(2):
        write_manifest_table(
            spark.range(part * 100, part * 100 + 100)
            .selectExpr("CAST(id AS DOUBLE) AS dval")
            .coalesce(1),
            path,
            index_columns=["dval"],
        )
    # int probe of a double column: must not bloom-miss the right file
    assert read_manifest_table(
        spark, path, filters=[("dval", "=", 150)]
    ).count() == 1
    assert read_manifest_table(
        spark, path, filters=[("dval", "=", 150.0)]
    ).count() == 1
    # zone maps already prune the other file; bloom must not prune both
    assert len(manifest_scan_files(path, filters=[("dval", "=", 150)])) == 1


def test_manifest_optimize_preserves_bloom_indexes(spark, tmp_path):
    """OPTIMIZE re-indexes every bloom-carrying column by default: point
    lookups keep skipping after the rewrite."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        optimize_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    for part in range(3):
        write_manifest_table(
            spark.range(part * 100, part * 100 + 100)
            .selectExpr("id", "concat('u', id) AS ukey")
            .coalesce(1),
            path,
            index_columns=["ukey"],
        )
    optimize_manifest_table(spark, path, ["id"], target_files=4)
    files = manifest_scan_files(path)
    hit = manifest_scan_files(path, filters=[("ukey", "=", "u250")])
    assert len(files) == 4 and len(hit) == 1


def test_manifest_zone_map_midnight_datetime_drift(spark, tmp_path):
    """A timestamp column probed with a date (or vice versa) must not
    falsely prune files whose rows sit at midnight."""
    import datetime

    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.sql(
            "SELECT TIMESTAMP'2020-01-05 00:00:00' AS ts, 1 AS v"
        ).coalesce(1),
        path,
    )
    got = read_manifest_table(
        spark, path, filters=[("ts", "=", datetime.date(2020, 1, 5))]
    ).count()
    assert got == 1
    got2 = read_manifest_table(
        spark, path, filters=[("ts", "=", datetime.datetime(2020, 1, 5))]
    ).count()
    assert got2 == 1


def test_manifest_delete_where_copy_on_write(spark, tmp_path):
    """DELETE rewrites only the files the skipping indexes cannot clear:
    untouched files carry into the new manifest verbatim (same paths,
    same stats), matching rows are gone, NULLs in the filter column
    survive, old versions still hold the deleted rows, and point-lookup
    skipping keeps working afterwards."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        delete_where,
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        write_manifest_table(
            spark.range(lo, hi)
            .selectExpr(
                "id",
                "IF(id % 50 = 0, NULL, concat('u', id)) AS ukey",
            )
            .coalesce(1),
            path,
            index_columns=["ukey"],
        )
    before = manifest_scan_files(path)

    # range delete: only the middle file may match id in [120, 180)
    v, rewritten, carried = delete_where(
        spark, path, [("id", ">=", 120), ("id", "<", 180)]
    )
    assert (rewritten, carried) == (1, 2)
    after = manifest_scan_files(path)
    # exactly the two zone-cleared files carry over with identical paths
    hit = set(
        manifest_scan_files(
            path, version=2, filters=[("id", ">=", 120), ("id", "<", 180)]
        )
    )
    untouched = set(before) - hit
    assert len(untouched) == 2 and untouched <= set(after)
    assert read_manifest_table(spark, path).count() == 240
    assert (
        read_manifest_table(spark, path)
        .where("id >= 120 AND id < 180")
        .count()
        == 0
    )
    # NULL ukey rows in the rewritten range band survive a ukey-filter
    # delete (NULL never satisfies equality)
    v2, rw2, _ = delete_where(spark, path, [("ukey", "=", "u42")])
    assert rw2 == 1
    t = read_manifest_table(spark, path)
    assert t.count() == 239
    # NULL ids 0,50,100,200,250 (150 went with the range delete)
    assert t.where("ukey IS NULL").count() == 5
    # time travel: pre-delete versions still hold everything
    assert read_manifest_table(spark, path, version=2).count() == 300
    # bloom indexes survived the rewrite: point probe touches 1 file
    assert len(manifest_scan_files(path, filters=[("ukey", "=", "u201")])) == 1


def test_manifest_delete_where_noop_and_guard(spark, tmp_path):
    import pytest as _pytest

    from species_range_data_pipeline_spark.sources.manifest_table import (
        delete_where,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 10).selectExpr("id").coalesce(1), path)
    v, rewritten, carried = delete_where(spark, path, [("id", ">", 10_000)])
    assert (v, rewritten, carried) == (0, 0, 1)  # pruned to a no-op
    assert read_manifest_table(spark, path).count() == 10
    with _pytest.raises(ValueError, match="no filters"):
        delete_where(spark, path, [])


def test_manifest_upsert_into_copy_on_write(spark, tmp_path):
    """MERGE: source rows replace same-key rows and insert new ones;
    zone-disjoint files are never rewritten; bloom probing narrows the
    rewrite set further for small batches; history stays intact."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        upsert_into,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        write_manifest_table(
            spark.range(lo, hi)
            .selectExpr("id", "concat('v0-', id) AS payload")
            .coalesce(1),
            path,
            index_columns=["id"],
        )
    before = set(manifest_scan_files(path))

    # batch touching only the middle file's key range: update 2, insert 1
    src = spark.createDataFrame(
        [(150, "v1-150"), (160, "v1-160"), (2000, "v1-2000")],
        "id long, payload string",
    )
    v, rewritten, carried = upsert_into(spark, path, src, "id")
    assert carried == 2  # first and last files zone-disjoint... from 150/160
    t = read_manifest_table(spark, path)
    assert t.count() == 301
    got = {r.id: r.payload for r in t.where("id IN (150, 160, 161, 2000)").collect()}
    assert got == {150: "v1-150", 160: "v1-160", 161: "v0-161", 2000: "v1-2000"}
    # untouched files carried with identical paths; old version intact
    assert len(before & set(manifest_scan_files(path))) == 2
    assert read_manifest_table(spark, path, version=2).count() == 300
    assert (
        read_manifest_table(spark, path, version=2)
        .where("id = 150")
        .first()
        .payload
        == "v0-150"
    )

    # empty source: version unchanged, nothing rewritten
    empty = spark.createDataFrame([], "id long, payload string")
    v2, rw2, ca2 = upsert_into(spark, path, empty, "id")
    assert (v2, rw2) == (v, 0)


def test_manifest_compaction_folds_small_files(spark, tmp_path):
    """compact_manifest_table coalesces sub-threshold files into one and
    carries full-size files verbatim; skipping indexes survive; a table
    with nothing to fold is a no-op without a commit."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        compact_manifest_table,
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # one big file + four dribbles (the streaming-ingest shape)
    write_manifest_table(
        spark.range(0, 5000).selectExpr("id", "concat('u', id) AS ukey").coalesce(1),
        path,
        index_columns=["ukey"],
    )
    for lo in (5000, 5010, 5020, 5030):
        write_manifest_table(
            spark.range(lo, lo + 10)
            .selectExpr("id", "concat('u', id) AS ukey")
            .coalesce(1),
            path,
            index_columns=["ukey"],
        )
    assert len(manifest_scan_files(path)) == 5

    v, compacted, carried = compact_manifest_table(
        spark, path, min_rows_per_file=1000
    )
    assert (compacted, carried) == (4, 1)
    files = manifest_scan_files(path)
    assert len(files) == 2
    assert read_manifest_table(spark, path).count() == 5040
    # blooms survived compaction: point probe skips the big file
    assert len(manifest_scan_files(path, filters=[("ukey", "=", "u5025")])) == 1

    v2, c2, _ = compact_manifest_table(spark, path, min_rows_per_file=1000)
    assert (v2, c2) == (v, 0)  # nothing left to fold, no new version


def test_manifest_upsert_guards(spark, tmp_path):
    """MERGE refuses duplicate source keys (one row per key is the
    contract) and type-drifted source schemas (same refusal as append) —
    both BEFORE committing anything."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_versions,
        upsert_into,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 50).selectExpr("id", "concat('v0-', id) AS payload").coalesce(1),
        path,
    )
    dup = spark.createDataFrame(
        [(7, "a"), (7, "b")], "id long, payload string"
    )
    with pytest.raises(ValueError, match="distinct"):
        upsert_into(spark, path, dup, "id")
    drift = spark.createDataFrame([(7, 99)], "id long, payload long")
    with pytest.raises(ValueError, match="schema conflict"):
        upsert_into(spark, path, drift, "id")
    assert table_versions(path) == [0]  # nothing committed
    assert read_manifest_table(spark, path).count() == 50


def test_manifest_null_count_pruning(spark, tmp_path):
    """IS NULL skips files with provably zero nulls; IS NOT NULL skips
    all-null files; both stay exact as DataFrame predicates."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # commit 1: no nulls; commit 2: some nulls; commit 3: all nulls
    write_manifest_table(
        spark.range(0, 50).selectExpr("id", "concat('x', id) AS v").coalesce(1),
        path,
    )
    write_manifest_table(
        spark.range(50, 100)
        .selectExpr("id", "IF(id % 2 = 0, NULL, concat('x', id)) AS v")
        .coalesce(1),
        path,
    )
    write_manifest_table(
        spark.range(100, 150)
        .selectExpr("id", "CAST(NULL AS STRING) AS v")
        .coalesce(1),
        path,
    )
    allf = manifest_scan_files(path)
    isnull = manifest_scan_files(path, filters=[("v", "is_null", None)])
    notnull = manifest_scan_files(path, filters=[("v", "not_null", None)])
    assert len(allf) == 3
    assert len(isnull) == 2  # the no-null file is skipped
    assert len(notnull) == 2  # the all-null file is skipped

    assert read_manifest_table(
        spark, path, filters=[("v", "is_null", None)]
    ).count() == 25 + 50
    assert read_manifest_table(
        spark, path, filters=[("v", "not_null", None)]
    ).count() == 50 + 25
    # conjunction with a range: exact rows, and both prunes engage
    assert read_manifest_table(
        spark, path, filters=[("v", "is_null", None), ("id", ">=", 100)]
    ).count() == 50


def test_manifest_update_where_copy_on_write(spark, tmp_path):
    """UPDATE rewrites only index-hit files, SET expressions see the
    PRE-update row (a swap works), non-matching rows in rewritten files
    are byte-for-value untouched, and guards refuse empty filters /
    unknown columns."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_manifest_table,
        update_where,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        write_manifest_table(
            spark.range(lo, hi).selectExpr("id", "id AS x", "id * 10 AS y").coalesce(1),
            path,
        )
    before = set(manifest_scan_files(path))
    v, rewritten, carried = update_where(
        spark, path,
        [("id", ">=", 120), ("id", "<", 130)],
        {"x": "y", "y": "x"},  # swap: must read pre-update values
    )
    assert (rewritten, carried) == (1, 2)
    assert len(before & set(manifest_scan_files(path))) == 2
    t = read_manifest_table(spark, path)
    assert t.count() == 300
    r = t.where("id = 125").first()
    assert (r.x, r.y) == (1250, 125)  # swapped
    r2 = t.where("id = 130").first()
    assert (r2.x, r2.y) == (130, 1300)  # same file, outside band: untouched
    # history intact
    r_old = read_manifest_table(spark, path, version=2).where("id = 125").first()
    assert (r_old.x, r_old.y) == (125, 1250)

    with pytest.raises(ValueError, match="no filters"):
        update_where(spark, path, [], {"x": "0"})
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, path, [("id", "=", 1)], {"zz": "0"})
    # fully-pruned predicate: no-op, no commit
    v2, rw2, _ = update_where(spark, path, [("id", ">", 10**6)], {"x": "0"})
    assert (v2, rw2) == (v, 0)


def test_manifest_change_data_feed(spark, tmp_path):
    """read_changes reconstructs row-level inserts/deletes from the commit
    log alone: appends surface as inserts, DELETE as deletes of exactly
    the matching rows, UPDATE as delete(pre-image) + insert(post-image),
    carried rows in rewritten files cancel out, and the per-commit
    version tags the step.  Duplicate rows diff by multiplicity."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        delete_where,
        read_changes,
        update_where,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # v0: 0..99, with id=7 duplicated 3x (multiset semantics must hold)
    base = spark.range(0, 100).selectExpr("id", "id * 2 AS x")
    dups = spark.createDataFrame([(7, 14)] * 2, "id long, x long")
    write_manifest_table(base.unionByName(dups).coalesce(1), path)
    # v1: append 100..109
    write_manifest_table(
        spark.range(100, 110).selectExpr("id", "id * 2 AS x").coalesce(1), path
    )
    # v2: delete ids [50, 60)
    delete_where(spark, path, [("id", ">=", 50), ("id", "<", 60)])
    # v3: update id=70 -> x = -1
    update_where(spark, path, [("id", "=", 70)], {"x": "-1"})

    ch = read_changes(spark, path, from_version=0).cache()
    assert set(ch.columns) == {"id", "x", "_change_type", "_commit_version"}
    # v1 step: 10 pure inserts, zero deletes
    s1 = ch.where("_commit_version = 1")
    assert s1.where("_change_type = 'insert'").count() == 10
    assert s1.where("_change_type = 'delete'").count() == 0
    # v2 step: exactly the 10 deleted rows; carried rows cancelled
    s2 = ch.where("_commit_version = 2").collect()
    assert all(r._change_type == "delete" for r in s2)
    assert sorted(r.id for r in s2) == list(range(50, 60))
    # v3 step: one delete (70, 140) + one insert (70, -1)
    s3 = {(r._change_type, r.id, r.x) for r in ch.where("_commit_version = 3").collect()}
    assert s3 == {("delete", 70, 140), ("insert", 70, -1)}
    ch.unpersist()

    # narrowed range: only the final step
    only3 = read_changes(spark, path, from_version=2, to_version=3)
    assert only3.count() == 2

    # multiplicity: deleting the duplicated id nets 3 delete rows
    delete_where(spark, path, [("id", "=", 7)])
    s4 = read_changes(spark, path, from_version=3).collect()
    assert [(r._change_type, r.id) for r in s4] == [("delete", 7)] * 3

    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must exceed"):
        read_changes(spark, path, from_version=4, to_version=4)
    with _pytest.raises(ValueError, match="versions must be"):
        read_changes(spark, path, from_version=99)


def test_manifest_change_feed_replays_to_snapshot(spark, tmp_path):
    """Applying the change feed to an old snapshot reproduces the new one
    exactly (the CDC consumer contract): snapshot(v_from) + inserts -
    deletes == snapshot(v_to), as multisets."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_table import (
        delete_where,
        read_changes,
        read_manifest_table,
        update_where,
        upsert_into,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 200).selectExpr("id", "id % 7 AS x").coalesce(1), path
    )
    write_manifest_table(
        spark.range(200, 260).selectExpr("id", "id % 7 AS x").coalesce(1), path
    )
    delete_where(spark, path, [("x", "=", 3)])
    update_where(spark, path, [("id", "<", 20)], {"x": "x + 100"})
    upsert_into(
        spark,
        path,
        spark.range(250, 280).selectExpr("id", "CAST(999 AS long) AS x"),
        "id",
    )

    ch = read_changes(spark, path, from_version=0)
    snap0 = read_manifest_table(spark, path, version=0)
    snap_last = read_manifest_table(spark, path)

    def counts(df):
        return {
            (r.id, r.x): r.n
            for r in df.groupBy("id", "x").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    replay = counts(snap0)
    for r in ch.collect():
        k = (r.id, r.x)
        if r._change_type == "insert":
            replay[k] = replay.get(k, 0) + 1
        else:
            replay[k] = replay.get(k, 0) - 1
    replay = {k: n for k, n in replay.items() if n != 0}
    assert replay == counts(snap_last)


def test_manifest_table_history(spark, tmp_path):
    """table_history reports one metadata-only row per version with the
    RECORDED operation of each commit and exact row counts."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        compact_manifest_table,
        delete_where,
        table_history,
        update_where,
        upsert_into,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 100).selectExpr("id").coalesce(1), path)
    write_manifest_table(spark.range(100, 150).selectExpr("id").coalesce(1), path)
    delete_where(spark, path, [("id", "<", 10)])
    update_where(spark, path, [("id", "=", 50)], {"id": "5000"})
    upsert_into(spark, path, spark.range(140, 160).selectExpr("id"), "id")
    write_manifest_table(spark.range(200, 210).selectExpr("id").coalesce(1), path,
                         mode="overwrite")
    compact_manifest_table(spark, path, min_rows_per_file=100)  # no-op: 1 file

    h = {r.version: r for r in table_history(spark, path).collect()}
    assert [h[v].operation for v in sorted(h)] == [
        "create", "append", "delete", "update", "merge", "overwrite",
    ]
    assert h[0].n_rows == 100 and h[1].n_rows == 150
    assert h[2].n_rows == 140  # 10 deleted
    assert h[3].n_rows == 140  # update preserves count
    assert h[4].n_rows == 150  # merge: 10 updates + 10 inserts
    assert h[5].n_rows == 10 and h[5].files_removed > 0
    assert all(r.n_files >= 1 for r in h.values())


def test_incremental_mv_from_change_feed(spark, tmp_path):
    """MV maintained from read_changes equals a from-scratch recompute
    after an arbitrary DML sequence — including a group whose count hits
    zero (it must LEAVE the view)."""
    from species_range_data_pipeline_spark.operators.incremental_mv import (
        aggregate_mv,
        apply_changes_to_mv,
    )
    from species_range_data_pipeline_spark.sources.manifest_table import (
        delete_where,
        read_changes,
        read_manifest_table,
        table_versions,
        update_where,
        upsert_into,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 300).selectExpr("id", "id % 5 AS g", "id AS v").coalesce(2),
        path,
    )
    keys, measures = ["g"], ["v"]
    mv = aggregate_mv(read_manifest_table(spark, path), keys, measures)
    mv_rows = mv.collect()
    v0 = table_versions(path)[-1]

    write_manifest_table(
        spark.range(300, 360).selectExpr("id", "id % 5 AS g", "id AS v").coalesce(1),
        path,
    )
    delete_where(spark, path, [("g", "=", 3)])  # group 3 empties entirely
    v_del = table_versions(path)[-1]
    update_where(spark, path, [("g", "=", 1)], {"v": "v * 10"})
    upsert_into(
        spark, path,
        spark.range(100, 120).selectExpr("id", "id % 5 AS g", "CAST(7 AS long) AS v"),
        "id",
    )

    mv0 = spark.createDataFrame(mv_rows, mv.schema)
    refreshed = apply_changes_to_mv(
        mv0, read_changes(spark, path, from_version=v0), keys, measures
    )
    full = aggregate_mv(read_manifest_table(spark, path), keys, measures)

    as_map = lambda df: {r.g: (r.n_rows, r.sum_v) for r in df.collect()}
    got, want = as_map(refreshed), as_map(full)
    assert got == want
    assert 3 in got  # the upsert repopulated group 3 (ids 103..118)

    # at the point the DELETE landed, group 3 must have LEFT the view —
    # the part naive add-only refreshes get wrong
    mid = apply_changes_to_mv(
        mv0,
        read_changes(spark, path, from_version=v0, to_version=v_del),
        keys,
        measures,
    )
    assert 3 not in as_map(mid)


def test_manifest_timestamp_travel_views_and_clone(spark, tmp_path):
    """TIMESTAMP AS OF resolves against recorded commit times; named view
    registration gives spark.sql time travel; DEEP CLONE produces an
    independent table with identical data, carried stats/blooms/
    constraints, and no shared files."""
    import time

    from species_range_data_pipeline_spark.sources.manifest_table import (
        clone_manifest_table,
        manifest_scan_files,
        read_manifest_table,
        register_manifest_view,
        table_history,
        version_as_of,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 100).selectExpr("id", "concat('k', id) AS k").coalesce(1),
        path, index_columns=["k"], constraints={"nonneg": "id >= 0"},
    )
    t_mid = time.time()
    time.sleep(0.05)
    write_manifest_table(
        spark.range(100, 150).selectExpr("id", "concat('k', id) AS k").coalesce(1),
        path,
    )

    # committed_at recorded and monotone in history
    h = table_history(spark, path).collect()
    assert all(r.committed_at is not None for r in h)
    assert h[0].committed_at <= h[1].committed_at

    assert version_as_of(path, t_mid) == 0
    assert read_manifest_table(spark, path, as_of=t_mid).count() == 100
    with pytest.raises(ValueError, match="no version"):
        version_as_of(path, t_mid - 10_000)
    with pytest.raises(ValueError, match="not both"):
        read_manifest_table(spark, path, version=1, as_of=t_mid)

    register_manifest_view(spark, "tbl_then", path, as_of=t_mid)
    register_manifest_view(spark, "tbl_now", path)
    counts = spark.sql(
        "SELECT (SELECT count(*) FROM tbl_then) AS a, "
        "(SELECT count(*) FROM tbl_now) AS b"
    ).first()
    assert (counts.a, counts.b) == (100, 150)

    # deep clone of the HISTORICAL snapshot
    dest = str(tmp_path / "clone")
    v = clone_manifest_table(spark, path, dest, version=0)
    assert v == 0
    got = read_manifest_table(spark, dest)
    assert got.count() == 100
    # carried bloom index still prunes on the clone
    assert len(manifest_scan_files(dest, filters=[("k", "=", "k7")])) == 1
    # constraints carried: violating append refused on the CLONE
    with pytest.raises(ValueError, match="nonneg"):
        write_manifest_table(
            spark.range(1).selectExpr("CAST(-5 AS long) AS id", "'x' AS k")
            .coalesce(1),
            dest,
        )
    # no shared files; source vacuum can't touch the clone
    assert not set(manifest_scan_files(dest)) & set(manifest_scan_files(path))
    with pytest.raises(ValueError, match="already holds"):
        clone_manifest_table(spark, path, dest)


def test_manifest_add_column_and_metadata_count(spark, tmp_path):
    """ADD COLUMN is metadata-only (no file rewritten, nulls on read,
    writable thereafter); count(*) answers from the manifest without a
    scan at every version."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        add_column,
        manifest_scan_files,
        read_manifest_table,
        table_count,
        table_history,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 40).selectExpr("id").coalesce(1), path)
    files_before = manifest_scan_files(path)
    v = add_column(path, "score", "double")
    assert v == 1
    assert manifest_scan_files(path) == files_before  # no data touched
    df = read_manifest_table(spark, path)
    assert df.schema["score"].dataType.simpleString() == "double"
    assert df.where("score IS NULL").count() == 40
    # the new column is immediately writable
    write_manifest_table(
        spark.range(40, 50).selectExpr("id", "CAST(id AS double) AS score")
        .coalesce(1),
        path,
    )
    assert read_manifest_table(spark, path).where("score IS NOT NULL").count() == 10
    with pytest.raises(ValueError, match="already exists"):
        add_column(path, "score", "double")
    # history records the alter
    ops = [r.operation for r in table_history(spark, path).collect()]
    assert ops == ["create", "alter", "append"]

    assert table_count(path) == 50
    assert table_count(path, version=0) == 40
    assert table_count(path, version=1) == 40  # alter carried the counts


def test_change_feed_null_columns_cancel(spark, tmp_path):
    """Carried rows holding NULLs must cancel in the multiset diff (the
    join-based diff's null-unsafe equality reported them as phantom
    delete+insert pairs); guaranteed to arise after a metadata-only
    add_column."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        add_column,
        delete_where,
        read_changes,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 50).selectExpr("id").coalesce(1), path)
    add_column(path, "score", "double")  # every existing row: score=NULL
    delete_where(spark, path, [("id", ">=", 40)])  # rewrites the only file
    ch = read_changes(spark, path, from_version=1).collect()
    # exactly the 10 deleted rows; the 40 NULL-score carried rows cancel
    assert len(ch) == 10
    assert all(r._change_type == "delete" and r.score is None for r in ch)
    assert sorted(r.id for r in ch) == list(range(40, 50))


def test_manifest_drop_column_and_files_table(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.manifest_table import (
        drop_column,
        files_table,
        read_manifest_table,
        table_history,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 60).selectExpr("id", "id * 2 AS x", "id % 3 AS g")
        .coalesce(2),
        path,
        constraints={"gpos": "g >= 0"},
    )
    v = drop_column(path, "x")
    assert v == 1
    t = read_manifest_table(spark, path)
    assert set(t.columns) == {"id", "g"} and t.count() == 60
    # time travel still sees the dropped column
    assert "x" in read_manifest_table(spark, path, version=0).columns
    with pytest.raises(ValueError, match="does not exist"):
        drop_column(path, "x")
    with pytest.raises(ValueError, match="constraint"):
        drop_column(path, "g")
    assert [r.operation for r in table_history(spark, path).collect()] == [
        "create", "alter",
    ]

    ft = files_table(spark, path).collect()
    assert len(ft) == 2
    assert sum(r.n_rows for r in ft) == 60
    assert all(r.size_bytes > 0 for r in ft)
    lo = min(int(r.col_min["id"]) for r in ft)
    hi = max(int(r.col_max["id"]) for r in ft)
    assert (lo, hi) == (0, 59)


def test_manifest_optimize_zorder_string_column(spark, tmp_path):
    """OPTIMIZE ZORDER over a (string, numeric) pair: after the rewrite,
    BOTH a string-equality filter and a numeric range filter prune files
    — string bucket fences come from the distributed ntile path."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        optimize_manifest_table,
        write_manifest_table,
    )

    df = spark.range(0, 4000).selectExpr(
        "concat('cat_', CAST(id % 37 AS string)) AS label",
        "CAST(id % 101 AS long) AS v",
        "id",
    )
    path = str(tmp_path / "tbl")
    # shuffled commit: every file spans every label and every v
    write_manifest_table(df.orderBy(F.rand(7)).repartition(8), path)
    before_label = len(
        manifest_scan_files(path, filters=[("label", "=", "cat_5")])
    )
    before_v = len(manifest_scan_files(path, filters=[("v", "<", 10)]))
    n_before = len(manifest_scan_files(path))
    assert before_label == n_before and before_v == n_before  # no pruning

    optimize_manifest_table(spark, path, cluster_by=["label", "v"],
                            target_files=8, bits=3)
    after_all = manifest_scan_files(path)
    after_label = manifest_scan_files(path, filters=[("label", "=", "cat_5")])
    after_v = manifest_scan_files(path, filters=[("v", "<", 10)])
    assert len(after_label) < len(after_all)
    assert len(after_v) < len(after_all)
    # correctness: the clustered table still holds exactly the same rows
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
    )

    assert read_manifest_table(spark, path).count() == 4000
    got = read_manifest_table(
        spark, path, filters=[("label", "=", "cat_5")]
    ).count()
    assert got == df.where("label = 'cat_5'").count()


def test_continuous_aggregate_hypertable_composition(spark, tmp_path):
    """TimescaleDB-style continuous aggregate from the engine's
    primitives: a time-chunked table (one commit per hour bucket, so zone
    maps prune time ranges), a sum/count MV maintained INCREMENTALLY from
    the change feed after each batch of commits, late-data UPDATE flowing
    through the same path, and the MV equal to a full recompute at every
    refresh point."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.operators.incremental_mv import (
        aggregate_mv,
        apply_changes_to_mv,
    )
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
        read_changes,
        read_manifest_table,
        table_versions,
        update_where,
        write_manifest_table,
    )

    path = str(tmp_path / "hyper")
    keys, measures = ["sensor"], ["reading"]

    def commit_hour(h, n=200):
        write_manifest_table(
            spark.range(n)
            .selectExpr(
                f"{h} AS hour",
                "CAST(id % 7 AS long) AS sensor",
                f"CAST(id + {h} * 1000 AS long) AS reading",
            )
            .coalesce(1),
            path,
        )

    for h in range(3):
        commit_hour(h)
    mv = aggregate_mv(read_manifest_table(spark, path), keys, measures)
    mv = spark.createDataFrame(mv.collect(), mv.schema)  # materialized state
    last = table_versions(path)[-1]

    # hour-range read prunes to the matching chunk commits
    all_files = manifest_scan_files(path)
    one_hour = manifest_scan_files(path, filters=[("hour", "=", 1)])
    assert len(one_hour) == 1 and len(all_files) == 3

    # two more hours land; the refresh consumes ONLY the feed
    for h in (3, 4):
        commit_hour(h)
    mv = apply_changes_to_mv(
        mv, read_changes(spark, path, from_version=last), keys, measures
    )
    mv = spark.createDataFrame(mv.collect(), mv.schema)
    last = table_versions(path)[-1]
    as_map = lambda df: {r.sensor: (r.n_rows, r.sum_reading) for r in df.collect()}
    assert as_map(mv) == as_map(
        aggregate_mv(read_manifest_table(spark, path), keys, measures)
    )

    # late-data correction: an UPDATE to an old hour propagates via the
    # same feed (delete pre-image + insert post-image nets the delta)
    update_where(
        spark, path, [("hour", "=", 0), ("sensor", "=", 3)],
        {"reading": "reading + 100"},
    )
    mv = apply_changes_to_mv(
        mv, read_changes(spark, path, from_version=last), keys, measures
    )
    assert as_map(mv) == as_map(
        aggregate_mv(read_manifest_table(spark, path), keys, measures)
    )


def test_rename_column_via_backfill(spark, tmp_path):
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        rename_column_via_backfill,
        table_history,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 50).selectExpr(
            "id", "IF(id % 10 = 0, NULL, id * 2) AS old_v"
        ).coalesce(1),
        path,
    )
    v1, v2, v3 = rename_column_via_backfill(spark, path, "old_v", "v")
    assert (v1, v2, v3) == (1, 2, 3)
    t = read_manifest_table(spark, path)
    assert set(t.columns) == {"id", "v"}
    rows = {r.id: r.v for r in t.collect()}
    assert rows[3] == 6 and rows[10] is None  # values copied, NULLs kept
    assert [r.operation for r in table_history(spark, path).collect()] == [
        "create", "alter", "update", "alter",
    ]
    # history: the pre-rename snapshot still reads under the old name
    assert "old_v" in read_manifest_table(spark, path, version=0).columns


def test_dropped_column_cannot_resurrect(spark, tmp_path):
    """Re-adding (or appending) a dropped column name is refused: the old
    files still physically hold it and parquet resolves by name, so the
    'nulls on read' promise would silently become old values.  Overwrite
    clears the tombstone; the dropped column's stale zone maps are purged
    so filters on the dead name cannot prune on dead data."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        add_column,
        drop_column,
        manifest_scan_files,
        read_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    write_manifest_table(
        spark.range(0, 30).selectExpr("id", "id * 2 AS x").coalesce(1), path
    )
    drop_column(path, "x")
    with pytest.raises(ValueError, match="DROPPED"):
        add_column(path, "x", "long")
    with pytest.raises(ValueError, match="DROPPED"):
        write_manifest_table(
            spark.range(30, 40).selectExpr("id", "id * 9 AS x").coalesce(1),
            path,
        )
    # zone maps for the dead name are gone: a filter cannot prune on them
    files_all = manifest_scan_files(path)
    assert manifest_scan_files(path, filters=[("x", ">", 10**9)]) == files_all
    # an append WITHOUT the dead name still works; a tombstone survives it
    write_manifest_table(spark.range(30, 40).selectExpr("id").coalesce(1), path)
    with pytest.raises(ValueError, match="DROPPED"):
        add_column(path, "x", "long")
    # overwrite replaces every file: the name is safe again
    write_manifest_table(
        spark.range(0, 5).selectExpr("id", "CAST(7 AS long) AS x").coalesce(1),
        path, mode="overwrite",
    )
    assert read_manifest_table(spark, path).where("x = 7").count() == 5


def test_restore_table_rolls_back_dml_as_new_commit(spark, tmp_path):
    """RESTORE re-publishes an old snapshot as the new head: read-back
    equals the old version exactly, history keeps every step (the restore
    is itself a commit), and restoring to the current head is a no-op."""
    from species_range_data_pipeline_spark.sources import manifest_table as mt

    path = str(tmp_path / "tbl")
    mt.write_manifest_table(spark.range(0, 30).selectExpr("id"), path)      # v0
    mt.write_manifest_table(spark.range(30, 50).selectExpr("id"), path)     # v1
    mt.delete_where(spark, path, [("id", "<", 10)])                          # v2
    assert mt.read_manifest_table(spark, path).count() == 40

    v = mt.restore_table(path, 1)
    assert v == 3
    got = sorted(r.id for r in mt.read_manifest_table(spark, path).collect())
    assert got == list(range(50))  # v1 snapshot, deletion undone
    ops = [r.operation for r in mt.table_history(spark, path).collect()]
    assert "restore[v1]" in ops and len(mt.table_versions(path)) == 4
    # no-op form: restoring to the head publishes nothing
    assert mt.restore_table(path, 3) == 3
    assert mt.table_versions(path) == [0, 1, 2, 3]


def test_restore_refuses_vacuumed_version(spark, tmp_path):
    """Restore must fail loudly when the target version's files are gone
    (vacuum), never publish a manifest pointing at deleted data; after a
    successful restore the re-referenced files survive a vacuum."""
    import pytest as _pytest

    from species_range_data_pipeline_spark.sources import manifest_table as mt

    path = str(tmp_path / "tbl")
    mt.write_manifest_table(spark.range(0, 10).selectExpr("id"), path)       # v0
    mt.write_manifest_table(
        spark.range(10, 20).selectExpr("id"), path, "overwrite"
    )                                                                        # v1
    mt.write_manifest_table(spark.range(20, 25).selectExpr("id"), path)      # v2
    mt.restore_table(path, 1)                                                # v3
    # vacuum keeps v3 (files of v1+v2); v0's overwritten file dies
    mt.vacuum_manifest_table(path, keep_versions=1, retention_seconds=0)
    got = sorted(r.id for r in mt.read_manifest_table(spark, path).collect())
    assert got == list(range(10, 20))
    with _pytest.raises(Exception):  # v0 manifest itself was dropped
        mt.restore_table(path, 0)


def test_manifest_upsert_schema_evolution(spark, tmp_path):
    """MERGE with new source columns: refuses by default (a typo'd CDC
    field must not vanish silently), evolves the committed schema with
    schema_evolution=True — carried files read the new column as NULL,
    rewritten rows carry it, time travel still shows the old schema, and
    a partial (missing-column) batch refuses either way."""
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_schema,
        upsert_into,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    # two files so the zone-disjoint one is carried, not rewritten
    write_manifest_table(
        spark.range(0, 50).selectExpr("id", "concat('v0-', id) AS payload").coalesce(1),
        path,
    )
    write_manifest_table(
        spark.range(50, 100).selectExpr("id", "concat('v0-', id) AS payload").coalesce(1),
        path,
    )
    src = spark.createDataFrame(
        [(7, "v1-7", "eu"), (120, "v1-120", "us")],
        "id long, payload string, region string",
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        upsert_into(spark, path, src, "id")

    version, rewritten, carried = upsert_into(
        spark, path, src, "id", schema_evolution=True
    )
    # key 120 widens the source [min,max] interval over both zones, so
    # both files rewrite (interval pruning is deliberately coarse)
    assert rewritten + carried == 2
    assert table_schema(path).names == ["id", "payload", "region"]
    got = {r.id: (r.payload, r.region) for r in read_manifest_table(spark, path).collect()}
    assert len(got) == 101
    assert got[7] == ("v1-7", "eu")  # updated row carries the new column
    assert got[120] == ("v1-120", "us")  # inserted row
    assert got[8] == ("v0-8", None)  # rewritten survivor: NULL new column
    assert got[60] == ("v0-60", None)  # pre-evolution row: NULL via schema read
    # time travel: the pre-merge version still has the 2-column schema
    assert table_schema(path, version - 1).names == ["id", "payload"]
    assert "region" not in read_manifest_table(spark, path, version=version - 1).columns

    # partial batch refuses (would silently NULL out payload)
    partial = spark.createDataFrame([(7, "xx")], "id long, region string")
    with pytest.raises(ValueError, match="lacks table columns"):
        upsert_into(spark, path, partial, "id", schema_evolution=True)
