"""The version-offset tail contract (`sources/log_tail.py`), checked the
same way on all five table-format streaming readers: the `path` option
is required, the default initial offset names the position before the
first commit, and `starting*=latest` pins the head at construction, so
a commit made afterwards is exactly the next batch.
"""

from __future__ import annotations

import pytest

from species_range_data_pipeline_spark.sources.delta_cdf_stream import (
    DeltaCdfTailDataSource,
)
from species_range_data_pipeline_spark.sources.delta_stream import (
    DeltaTailDataSource,
)
from species_range_data_pipeline_spark.sources.delta_write import (
    write_delta_table,
)
from species_range_data_pipeline_spark.sources.iceberg_cdf_stream import (
    IcebergCdfTailDataSource,
)
from species_range_data_pipeline_spark.sources.iceberg_stream import (
    IcebergTailDataSource,
)
from species_range_data_pipeline_spark.sources.iceberg_write import (
    write_iceberg_table,
)
from species_range_data_pipeline_spark.sources.manifest_stream import (
    ManifestStreamDataSource,
)
from species_range_data_pipeline_spark.sources.manifest_table import (
    write_manifest_table,
)

# source, writer, starting option, default initial offset
_READERS = {
    "manifest_stream": (
        ManifestStreamDataSource, write_manifest_table, "startingVersion",
        {"version": -1},
    ),
    "delta_tail": (
        DeltaTailDataSource, write_delta_table, "startingVersion",
        {"version": -1},
    ),
    "delta_cdf_tail": (
        DeltaCdfTailDataSource, write_delta_table, "startingVersion",
        {"version": -1},
    ),
    "iceberg_tail": (
        IcebergTailDataSource, write_iceberg_table, "startingSnapshotId",
        {"snapshot_id": None},
    ),
    "iceberg_cdf_tail": (
        IcebergCdfTailDataSource, write_iceberg_table, "startingSnapshotId",
        {"snapshot_id": None},
    ),
}


@pytest.mark.parametrize("fmt", sorted(_READERS))
def test_tail_reader_contract(spark, tmp_path, fmt):
    source, write, starting, default_offset = _READERS[fmt]
    assert source.name() == fmt
    with pytest.raises(ValueError, match=r"requires \.option\('path'"):
        source.reader({}, None)

    tbl = str(tmp_path / fmt)
    write(spark.range(0, 3).coalesce(1), tbl)
    write(spark.range(3, 5).coalesce(1), tbl)
    schema = source({"path": tbl}).schema()
    head = source.reader({"path": tbl}, schema).latestOffset()
    fresh = source.reader({"path": tbl}, schema)
    assert fresh.initialOffset() == default_offset

    reader = source.reader({"path": tbl, starting: "latest"}, schema)
    write(spark.range(5, 7).coalesce(1), tbl)  # after the pin
    start = reader.initialOffset()
    assert start == head
    end = reader.latestOffset()
    assert end != start
    rows = [
        r for p in reader.partitions(start, end)
        for b in reader.read(p) for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows) == [5, 6]
    assert {r.get("_change_type", "insert") for r in rows} == {"insert"}
