"""Minimal atomic-manifest table format: snapshot-isolated parquet tables.

The reference's sink is full-replace `to_postgis` (K1,
``species_range_etl.py:230-236``) — readers can observe a half-loaded
table.  Real table formats (Delta/Iceberg, unavailable in this
environment) fix that with a commit log; this module implements the core
of that protocol in ~100 lines, enough to give the engine:

- **atomic commits**: data files land first, then a JSON manifest listing
  the table's LIVE files is published with an atomic ``os.rename``.  A
  reader either sees the old manifest or the new one — never a partial
  write.  A writer that dies before publishing leaves only orphan data
  files, which no reader will ever list (compaction can GC them).
- **snapshot isolation / time travel**: every commit is a new immutable
  version ``vN.json``; ``read_manifest_table(..., version=N)`` reproduces
  any historical state exactly.
- **append and overwrite**: append = previous live set + new files;
  overwrite = new files only.  Either way old data files are untouched
  (versions stay readable).

On object storage the same design holds with put-if-absent in place of
rename — which is precisely Delta's LogStore contract.

**DDL surface**: metadata-only ``add_column`` and ``drop_column``
(constraint-guarded).  RENAME is deliberately absent: parquet resolves
columns BY NAME here, so an honest rename needs Delta-style column
mapping (logical->physical ids threaded through every read, stat, bloom,
filter, and DML path) — complexity this format's ~1k lines shouldn't
carry.  The supported pattern is add + backfill: ``add_column(new)``,
one ``update_where`` copying old into new (index-pruned like any
UPDATE), ``drop_column(old)`` — three commits, fully time-travelable,
zero special cases in the read path.

**Zone maps / data skipping**: every commit also records per-file min/max
statistics for leaf columns, harvested from the parquet footers the write
already produced (footer reads only — no data re-scan).  ``read_manifest
_table(..., filters=...)`` prunes the file list against those ranges
before Spark ever opens a file.  At 100 TB this is the difference between
"scan everything and let row-group stats help" and "open 0.1% of the
files": manifest-level skipping composes with (does not replace) parquet
row-group pushdown, exactly like Delta's file-level stats.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifest"


class _CommitConflict(RuntimeError):
    """Lost the put-if-absent race for a version; append paths retry,
    DML rewrite paths surface it (the caller must re-plan)."""


def _manifest_path(path: str) -> str:
    return os.path.join(path, _MANIFEST_DIR)


def table_versions(path: str) -> list[int]:
    mdir = _manifest_path(path)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _live_files(path: str, version: int) -> list[str]:
    with open(os.path.join(_manifest_path(path), f"v{version}.json")) as fh:
        return json.load(fh)["files"]


def last_committed_txn(path: str) -> int:
    """Highest streaming batch id ever committed (-1 if none) — the `txn`
    half of exactly-once streaming writes."""
    versions = table_versions(path)
    if not versions:
        return -1
    with open(
        os.path.join(_manifest_path(path), f"v{versions[-1]}.json")
    ) as fh:
        return json.load(fh).get("txn", -1)


def _jsonable_stat(v):
    """Normalize a parquet-footer min/max value into a JSON-storable,
    order-preserving form — or ``None`` if the type can't be compared
    reliably across the JSON round-trip (then the column is unusable for
    skipping in that file, which is always safe)."""
    import datetime
    import math

    if isinstance(v, bool) or v is None:
        return None  # bool min/max prunes ~nothing; null means no stat
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        # ISO strings order lexicographically == chronologically
        return v.isoformat()
    return None


def _file_stats(fpath: str) -> dict[str, list]:
    """Per-column [min, max] for one parquet file, from the footer only.

    A column appears iff EVERY row group has usable min/max for it — a
    single stats-less row group could hold anything, so the column is
    dropped for the whole file (skipping must never be wrong, only
    incomplete).  A column whose min/max pyarrow cannot decode (the
    integer-backed DECIMALs) counts as stats-less the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    acc: dict[str, list] = {}
    poisoned: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in poisoned or "." in name:  # nested paths: skip
                continue
            s = col.statistics
            mn = mx = None
            if s is not None and s.has_min_max:
                try:
                    mn, mx = _jsonable_stat(s.min), _jsonable_stat(s.max)
                except pa.ArrowNotImplementedError:
                    pass
            if mn is None or mx is None:
                poisoned.add(name)
                acc.pop(name, None)
                continue
            if name in acc:
                try:
                    acc[name] = [min(acc[name][0], mn), max(acc[name][1], mx)]
                except TypeError:
                    poisoned.add(name)
                    acc.pop(name, None)
            else:
                acc[name] = [mn, mx]
    return acc


def _file_null_counts(fpath: str) -> dict[str, int]:
    """Per-column null count for one parquet file (footer only).  A column
    appears iff EVERY row group reports a null count — partial knowledge
    could make IS NULL / IS NOT NULL pruning wrong."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    acc: dict[str, int] = {}
    poisoned: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in poisoned or "." in name:
                continue
            s = col.statistics
            if s is None or s.null_count is None:
                poisoned.add(name)
                acc.pop(name, None)
                continue
            acc[name] = acc.get(name, 0) + int(s.null_count)
    return acc


_BLOOM_BITS = 8192  # 1 KiB per column per file
_BLOOM_HASHES = 6


def _bloom_positions(value) -> list[int] | None:
    """k bit positions for a value, via md5 of its canonical string form.
    Returns None for values with no canonical form (those never prune).

    Canonicalization guards against FALSE NEGATIVES from type drift
    between build and probe: integral floats collapse to their int form
    (a probe of 1 must hit a column stored as 1.0 and vice versa), and
    midnight datetimes collapse to their date form.  A false positive
    costs one extra file read; a false negative would silently drop rows.
    """
    import hashlib

    v = _jsonable_stat(value)
    if v is None:
        return None
    if isinstance(v, float) and v.is_integer() and abs(v) < 1 << 53:
        v = int(v)
    if isinstance(v, str) and v.endswith("T00:00:00"):
        v = v[: -len("T00:00:00")]
    digest = hashlib.md5(repr(v).encode("utf-8")).digest()
    out = []
    for i in range(_BLOOM_HASHES):
        chunk = int.from_bytes(digest[2 * i : 2 * i + 2], "big")
        out.append(chunk % _BLOOM_BITS)
    return out


def _build_bloom(values) -> str:
    """Base64-packed bloom filter over an iterable of column values."""
    import base64

    bits = bytearray(_BLOOM_BITS // 8)
    for v in values:
        pos = _bloom_positions(v)
        if pos is None:
            continue
        for p in pos:
            bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def _bloom_may_contain(b64: str, value) -> bool:
    import base64

    pos = _bloom_positions(value)
    if pos is None:
        return True
    bits = base64.b64decode(b64)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in pos)


def _file_blooms(fpath: str, columns: list[str]) -> dict[str, str]:
    """Per-column bloom filters for one parquet file.  This is a real
    column read (unlike zone maps' footer-only harvest), which is why
    bloom indexing is OPT-IN per column — the read is columnar and
    single-file, so each commit task pays only its own files."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(fpath)
    present = [c for c in columns if c in pf.schema_arrow.names]
    if not present:
        return {}
    tbl = pf.read(columns=present)
    return {
        c: _build_bloom(tbl.column(c).to_pylist()) for c in present
    }


_SKIP_OPS = ("=", "==", "<", "<=", ">", ">=", "is_null", "not_null")


def _canon_range(v):
    """Order-preserving canonicalization applied to BOTH stat bounds and
    probe values before range comparison: midnight datetimes collapse to
    their date form so date-vs-timestamp type drift in a filter cannot
    silently prune files holding midnight rows (the same false-negative
    guard as _bloom_positions).  ISO strings keep ordering under the
    collapse because 'YYYY-MM-DD' is a prefix of 'YYYY-MM-DDTHH:MM:SS'."""
    if isinstance(v, str) and v.endswith("T00:00:00"):
        return v[: -len("T00:00:00")]
    return v


def _range_may_match(mn, mx, op: str, value) -> bool:
    v = _jsonable_stat(value)
    if v is None:
        return True
    mn, mx, v = _canon_range(mn), _canon_range(mx), _canon_range(v)
    try:
        if op in ("=", "=="):
            return mn <= v <= mx
        if op == "<":
            return mn < v
        if op == "<=":
            return mn <= v
        if op == ">":
            return mx > v
        if op == ">=":
            return mx >= v
    except TypeError:
        return True  # incomparable types: never prune on a guess
    raise ValueError(f"unsupported filter op {op!r} (use one of {_SKIP_OPS})")


def _prune_files(
    files: list[str],
    stats: dict[str, dict],
    blooms: dict[str, dict],
    nulls: dict[str, dict],
    rows: dict[str, int],
    filters,
    all_null: dict[str, set] | None = None,
) -> list[str]:
    """``all_null`` (optional): file -> columns PROVABLY all-null in that
    file without a row count — e.g. a NULL partition value, which makes
    the column null in every row whatever ``numRecords`` says.  Encoding
    the proof per-column (ADVICE r16) instead of fabricating a 1-row
    sentinel keeps other columns' ``n_null >= n_rows`` checks honest, and
    is strictly stronger: a range/equality filter on an all-null column
    can never match (SQL comparisons with NULL are not true), so the
    file is skipped there too."""
    all_null = all_null or {}
    kept = []
    for f in files:
        fstats = stats.get(f, {})
        fblooms = blooms.get(f, {})
        fnulls = nulls.get(f, {})
        fallnull = all_null.get(f, set())
        keep = True
        for col, op, value in filters:
            if op not in _SKIP_OPS:
                raise ValueError(
                    f"unsupported filter op {op!r} (use one of {_SKIP_OPS})"
                )
            if op in ("is_null", "not_null"):
                n_null = fnulls.get(col)
                n_rows = rows.get(f)
                if op == "is_null" and n_null == 0:
                    keep = False  # provably no nulls in this file
                    break
                if op == "not_null" and (
                    col in fallnull
                    or (
                        n_null is not None
                        and n_rows is not None
                        and n_null >= n_rows
                    )
                ):
                    keep = False  # every value is null
                    break
                continue
            if col in fallnull:
                keep = False  # range/eq probe on an all-null column
                break
            rng = fstats.get(col)
            if rng is not None and not _range_may_match(rng[0], rng[1], op, value):
                keep = False
                break
            # equality probes also consult the per-file bloom index: on a
            # high-cardinality unsorted column the [min, max] spans
            # everything, but a definite bloom miss still skips the file
            if op in ("=", "==") and col in fblooms:
                if not _bloom_may_contain(fblooms[col], value):
                    keep = False
                    break
        if keep:
            kept.append(f)
    return kept


def _filters_to_predicate(filters):
    """``[(col, op, value), ...]`` (AND) -> one Spark Column predicate, or
    ``None`` for an empty list — the single source of the op grammar for
    filtered reads and DELETE."""
    from pyspark.sql import functions as F

    pred = None
    for col, op, value in filters or ():
        c = F.col(col)
        cond = {"=": c == value, "==": c == value, "<": c < value,
                "<=": c <= value, ">": c > value, ">=": c >= value,
                "is_null": c.isNull(), "not_null": c.isNotNull()}[op]
        pred = cond if pred is None else (pred & cond)
    return pred


def _load_meta(path: str, version: int | None = None) -> dict:
    """The manifest JSON for ``version`` (default latest), parsed once."""
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed version at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(os.path.join(_manifest_path(path), f"v{v}.json")) as fh:
        return json.load(fh)


def _scan_meta(meta: dict, filters) -> list[str]:
    if not filters:
        return meta["files"]
    return _prune_files(
        meta["files"],
        meta.get("stats", {}),
        meta.get("blooms", {}),
        meta.get("nulls", {}),
        meta.get("rows", {}),
        filters,
    )


def manifest_scan_files(
    path: str, version: int | None = None, filters=None
) -> list[str]:
    """The file list a filtered read would open: live files at ``version``
    minus every file whose zone map proves no row can satisfy ALL of
    ``filters`` (AND semantics, ``[(col, op, value), ...]``).  Exposed so
    tests and ops tooling can assert skipping actually skips."""
    return _scan_meta(_load_meta(path, version), filters)


def _merge_schema_json(prev_json: str, new_schema) -> str:
    """Schema evolution on append: the committed schema is the UNION of
    all appended schemas — new columns join as nullable, a column whose
    type CHANGED raises (silent coercion corrupts; the writer must cast
    explicitly).  The manifest schema, not footer sampling, is what reads
    resolve against."""
    from pyspark.sql.types import StructField, StructType

    prev = StructType.fromJson(json.loads(prev_json))
    by_name = {f.name: f for f in prev.fields}
    out = list(prev.fields)
    for f in new_schema.fields:
        old = by_name.get(f.name)
        if old is None:
            out.append(StructField(f.name, f.dataType, True))
        elif old.dataType != f.dataType:
            raise ValueError(
                f"schema conflict on column {f.name!r}: table has "
                f"{old.dataType.simpleString()}, append has "
                f"{f.dataType.simpleString()} — cast explicitly"
            )
    return StructType(out).json()


def table_schema(path: str, version: int | None = None):
    """The committed StructType at ``version`` (default latest)."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(_load_meta(path, version)["schema"]))


def _constraint_violations(
    spark: SparkSession, files: list[str], schema, constraints: dict[str, str]
) -> dict[str, int]:
    """Per-constraint violation counts over ``files`` — ONE scan for all
    constraints.  SQL-standard CHECK semantics: a row violates only when
    the expression is FALSE (NULL passes)."""
    if not files or not constraints:
        return {}
    from pyspark.sql import functions as F

    df = spark.read.schema(schema).parquet(*files)
    aggs = [
        F.count(
            F.when(F.coalesce(F.expr(e), F.lit(True)) == F.lit(False), 1)
        ).alias(name)
        for name, e in constraints.items()
    ]
    row = df.agg(*aggs).first()
    return {n: int(row[n]) for n in constraints if row[n]}


def _enforce_constraints(
    spark: SparkSession, files: list[str], schema, constraints: dict[str, str],
    staged_dir: str,
) -> None:
    """Validate freshly-landed files BEFORE they can be published; on
    violation the staging dir is removed and the commit refused — no
    version is ever created that breaks a table constraint."""
    bad = _constraint_violations(spark, files, schema, constraints)
    if bad:
        import shutil

        shutil.rmtree(staged_dir, ignore_errors=True)
        detail = ", ".join(
            f"{n!r} ({c} rows, CHECK {constraints[n]})" for n, c in bad.items()
        )
        raise ValueError(f"commit violates table constraints: {detail}")


def write_manifest_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    txn: int | None = None,
    index_columns: list[str] | None = None,
    constraints: dict[str, str] | None = None,
    max_retries: int = 5,
) -> int:
    """Commit ``df`` to the manifest table at ``path``; returns the new
    version number.

    ``txn`` (monotone writer batch id) makes streaming writes idempotent:
    a commit whose txn is <= the last committed txn is a replay and
    becomes a NO-OP returning the current version — exactly Delta's
    transactional-writer contract, carried in the manifest itself.

    ``index_columns`` opts named columns into per-file BLOOM indexes
    (1 KiB each), consulted by equality filters at scan time — the point
    lookup complement to zone maps for high-cardinality unsorted columns
    (Delta's bloom filter index / Iceberg's puffin shape).  Building one
    re-reads just that column of the new files; zone maps stay free.

    ``constraints`` ({name: SQL boolean expr}) declares CHECK constraints
    at table creation (or replaces them with an overwrite); appends
    inherit the recorded set and may not change it.  EVERY commit —
    append, overwrite, and the DML rewrites — validates the files it
    lands against the table's constraints in one scan of the NEW data
    only, and refuses to publish a violating version (Delta's CHECK
    enforcement; NULL passes, per the SQL standard).

    **Optimistic concurrency**: losing the put-if-absent race no longer
    raises — appends commute, so the composition step re-reads the
    winner's manifest and retries against it (up to ``max_retries``;
    overwrite retries as last-writer-wins).  DML rewrites deliberately
    do NOT auto-retry: their file-level read set was chosen against the
    old snapshot, so the caller must re-plan (the Delta/Iceberg
    write-conflict rule).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be append or overwrite")
    if txn is not None and txn <= last_committed_txn(path):
        return table_versions(path)[-1]
    os.makedirs(_manifest_path(path), exist_ok=True)
    # 1. land data files in a commit-unique staging dir (uncommitted until
    #    the manifest rename below)
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, f"data_{commit_id}")
    df.write.parquet(data_dir)
    new_files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    # per-file metadata depends only on the new files: computed ONCE,
    # reused across concurrency retries
    stats_new = {f: _file_stats(f) for f in new_files}
    rows_new = {f: _file_row_count(f) for f in new_files}
    nulls_new = {f: _file_null_counts(f) for f in new_files}
    blooms_new = (
        {f: _file_blooms(f, index_columns) for f in new_files}
        if index_columns
        else {}
    )
    validated_against: dict[str, str] | None = None
    last_err: Exception | None = None
    for _ in range(max_retries):
        # 2. compose the next live set against the CURRENT manifest; zone
        #    maps come from the footers of the files just written (no data
        #    re-scan) plus the carried-over stats of surviving files
        versions = table_versions(path)
        current = versions[-1] if versions else -1
        stats = dict(stats_new)
        rows = dict(rows_new)
        nulls = dict(nulls_new)
        blooms = dict(blooms_new)
        schema_json = df.schema.json()
        prev_constraints: dict[str, str] = {}
        if current >= 0:
            with open(
                os.path.join(_manifest_path(path), f"v{current}.json")
            ) as fh:
                prev = json.load(fh)
            prev_constraints = prev.get("constraints", {})
        if mode == "overwrite" or current < 0:
            files = new_files
            effective = constraints if constraints is not None else prev_constraints
        else:
            if constraints is not None and constraints != prev_constraints:
                raise ValueError(
                    "constraints are set at create/overwrite; an append "
                    "cannot change the recorded set"
                )
            tombstoned = set(prev.get("dropped_columns", [])) & set(df.columns)
            if tombstoned:
                raise ValueError(
                    f"columns {sorted(tombstoned)} were DROPPED from this "
                    "table; appending them would re-add the name and "
                    "resurrect old values from pre-drop files. Rename the "
                    "incoming column, or overwrite the table."
                )
            effective = prev_constraints
            files = prev["files"] + new_files
            live = set(files)
            stats.update(
                {f: s for f, s in prev.get("stats", {}).items() if f in live}
            )
            rows.update(
                {f: r for f, r in prev.get("rows", {}).items() if f in live}
            )
            nulls.update(
                {f: n for f, n in prev.get("nulls", {}).items() if f in live}
            )
            carried = {
                f: b for f, b in prev.get("blooms", {}).items() if f in live
            }
            carried.update(blooms)
            blooms = carried
            schema_json = _merge_schema_json(prev["schema"], df.schema)
        # a lost race can change the effective set (a concurrent OVERWRITE
        # may have re-declared the table's constraints) — re-validate
        # whenever the set this attempt must honor differs from the one
        # already checked
        if effective and effective != validated_against:
            _enforce_constraints(
                df.sparkSession, new_files, df.schema, effective, data_dir
            )
            validated_against = dict(effective)
        try:
            return _publish_manifest(
                path, commit_id, version=current + 1,
                files=files, schema_json=schema_json, stats=stats,
                blooms=blooms, txn=txn, rows=rows, nulls=nulls,
                operation="create" if current < 0 else mode,
                constraints=effective,
                dropped=(
                    prev.get("dropped_columns")
                    if mode == "append" and current >= 0
                    else None  # overwrite replaces every file: tombstones clear
                ),
            )
        except _CommitConflict as exc:
            last_err = exc  # a concurrent writer won this version: recompose
    raise RuntimeError(
        f"commit to {path} lost {max_retries} concurrency races"
    ) from last_err


def _publish_manifest(
    path: str, commit_id: str, version: int, files: list[str],
    schema_json: str, stats: dict, blooms: dict, txn: int | None,
    rows: dict | None = None, nulls: dict | None = None,
    operation: str = "append",
    constraints: dict[str, str] | None = None,
    dropped: list[str] | None = None,
) -> int:
    """Atomic manifest publish: tmp file + put-if-absent link.

    ``os.link`` refuses to replace an existing target (unlike
    ``os.rename``, which would silently clobber a concurrent winner's
    manifest and drop its files from the table).  The loser of a race
    gets FileExistsError on the SAME syscall that would publish — no
    check-then-act window.  On object storage this is the put-if-absent
    half of Delta's LogStore contract."""
    tmp = os.path.join(_manifest_path(path), f".tmp_{commit_id}")
    import time

    meta = {
        "version": version,
        "operation": operation,
        "committed_at": time.time(),
        "files": files,
        "schema": schema_json,
        "stats": stats,
    }
    if blooms:
        meta["blooms"] = blooms
    if rows:
        meta["rows"] = rows
    if nulls:
        meta["nulls"] = nulls
    if constraints:
        meta["constraints"] = constraints
    if dropped:
        meta["dropped_columns"] = sorted(set(dropped))
    meta["txn"] = txn if txn is not None else last_committed_txn(path)
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    final = os.path.join(_manifest_path(path), f"v{version}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        os.remove(tmp)
        raise _CommitConflict(
            f"concurrent commit for v{version}; retry"
        ) from None
    os.remove(tmp)
    return version


def version_as_of(path: str, timestamp: float) -> int:
    """TIMESTAMP AS OF resolution: the newest version committed at or
    before ``timestamp`` (epoch seconds).  Commit times come from the
    manifest's own ``committed_at`` field (pre-field manifests fall back
    to the manifest file's mtime).  Raises if the table's first commit is
    after the timestamp."""
    best = None
    for v in table_versions(path):
        mf = os.path.join(_manifest_path(path), f"v{v}.json")
        with open(mf) as fh:
            t = json.load(fh).get("committed_at")
        if t is None:
            t = os.path.getmtime(mf)
        if t <= timestamp:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {path} existed at epoch {timestamp}"
        )
    return best


def read_manifest_table(
    spark: SparkSession, path: str, version: int | None = None, filters=None,
    as_of: float | None = None,
) -> DataFrame:
    """Read the table's snapshot at ``version`` (default: latest), or — via
    ``as_of`` (epoch seconds) — the snapshot current at that wall-clock
    time (Delta's TIMESTAMP AS OF; mutually exclusive with ``version``).

    ``filters`` (``[(col, op, value), ...]``, AND) enables zone-map file
    skipping: files whose recorded [min, max] cannot satisfy the
    conjunction are never opened, and the surviving filters are ALSO
    applied as DataFrame predicates (so results are exact, and Spark
    pushes the same predicates into parquet row-group pruning within the
    files that remain).

    Reads resolve against the COMMITTED schema (the union of all appended
    schemas), not footer sampling — files written before a column was
    added yield nulls for it, deterministically."""
    from pyspark.sql.types import StructType

    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = version_as_of(path, as_of)
    meta = _load_meta(path, version)  # one parse serves scan + schema
    files = _scan_meta(meta, filters)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    if not files:
        # every file pruned: an empty frame with the committed schema
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(*files)
    pred = _filters_to_predicate(filters)
    return df if pred is None else df.where(pred)


def _file_row_count(fpath: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(fpath).metadata.num_rows


def _rewrite_commit(
    spark: SparkSession, path: str, meta: dict, removed: set[str],
    new_data: DataFrame, operation: str = "rewrite",
) -> tuple[int, int]:
    """Shared copy-on-write commit tail for compaction/DELETE/MERGE:
    write ``new_data``, drop all-empty outputs, carry every live file not
    in ``removed`` verbatim (stats, row counts, and blooms included), and
    re-harvest stats + blooms for the rewritten files.  New files are
    bloom-indexed on the union of columns ANY live file indexes, so a
    rewrite can only widen index coverage, never shed it.  Returns
    (new_version, files_carried)."""
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, f"data_{commit_id}")
    new_data.write.parquet(data_dir)
    new_files = [
        f
        for f in sorted(
            os.path.join(data_dir, n)
            for n in os.listdir(data_dir)
            if n.endswith(".parquet")
        )
        if _file_row_count(f) > 0
    ]
    constraints = meta.get("constraints", {})
    if constraints:
        from pyspark.sql.types import StructType as _ST

        _enforce_constraints(
            spark, new_files, _ST.fromJson(json.loads(meta["schema"])),
            constraints, data_dir,
        )
    carried = [f for f in meta["files"] if f not in removed]
    index_cols = sorted(
        {c for b in meta.get("blooms", {}).values() for c in b}
    )
    stats = {f: s for f, s in meta.get("stats", {}).items() if f not in removed}
    stats.update({f: _file_stats(f) for f in new_files})
    rows = {f: r for f, r in meta.get("rows", {}).items() if f not in removed}
    rows.update({f: _file_row_count(f) for f in new_files})
    nulls = {f: n for f, n in meta.get("nulls", {}).items() if f not in removed}
    nulls.update({f: _file_null_counts(f) for f in new_files})
    blooms = {f: b for f, b in meta.get("blooms", {}).items() if f not in removed}
    if index_cols:
        blooms.update({f: _file_blooms(f, index_cols) for f in new_files})
    version = _publish_manifest(
        path, commit_id, version=meta["version"] + 1,
        files=carried + new_files, schema_json=meta["schema"],
        stats=stats, blooms=blooms, txn=None, rows=rows, nulls=nulls,
        operation=operation, constraints=constraints or None,
        dropped=meta.get("dropped_columns") or None,
    )
    return version, len(carried)


def compact_manifest_table(
    spark: SparkSession, path: str, min_rows_per_file: int = 100_000
) -> tuple[int, int, int]:
    """Small-file compaction (OPTIMIZE without reclustering): files under
    ``min_rows_per_file`` are coalesced into one rewrite; full-size files
    carry over verbatim.  The streaming-ingest janitor — a microbatch
    sink commits many small files per day, and this folds them together
    without touching the bulk of the table or changing row order
    semantics.  Planning is pure metadata for tables committed since row
    counts were recorded in the manifest (footer fallback otherwise).
    Returns (new_version, files_compacted, files_carried); no-ops (no
    commit) when fewer than two files qualify."""
    from pyspark.sql.types import StructType

    meta = _load_meta(path)
    known_rows = meta.get("rows", {})
    small = []
    for f in meta["files"]:
        n = known_rows.get(f)
        if n is None:  # pre-rows manifest: footer fallback
            n = _file_row_count(f)
        if n < min_rows_per_file:
            small.append(f)
    if len(small) < 2:
        return meta["version"], 0, len(meta["files"])
    schema = StructType.fromJson(json.loads(meta["schema"]))
    folded = spark.read.schema(schema).parquet(*small).coalesce(1)
    version, carried = _rewrite_commit(spark, path, meta, set(small), folded, "compact")
    return version, len(small), carried


def delete_where(
    spark: SparkSession, path: str, filters
) -> tuple[int, int, int]:
    """Copy-on-write DELETE: remove every row satisfying ALL ``filters``
    (``[(col, op, value), ...]``, the same grammar as filtered reads).
    Returns (new_version, files_rewritten, files_carried).

    This is where the skipping indexes turn into DML efficiency, exactly
    as in Delta/Iceberg copy-on-write: zone maps + blooms identify the
    files that MAY hold matching rows; only those are read, filtered to
    the survivors, and rewritten — every other live file is carried into
    the new manifest verbatim, stats and blooms included, without being
    opened.  Deleting one user's rows from a 100 TB table rewrites the
    handful of files the indexes cannot clear, not the table.  Old
    versions stay time-travelable until vacuum.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if not filters:
        raise ValueError("refusing DELETE with no filters (use overwrite)")
    meta = _load_meta(path)
    affected = set(_scan_meta(meta, filters))
    if not affected:
        # no-op: nothing can match, no commit
        return meta["version"], 0, len(meta["files"])
    schema = StructType.fromJson(json.loads(meta["schema"]))
    # NULL in a filtered column never satisfies the predicate, so those
    # rows must SURVIVE: coalesce(pred, False) before negating
    survivors = (
        spark.read.schema(schema).parquet(*sorted(affected))
        .where(~F.coalesce(_filters_to_predicate(filters), F.lit(False)))
    )
    version, carried = _rewrite_commit(spark, path, meta, affected, survivors, "delete")
    return version, len(affected), carried


def update_where(
    spark: SparkSession, path: str, filters, set_exprs: dict[str, str]
) -> tuple[int, int, int]:
    """Copy-on-write UPDATE: rows satisfying ALL ``filters`` get each
    column in ``set_exprs`` replaced by its SQL expression (evaluated on
    the pre-update row, standard UPDATE semantics); every other row — and
    every index-cleared file — is untouched.  Returns (new_version,
    files_rewritten, files_carried).  Completes the DML triad with
    ``delete_where`` and ``upsert_into`` on the same pruning machinery:
    only files the zone maps/blooms cannot clear are rewritten.

    ``set_exprs`` may only assign EXISTING columns (same type after an
    explicit cast in the expression if needed); assigning a new column is
    a schema change and belongs to an append, not an UPDATE.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if not filters:
        raise ValueError("refusing UPDATE with no filters (use overwrite)")
    if not set_exprs:
        raise ValueError("UPDATE needs at least one SET expression")
    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    unknown = set(set_exprs) - set(schema.names)
    if unknown:
        raise ValueError(f"SET targets unknown columns {sorted(unknown)}")
    affected = set(_scan_meta(meta, filters))
    if not affected:
        return meta["version"], 0, len(meta["files"])
    pred = F.coalesce(_filters_to_predicate(filters), F.lit(False))
    base = spark.read.schema(schema).parquet(*sorted(affected))
    updated = base.select(
        *[
            (
                F.when(pred, F.expr(set_exprs[c]).cast(fld.dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c, fld in zip(schema.names, schema.fields)
        ]
    )
    version, carried = _rewrite_commit(spark, path, meta, affected, updated, "update")
    return version, len(affected), carried


#: above this many source keys, upsert skips bloom probing (which needs
#: the key set on the driver) and prunes on zone-range overlap alone —
#: still correct, just coarser
_UPSERT_BLOOM_KEY_CAP = 100_000


def upsert_into(
    spark: SparkSession, path: str, source: DataFrame, key_col: str,
    schema_evolution: bool = False,
) -> tuple[int, int, int]:
    """Copy-on-write MERGE: rows of ``source`` replace same-key rows in
    the table (update) or join it (insert) — the key-based sibling of
    ``delete_where``.  Returns (new_version, files_rewritten,
    files_carried).

    Source columns the table lacks REFUSE by default (a typo'd CDC field
    silently vanishing is how lakes rot); ``schema_evolution=True``
    evolves the committed schema instead — the union rules of the append
    path (new columns nullable, type conflicts still refuse), with
    untouched files carried verbatim and read as NULL for the new
    columns, exactly like post-ADD-COLUMN reads.

    File pruning is index-driven and always conservative: a live file is
    rewritten only if its zone range for ``key_col`` overlaps the
    source's [min, max] AND (when the source key set is small enough to
    hold on the driver, capped at ``_UPSERT_BLOOM_KEY_CAP``) at least one
    source key bloom-hits it.  Everything else carries over verbatim,
    never opened.  A CDC batch touching one hour of keys rewrites that
    hour's files, not the table; old versions stay time-travelable.

    Guards: the source is materialized ONCE (a non-deterministic source
    cannot make the prune decision disagree with the written data), its
    schema must not conflict with the table's (same refusal as append),
    and duplicate source keys raise — MERGE maintains one row per key,
    and silently inserting both versions of a CDC update would break it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    if key_col not in schema.names or key_col not in source.columns:
        raise ValueError(f"key column {key_col!r} must exist on both sides")
    # same type-drift refusal as the append path (raises on conflict)
    evolved_json = _merge_schema_json(meta["schema"], source.schema)
    extra = [c for c in source.columns if c not in schema.names]
    if extra:
        if not schema_evolution:
            raise ValueError(
                f"source adds columns {extra} the table lacks; pass "
                "schema_evolution=True to evolve the schema (refusing to "
                "silently drop them)"
            )
        schema = StructType.fromJson(json.loads(evolved_json))
        meta = {**meta, "schema": evolved_json}
    missing = [c for c in schema.names if c not in source.columns]
    if missing:
        raise ValueError(
            f"source lacks table columns {missing}: MERGE replaces whole "
            "rows, so a partial batch would silently NULL them — ship the "
            "full row set"
        )
    # materialize once: bounds, bloom probes, and the final write must all
    # see the SAME rows even for a non-deterministic source
    src = source.select(*schema.names).localCheckpoint()
    bounds = src.agg(
        F.min(key_col).alias("lo"),
        F.max(key_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key_col)).alias("n_keys"),
    ).first()
    if bounds["n"] == 0:
        return meta["version"], 0, len(meta["files"])
    if bounds["n_keys"] != bounds["n"]:
        raise ValueError(
            f"source has {bounds['n']} rows but {bounds['n_keys']} distinct "
            f"{key_col!r} keys — MERGE requires one source row per key "
            "(pre-aggregate the batch, e.g. keep the latest per key)"
        )
    src_keys = None
    if bounds["n"] <= _UPSERT_BLOOM_KEY_CAP and any(
        key_col in b for b in meta.get("blooms", {}).values()
    ):
        src_keys = [r[0] for r in src.select(key_col).collect()]
    blo = _canon_range(_jsonable_stat(bounds["lo"]))
    bhi = _canon_range(_jsonable_stat(bounds["hi"]))
    affected = []
    for f in meta["files"]:
        rng = meta.get("stats", {}).get(f, {}).get(key_col)
        if rng is not None:
            lo, hi = _canon_range(rng[0]), _canon_range(rng[1])
            try:
                if blo is not None and bhi is not None and (hi < blo or lo > bhi):
                    continue  # zone-disjoint from every source key
            except TypeError:
                pass  # incomparable: stay conservative
        bloom = meta.get("blooms", {}).get(f, {}).get(key_col)
        if src_keys is not None and bloom is not None:
            if not any(_bloom_may_contain(bloom, k) for k in src_keys):
                continue  # definite miss for the whole batch
        affected.append(f)
    if affected:
        survivors = (
            spark.read.schema(schema).parquet(*affected)
            .join(src.select(F.col(key_col)), on=key_col, how="left_anti")
        )
        new_data = survivors.unionByName(src)
    else:
        new_data = src
    version, carried = _rewrite_commit(
        spark, path, meta, set(affected), new_data, "merge"
    )
    return version, len(affected), carried


def vacuum_manifest_table(
    path: str, keep_versions: int = 1, retention_seconds: float = 3600.0
) -> int:
    """GC: retain the newest ``keep_versions`` manifests, delete every data
    file no retained version references — including crash orphans that no
    manifest ever listed.  Returns the number of files removed.  Time
    travel is bounded by the retention window after this, exactly like
    VACUUM on a real table format.

    ``retention_seconds`` guards in-flight commits: a writer that has landed
    data files but not yet published its manifest is invisible to the live
    set, and deleting its files would let it publish a manifest pointing at
    nothing.  Only unreferenced files whose mtime is older than the
    retention window are removed — Delta VACUUM's retention semantics.
    Pass 0 only when no concurrent writer can exist (tests, single-process
    batch)."""
    import glob
    import time

    versions = table_versions(path)
    if not versions:
        return 0
    kept, dropped = versions[-keep_versions:], versions[:-keep_versions]
    live: set[str] = set()
    for v in kept:
        live.update(_live_files(path, v))
    removed = 0
    cutoff = time.time() - retention_seconds
    for f in glob.glob(os.path.join(path, "data_*", "*.parquet")):
        if f not in live and os.path.getmtime(f) <= cutoff:
            os.remove(f)
            removed += 1
    for d in glob.glob(os.path.join(path, "data_*")):
        if not os.listdir(d):
            os.rmdir(d)
    for v in dropped:
        os.remove(os.path.join(_manifest_path(path), f"v{v}.json"))
    return removed


def optimize_manifest_table(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    target_files: int = 8,
    bits: int = 8,
    index_columns: list[str] | None = None,
) -> int:
    """Delta-style ``OPTIMIZE [ZORDER BY]``: rewrite the live set into
    ``target_files`` cluster-ordered files and commit the result as a new
    overwrite version (old versions stay time-travelable; ``vacuum``
    reclaims them later).  Returns the new version number.

    One column: range-clustered layout (each file owns a disjoint range).
    Several columns: Morton/Z-order — each column is bucketed into
    ``2**bits`` ranks (numeric columns via sampled quantiles,
    ``approxQuantile`` — the same sampling shape as Delta's
    range_partition_id; string columns via a distributed ntile over the
    sorted distinct values, whose bucket-boundary fences compare
    lexicographically), the bucket ids are bit-interleaved, and files are
    range-partitioned on the curve value.  Either way every output file covers a narrow range
    of EACH cluster column, which is precisely what makes the commit's
    zone maps (and parquet row-group stats inside each file) prunable:
    OPTIMIZE is what turns data skipping from "theoretically available"
    into "skips 99% of a 100 TB table".

    ``index_columns`` defaults to re-indexing every column any live file
    carries a bloom for, so a rewrite never silently sheds the table's
    point-lookup indexes; pass an explicit list (or ``[]``) to change
    the indexed set.
    """
    from pyspark.sql import functions as F

    df = read_manifest_table(spark, path)
    if not cluster_by:
        raise ValueError("cluster_by must name at least one column")
    if index_columns is None:
        # a rewrite must not silently shed the table's bloom indexes:
        # default to re-indexing every column any live file indexes
        with open(
            os.path.join(
                _manifest_path(path), f"v{table_versions(path)[-1]}.json"
            )
        ) as fh:
            prev_blooms = json.load(fh).get("blooms", {})
        index_columns = sorted({c for b in prev_blooms.values() for c in b})
    if len(cluster_by) == 1:
        arranged = df.repartitionByRange(
            target_files, F.col(cluster_by[0])
        ).sortWithinPartitions(cluster_by[0])
    else:
        n_buckets = 1 << bits
        from pyspark.sql.types import NumericType

        dtypes = {f.name: f.dataType for f in df.schema.fields}
        numeric = [
            c for c in cluster_by if isinstance(dtypes.get(c), NumericType)
        ]
        # numeric fences: sampled per-column quantiles, driver-sized
        # (2^bits - 1 each), computed in ONE scan for all numeric columns
        all_qs = (
            dict(zip(numeric, df.stat.approxQuantile(
                numeric, [i / n_buckets for i in range(1, n_buckets)], 0.01
            )))
            if numeric
            else {}
        )
        bucket_cols = []
        for c in cluster_by:
            if c in all_qs:
                fences = F.array(*[F.lit(float(q)) for q in all_qs[c]])
                bucket_cols.append(
                    F.size(
                        F.filter(fences, lambda b: b <= F.col(c).cast("double"))
                    )
                )
            else:
                # string (or other orderable) column: bucket-boundary
                # fences from a DISTRIBUTED range partitioning of the
                # distinct values — repartitionByRange samples the key
                # distribution exactly like numeric quantiles, each
                # partition computes its own max, and only the
                # driver-sized fence list is collected.  (A global-window
                # ntile would funnel every distinct value through ONE
                # task — a spill/OOM cliff on high-cardinality strings.)
                tiles = (
                    df.select(c).where(F.col(c).isNotNull()).distinct()
                    .repartitionByRange(n_buckets, F.col(c))
                    .groupBy(F.spark_partition_id().alias("__t"))
                    .agg(F.max(c).alias("hi"))
                    .orderBy("__t")
                    .collect()
                )
                svals = [r["hi"] for r in tiles[:-1]]  # n-1 inner fences
                fences = F.array(*[F.lit(v) for v in svals]) if svals else None
                if fences is None:
                    bucket_cols.append(F.lit(0))
                else:
                    bucket_cols.append(
                        F.size(F.filter(fences, lambda b: b <= F.col(c)))
                    )
        k = len(bucket_cols)
        z = None
        for i in range(bits):
            for j, bc in enumerate(bucket_cols):
                bit = F.shiftleft(
                    F.shiftright(bc, i).bitwiseAND(F.lit(1)), i * k + j
                )
                z = bit if z is None else z.bitwiseOR(bit)
        arranged = (
            df.withColumn("__zorder", z)
            .repartitionByRange(target_files, F.col("__zorder"))
            .sortWithinPartitions("__zorder")
            .drop("__zorder")
        )
    return write_manifest_table(
        arranged, path, mode="overwrite", index_columns=index_columns or None
    )


def read_version_delta(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Incremental read: rows ADDED between two versions (change-data-feed
    for append workloads).  The delta is a manifest set difference — no
    data diffing, no full scan: a downstream consumer polls versions and
    reads only the new files, which is how incremental ETL over a snapshot
    table avoids reprocessing 100 TB to pick up a day's partition."""
    versions = table_versions(path)
    to_v = versions[-1] if to_version is None else to_version
    if from_version not in versions or to_v not in versions:
        raise ValueError(f"versions must be in {versions}")
    before = set(_live_files(path, from_version))
    added = [f for f in _live_files(path, to_v) if f not in before]
    if not added:
        raise ValueError(f"no files added between v{from_version} and v{to_v}")
    return spark.read.parquet(*added)


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY for the manifest table: one row per committed
    version — (version, operation, n_files, n_rows, files_added,
    files_removed, txn).  Pure metadata (manifest JSONs only, no data
    files opened); row counts come from the per-file counts the commits
    recorded (null for pre-rows manifests rather than a table scan).
    Manifests written before operations were recorded infer one from the
    file-set diff (append / overwrite / rewrite)."""
    rows = []
    prev_files: set[str] = set()
    for v in table_versions(path):
        meta = _load_meta(path, v)
        files = meta["files"]
        added = [f for f in files if f not in prev_files]
        removed = prev_files - set(files)
        op = meta.get("operation")
        if op is None:  # pre-operation manifest: infer from the diff
            if not prev_files and v == 0:
                op = "create"
            elif removed and added:
                op = "overwrite" if not (prev_files & set(files)) else "rewrite"
            elif removed:
                op = "rewrite"
            else:
                op = "append"
        known = meta.get("rows", {})
        n_rows = (
            sum(known[f] for f in files) if all(f in known for f in files) else None
        )
        committed = meta.get("committed_at")
        rows.append(
            (v, op, committed, len(files), n_rows, len(added), len(removed),
             meta.get("txn", -1))
        )
        prev_files = set(files)
    return spark.createDataFrame(
        rows,
        "version int, operation string, committed_at double, n_files int, "
        "n_rows long, files_added int, files_removed int, txn long",
    )


def read_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Row-level change data feed: every insert and delete the table saw in
    versions ``(from_version, to_version]``, as the table's columns plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version``.

    This is Delta's CDF read surface reconstructed from the commit log
    alone — no change files are written at DML time.  Each version step is
    a file-set diff (removed = before − after, added = after − before),
    folded by the shared change-feed algebra (``log_tail.batch_changes``):
    rows a rewrite carried through unchanged cancel, and an UPDATE appears
    as the delete of the pre-image plus the insert of the post-image.
    Only the files each commit added or removed are read — a pure append
    streams the new files straight through (the ``read_version_delta``
    fast path) — each side under the step's committed schema.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .log_tail import batch_changes

    versions = table_versions(path)
    to_v = versions[-1] if to_version is None else to_version
    if from_version not in versions or to_v not in versions:
        raise ValueError(f"versions must be in {versions}")
    if to_v <= from_version:
        raise ValueError(f"to_version {to_v} must exceed from_version {from_version}")

    def steps():
        before = set(_live_files(path, from_version))
        for v in versions:
            if not from_version < v <= to_v:
                continue
            meta = _load_meta(path, v)
            schema = StructType.fromJson(json.loads(meta["schema"]))
            after = set(meta["files"])
            read = spark.read.schema(schema).parquet
            removed, added = sorted(before - after), sorted(after - before)
            yield (
                v,
                schema,
                read(*removed) if removed else None,
                read(*added) if added else None,
            )
            before = after

    return batch_changes(
        spark, steps(), StructField("_commit_version", IntegerType(), False)
    )


def write_stream_manifest(
    query_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    index_columns: list[str] | None = None,
):
    """Structured Streaming sink over the manifest table: each microbatch
    commits with txn=batch_id, so a batch replayed after a crash between
    commit and checkpoint is a no-op — exactly-once table state from an
    at-least-once source, end to end.  Zone maps accrue per microbatch for
    free; ``index_columns`` adds bloom indexes the same way (pair with
    ``compact_manifest_table`` to fold the small files batches leave)."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        write_manifest_table(
            batch_df, path, "append", txn=int(batch_id),
            index_columns=index_columns,
        )

    return (
        query_df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def register_manifest_view(
    spark: SparkSession, name: str, path: str, version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Register the table's snapshot as a temp view so ``spark.sql`` can
    reference it by name (the catalog sugar over ``read_manifest_table``;
    version/as_of give SQL users time travel).  Returns the DataFrame."""
    df = read_manifest_table(spark, path, version=version, as_of=as_of)
    df.createOrReplaceTempView(name)
    return df


def clone_manifest_table(
    spark: SparkSession, src: str, dest: str, version: int | None = None
) -> int:
    """DEEP CLONE: copy the snapshot's live data files and commit them as
    version 0 of a NEW independent table at ``dest`` — backups, dev
    copies, migration between storage roots.  Stats, blooms, constraints,
    and recorded schema carry over verbatim (no re-harvest, no scan);
    only the data files are copied.  The clone shares no state with the
    source: vacuuming either never affects the other.
    """
    import shutil

    meta = _load_meta(src, version)
    if table_versions(dest):
        raise ValueError(f"destination {dest} already holds a table")
    os.makedirs(_manifest_path(dest), exist_ok=True)
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(dest, f"data_{commit_id}")
    os.makedirs(data_dir)
    mapping: dict[str, str] = {}
    for i, f in enumerate(meta["files"]):
        new = os.path.join(data_dir, f"part-{i:05d}.parquet")
        shutil.copyfile(f, new)
        mapping[f] = new
    remap = lambda d: {mapping[f]: v for f, v in d.items() if f in mapping}
    return _publish_manifest(
        dest, commit_id, version=0,
        files=[mapping[f] for f in meta["files"]],
        schema_json=meta["schema"],
        stats=remap(meta.get("stats", {})),
        blooms=remap(meta.get("blooms", {})),
        txn=None,
        rows=remap(meta.get("rows", {})),
        nulls=remap(meta.get("nulls", {})),
        operation="clone",
        constraints=meta.get("constraints") or None,
        dropped=meta.get("dropped_columns") or None,
    )


def restore_table(path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION: publish a NEW head commit whose
    snapshot (files, schema, stats, blooms, constraints, dropped-column
    fences) is exactly that of ``version`` — the undo operation for a bad
    DML/OPTIMIZE/schema change.

    Metadata-only and O(1) in data size: the old version's files are
    RE-REFERENCED, never copied.  History is preserved — the rollback is
    itself an auditable commit (``table_history`` shows
    ``restore[v{N}]``), and ``read_changes`` sees it as the net row diff
    it is.  Restoring to the current head is a no-op (returns the head
    version, no empty commit).  Fails loudly when the target's data files
    were already vacuumed away: a restore that silently resurrected a
    manifest pointing at deleted files would corrupt the table.  After a
    successful restore the re-referenced files are live again, so a later
    vacuum keeps them.
    """
    meta = _load_meta(path, version)
    head = _load_meta(path)
    if meta["version"] == head["version"]:
        return head["version"]
    missing = [f for f in meta["files"] if not os.path.exists(f)]
    if missing:
        raise ValueError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} of its data files were vacuumed "
            f"(first missing: {missing[0]})"
        )
    return _publish_manifest(
        path, uuid.uuid4().hex[:12], version=head["version"] + 1,
        files=meta["files"], schema_json=meta["schema"],
        stats=meta.get("stats", {}), blooms=meta.get("blooms", {}),
        txn=None, rows=meta.get("rows", {}), nulls=meta.get("nulls", {}),
        operation=f"restore[v{version}]",
        constraints=meta.get("constraints") or None,
        dropped=meta.get("dropped_columns") or None,
    )


def add_column(path: str, name: str, data_type: str) -> int:
    """ALTER TABLE ADD COLUMN, metadata-only: publish a new manifest whose
    committed schema carries the new nullable column — no data file is
    touched, existing files yield nulls for it on read (exactly the
    schema-evolution contract appends already follow).  Returns the new
    version.  Adding an existing name raises."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    if name in schema.names:
        raise ValueError(f"column {name!r} already exists")
    if name in meta.get("dropped_columns", []):
        raise ValueError(
            f"column {name!r} was DROPPED from this table: live files still "
            "physically hold it and parquet resolves by name, so re-adding "
            "it would resurrect the old values instead of the promised "
            "nulls. Use a fresh name, or overwrite the table."
        )
    new_schema = StructType(
        list(schema.fields) + [StructField(name, _parse_datatype_string(data_type), True)]
    )
    return _publish_manifest(
        path, uuid.uuid4().hex[:12], version=meta["version"] + 1,
        files=meta["files"], schema_json=new_schema.json(),
        stats=meta.get("stats", {}), blooms=meta.get("blooms", {}),
        txn=None, rows=meta.get("rows", {}), nulls=meta.get("nulls", {}),
        operation="alter", constraints=meta.get("constraints") or None,
        dropped=meta.get("dropped_columns") or None,
    )


def table_count(path: str, version: int | None = None) -> int | None:
    """Exact ``count(*)`` answered from manifest metadata alone — the
    per-file row counts every commit records.  Returns ``None`` (caller
    must scan) only for pre-rows manifests missing a count for some live
    file.  At 100 TB this is the difference between a metadata lookup
    and a full-table job; Delta/Iceberg answer unfiltered counts the
    same way."""
    meta = _load_meta(path, version)
    known = meta.get("rows", {})
    if not all(f in known for f in meta["files"]):
        return None
    return sum(known[f] for f in meta["files"])


def drop_column(path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN, metadata-only: the committed schema loses
    the column; data files are untouched (their bytes for the column
    simply stop being read — Spark projects by the committed schema), and
    time travel to pre-drop versions still sees it.  Dropping a column a
    CHECK constraint references is refused.  Returns the new version."""
    from pyspark.sql.types import StructType

    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    if name not in schema.names:
        raise ValueError(f"column {name!r} does not exist")
    if len(schema.names) == 1:
        raise ValueError("refusing to drop the table's only column")
    for cname, expr in meta.get("constraints", {}).items():
        import re as _re

        if _re.search(rf"\b{_re.escape(name)}\b", expr):
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint "
                f"{cname!r}; drop the constraint first (overwrite)"
            )
    new_schema = StructType([f for f in schema.fields if f.name != name])
    # purge the column's per-file metadata (stale zone ranges would let a
    # filter on the dead name prune on dead data) and tombstone the name:
    # the files still physically hold the column, and parquet resolves by
    # NAME, so re-adding it later would resurrect old values
    purge = lambda d: {
        f: {c: v for c, v in cols.items() if c != name}
        for f, cols in d.items()
    }
    dropped = sorted(set(meta.get("dropped_columns", [])) | {name})
    return _publish_manifest(
        path, uuid.uuid4().hex[:12], version=meta["version"] + 1,
        files=meta["files"], schema_json=new_schema.json(),
        stats=purge(meta.get("stats", {})),
        blooms=purge(meta.get("blooms", {})),
        txn=None, rows=meta.get("rows", {}),
        nulls=purge(meta.get("nulls", {})),
        operation="alter", constraints=meta.get("constraints") or None,
        dropped=dropped,
    )


def files_table(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """The snapshot's file-level metadata as a queryable DataFrame —
    Iceberg's ``table.files`` / Delta's file-level DESCRIBE DETAIL shape:
    one row per live data file with its recorded row count, byte size,
    and per-column [min, max] zone ranges (as strings; callers cast).
    Pure metadata: nothing but manifest JSON and os.stat is touched —
    ops tooling (skew checks, compaction planning, layout audits) runs
    on the 100 TB table without opening a single data file."""
    meta = _load_meta(path, version)
    rows = []
    for f in meta["files"]:
        stats = meta.get("stats", {}).get(f, {})
        rows.append(
            (
                f,
                meta.get("rows", {}).get(f),
                os.path.getsize(f) if os.path.exists(f) else None,
                {c: str(mm[0]) for c, mm in stats.items()},
                {c: str(mm[1]) for c, mm in stats.items()},
                {c: int(n) for c, n in meta.get("nulls", {}).get(f, {}).items()},
                sorted(meta.get("blooms", {}).get(f, {})),
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, n_rows long, size_bytes long, "
        "col_min map<string,string>, col_max map<string,string>, "
        "null_counts map<string,int>, bloom_columns array<string>",
    )


def write_stream_upsert(
    query_df: DataFrame,
    path: str,
    key_col: str,
    checkpoint_dir: str,
    order_col: str | None = None,
    schema_evolution: bool = False,
):
    """Streaming CDC sink: each microbatch MERGEs into the manifest table
    (``upsert_into``) instead of appending — the foreachBatch upsert
    pattern Delta documents for streaming CDC.  Batches are pre-collapsed
    to one row per key (latest by ``order_col`` when given, else an
    arbitrary-but-deterministic max-by on the remaining columns is NOT
    attempted — pass order_col for multi-update batches), so the MERGE's
    one-row-per-key contract holds.

    With ``order_col`` the sink is also ORDER-ROBUST: before merging, the
    batch's winners are checked against the table's CURRENT row per key
    and an incoming row loses to a newer one already present — Spark's
    file source (and any at-least-once bus) does not promise batch order,
    and without this guard an old batch replayed late would roll keys
    backwards.  Replay safety follows: re-upserting any already-applied
    batch finds nothing newer to write (effectively-once state,
    at-least-once versions; compaction/vacuum fold the extras).

    ``schema_evolution=True`` forwards to the per-batch MERGE, so a CDC
    feed that starts shipping a new field evolves the table mid-stream
    instead of failing the query.
    """
    from pyspark.sql import functions as F

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        spark = b.sparkSession
        if order_col is not None:
            cols = [c for c in b.columns if c != key_col]
            # pick the winning ROW atomically (max_by of the whole row
            # struct) — per-column max_by would stitch columns from
            # DIFFERENT rows when two updates share an order value; ties
            # on order_col resolve deterministically by the full row
            row = F.struct(*[F.col(c) for c in cols])
            ordk = F.struct(F.col(order_col), *[F.col(c) for c in cols])
            b = (
                b.groupBy(key_col)
                .agg(F.max_by(row, ordk).alias("__w"))
                .select(key_col, "__w.*")
            )
            # out-of-order guard: drop rows older than the table's
            # current row for the same key.  Incoming order EQUAL to the
            # table's is treated as already-applied (CDC sequences must
            # be monotone per key for multi-value updates).  The current
            # (key, order) projection reads only files whose key zone
            # range overlaps the batch (manifest skipping), never the
            # whole table.
            lohi = b.agg(
                F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
            ).first()
            if lohi["lo"] is None:
                return
            current = read_manifest_table(
                spark, path,
                filters=[(key_col, ">=", lohi["lo"]),
                         (key_col, "<=", lohi["hi"])],
            ).select(
                F.col(key_col).alias("__k"),
                F.col(order_col).alias("__cur_ord"),
            )
            b = (
                b.join(current, b[key_col] == current["__k"], "left")
                .where(
                    F.col("__cur_ord").isNull()
                    | (F.col(order_col) > F.col("__cur_ord"))
                )
                .drop("__k", "__cur_ord")
            )
        if b.isEmpty():
            return
        upsert_into(spark, path, b, key_col, schema_evolution=schema_evolution)

    return (
        query_df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update" if query_df.isStreaming else "append")
        .start()
    )


def rename_column_via_backfill(
    spark: SparkSession, path: str, old: str, new: str
) -> tuple[int, int, int]:
    """The documented rename pattern as one call: ``add_column(new)`` ->
    ``update_where`` copying old into new (a full-table copy-on-write
    rewrite — rename pays the data movement column mapping would avoid,
    in exchange for zero read-path complexity) -> ``drop_column(old)``.
    Returns the three version numbers; history shows alter/update/alter.
    CHECK constraints referencing the old name refuse the drop, exactly
    as a manual sequence would."""
    from pyspark.sql.types import StructType

    meta = _load_meta(path)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    if old not in schema.names:
        raise ValueError(f"column {old!r} does not exist")
    dt = schema[old].dataType.simpleString()
    v1 = add_column(path, new, dt)
    # copy every row (filter matches all rows; NULL-safe via IS NOT NULL
    # union IS NULL being exhaustive — use a tautology on the key column)
    v2, _, _ = update_where(
        spark, path, [(old, "not_null", None)], {new: f"`{old}`"}
    )
    # rows where old IS NULL keep new = NULL (its add_column default):
    # nothing further to copy
    v3 = drop_column(path, old)
    return v1, v2, v3
