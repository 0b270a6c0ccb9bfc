"""Read-only reader for the Apache Iceberg table LAYOUT (metadata JSON +
Avro manifest lists + Avro manifests + parquet data files).

The second half of the engine's open-format interop story (the first is
``sources/delta_log.py``): a user's existing lakehouse table in the
Iceberg Hadoop layout can be SCANNED without conversion.  The interop
EXPORT sink lives in ``sources/iceberg_write.py`` (r18 — spec-shaped
snapshots, Avro manifests with footer-derived bounds, optimistic
concurrency), so results can be handed to an external Iceberg-reading
stack and this reader has a first-party producer to round-trip against.  The layout is
walked exactly as the public Iceberg table spec defines it —

    metadata/version-hint.text            -> current metadata version
    metadata/v<N>.metadata.json           -> schema, specs, snapshots
    snapshot.manifest-list (.avro)        -> manifest file inventory
    manifest (.avro)                      -> data-file entries + stats
    data files (.parquet)                 -> complete rows

— and the Avro halves are decoded by the engine's own pure-Python OCF
reader (``sources/avro_ocf.parse_avro``), so no Iceberg or Avro runtime
is required.  Unlike Hive/Delta layouts, Iceberg data files are
COMPLETE (identity-partition source columns are stored in the files),
so the read is ONE parquet scan with the table schema — no partition
reconstruction joins at all (tables migrated via add_files/Hive import
whose files LACK the identity source columns are detected by footer
probes and restored from the manifest tuples via a broadcast map join,
never silently read as NULL — see ``read_iceberg_table``);
identity-partition values from the manifest entries feed the
manifest-table pruner (``manifest_table._prune_files``) as exact
[v, v] zone maps, so a filter on a partition column skips files
without opening anything.

Honest support boundary — everything below raises loudly, never
returns wrong rows:

- **format-version 1 and 2 only**; v3+ is refused.
- **v2 POSITION deletes are applied** (r17): position-delete files —
  ordinary parquet of ``(file_path, pos)`` — are read and masked out
  via a broadcast anti-join on ``_metadata.file_path``/``row_index``
  (``_apply_position_deletes``).
- **v2 EQUALITY deletes are applied** (r18): per equality-id column
  set, a broadcast left-anti join on null-safe equality, scoped by
  DATA SEQUENCE NUMBER (a delete applies only to data files with
  strictly smaller sequence numbers, so compactions and upsert
  re-inserts after the delete keep their rows); sequence numbers
  follow the spec's manifest-inheritance rule.  Not composed with
  migrated-layout partition restoration, and the CHANGE FEED still
  refuses equality deletes (diffing their coverage needs value-level
  per-step resolution) — both refuse loudly.
- **Parquet data files only** (``file_format`` must be PARQUET).
- **Name-based column resolution**: parquet columns are matched to the
  table schema by NAME, not Iceberg field id.  A table whose columns
  were RENAMED via the field-id indirection would mis-resolve, so if
  the metadata carries more than one historical schema the reader
  refuses unless all schemas agree on (id -> name) for the current
  schema's fields.
- **Hadoop table layout only** (version-hint.text / vN.metadata.json);
  catalog-managed metadata pointers are out of scope.
"""

from __future__ import annotations

import json
import os
import re
from functools import cached_property
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .avro_ocf import parse_avro
from .manifest_table import _filters_to_predicate, _prune_files

_METADATA_RE = re.compile(r"^v(\d+)\.metadata\.json$")


def _metadata_path(path: str) -> str:
    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(
            f"{path!r} has no metadata/ directory — not an Iceberg Hadoop"
            " table layout"
        )
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = int(fh.read().strip())
        p = os.path.join(mdir, f"v{v}.metadata.json")
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"version-hint.text names version {v} but {p!r} is absent"
            )
        return p
    versions = sorted(
        int(m.group(1))
        for m in (_METADATA_RE.match(n) for n in os.listdir(mdir))
        if m
    )
    if not versions:
        raise FileNotFoundError(
            f"no vN.metadata.json under {mdir!r} (catalog-managed tables"
            " are out of scope — this reader walks the Hadoop layout)"
        )
    return os.path.join(mdir, f"v{versions[-1]}.metadata.json")


def _load_metadata(path: str) -> dict:
    with open(_metadata_path(path)) as fh:
        meta = json.load(fh)
    fv = meta.get("format-version", 1)
    if fv not in (1, 2):
        raise NotImplementedError(
            f"Iceberg format-version {fv} at {path!r}; this reader"
            " implements versions 1 and 2 only."
        )
    return meta


def _current_schema(meta: dict, path: str) -> dict:
    if "schemas" in meta:
        schemas = meta["schemas"]
        sid = meta.get("current-schema-id", 0)
        (schema,) = [s for s in schemas if s.get("schema-id", 0) == sid]
        if len(schemas) > 1:
            # name-based resolution guard: every historical schema must
            # agree with the current one on (field id -> name), else a
            # rename happened and parquet files written under the old
            # name would silently mis-resolve
            current_names = {
                f["id"]: f["name"] for f in schema["fields"]
            }
            name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
            for s in schemas:
                for f in s["fields"]:
                    if (
                        f["id"] in current_names
                        and f["name"] != current_names[f["id"]]
                    ):
                        raise NotImplementedError(
                            f"Iceberg table at {path!r} renamed column"
                            f" id {f['id']} ({f['name']!r} ->"
                            f" {current_names[f['id']]!r}); this reader"
                            " resolves parquet columns by NAME and"
                            " would mis-read files written before the"
                            " rename."
                        )
                    # the converse hazard (ADVICE r16): a column DROPPED
                    # and re-added under the same NAME gets a new field
                    # id, the per-id check above never fires, and
                    # name-based resolution would silently read the old
                    # (semantically different) column from pre-drop files
                    if (
                        f["name"] in name_to_id
                        and f["id"] != name_to_id[f["name"]]
                    ):
                        raise NotImplementedError(
                            f"Iceberg table at {path!r} reused column"
                            f" name {f['name']!r} across field ids"
                            f" ({f['id']} historical vs"
                            f" {name_to_id[f['name']]} current — a"
                            " drop/re-add); this reader resolves parquet"
                            " columns by NAME and would mis-read files"
                            " written under the retired field."
                        )
        return schema
    return meta["schema"]  # format-version 1


def _spark_type(t):
    """Iceberg schema type -> Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(t, str):
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "date": T.DateType(),
            "time": T.LongType(),  # microseconds since midnight
            "timestamp": T.TimestampNTZType(),
            "timestamptz": T.TimestampType(),
            "string": T.StringType(),
            "uuid": T.StringType(),
            "binary": T.BinaryType(),
        }
        if t in prim:
            return prim[t]
        m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        m = re.match(r"^fixed\[(\d+)\]$", t)
        if m:
            return T.BinaryType()
        raise NotImplementedError(f"Iceberg type {t!r} not supported")
    kind = t["type"]
    if kind == "struct":
        return _struct_type(t)
    if kind == "list":
        return T.ArrayType(
            _spark_type(t["element"]), not t.get("element-required", False)
        )
    if kind == "map":
        return T.MapType(
            _spark_type(t["key"]),
            _spark_type(t["value"]),
            not t.get("value-required", False),
        )
    raise NotImplementedError(f"Iceberg type {t!r} not supported")


def _struct_type(schema: dict):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(
                f["name"], _spark_type(f["type"]), not f.get("required", False)
            )
            for f in schema["fields"]
        ]
    )


def _resolve(path: str, uri: str) -> str:
    """Manifest/data-file URI -> local filesystem path."""
    if "://" in uri:
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            raise NotImplementedError(
                f"non-local data-file URI {uri!r}; only file:// (or"
                " table-relative) paths are readable here."
            )
        return unquote(parsed.path)
    if uri.startswith("/"):
        return uri
    return os.path.join(path, uri)


def iceberg_snapshots(path: str) -> list[dict]:
    """The metadata's snapshot list (id, timestamp, manifest list)."""
    return list(_load_metadata(path).get("snapshots") or [])


def _select_snapshot(meta: dict, path: str, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots") or []
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            return {}  # empty table: no snapshot yet
    matches = [s for s in snaps if s["snapshot-id"] == snapshot_id]
    if not matches:
        raise ValueError(
            f"snapshot {snapshot_id} not in {path!r}"
            f" (have {[s['snapshot-id'] for s in snaps]})"
        )
    return matches[0]


def _identity_partition_fields(meta: dict) -> dict[int, list[tuple[str, int]]]:
    """spec-id -> [(partition FIELD name, source field id), ...] for the
    identity-transform fields.  The manifest partition tuple is keyed by
    the spec field's NAME, but the value belongs to the SOURCE column —
    resolved via source-id (ADVICE r16: keying zone maps by the spec
    field name mis-attached the [v, v] range whenever the spec name
    diverged from the source column's name)."""
    specs = meta.get("partition-specs")
    if specs is None:  # format-version 1 single spec
        specs = [
            {
                "spec-id": meta.get("default-spec-id", 0),
                "fields": meta.get("partition-spec", []),
            }
        ]
    return {
        s.get("spec-id", 0): [
            (f["name"], f["source-id"])
            for f in s["fields"]
            if f["transform"] == "identity"
        ]
        for s in specs
    }


_KIND_OF_CONTENT = {0: "data", 1: "posdel", 2: "eqdel"}


def _walk_entries(path: str, snapshot: dict):
    """Yield (kind, data_file dict, spec_id, data_sequence_number) for
    every LIVE entry reachable from the snapshot — kind is ``'data'``,
    ``'posdel'`` (v2 position-delete file), or ``'eqdel'`` (v2
    equality-delete file).  Sequence numbers follow the spec's
    inheritance rule: an entry with a null ``sequence_number`` and
    status ADDED(1) inherits the manifest-list entry's
    ``sequence_number``; an EXISTING entry must carry its own (the
    writer is required to materialize it when rewriting manifests) —
    a null there is refused rather than guessed, because equality
    deletes scope by this number.  Format-v1 layouts have no sequence
    numbers (and no delete files); their entries yield 0."""
    if not snapshot:
        return
    mlist_path = _resolve(path, snapshot["manifest-list"])
    with open(mlist_path, "rb") as fh:
        _, manifests = parse_avro(fh.read())
    for m in manifests:
        is_delete_manifest = m.get("content", 0) == 1
        man_seq = m.get("sequence_number")
        man_path = _resolve(path, m["manifest_path"])
        with open(man_path, "rb") as fh:
            _, entries = parse_avro(fh.read())
        for e in entries:
            if e.get("status") == 2:  # DELETED entry: file left the table
                continue
            df = e["data_file"]
            content = df.get("content", 0)
            if content not in _KIND_OF_CONTENT:
                raise NotImplementedError(
                    f"file {df['file_path']!r} has unknown content code"
                    f" {content}; refusing rather than guessing."
                )
            if is_delete_manifest != (content in (1, 2)):
                raise NotImplementedError(
                    f"manifest {m['manifest_path']!r} content flag"
                    f" disagrees with entry content code"
                    f" ({is_delete_manifest=}, {content=}); corrupt"
                    " metadata is refused."
                )
            if str(df.get("file_format", "")).upper() != "PARQUET":
                raise NotImplementedError(
                    f"data file {df['file_path']!r} has format"
                    f" {df.get('file_format')!r}; only PARQUET data"
                    " files are readable here."
                )
            seq = e.get("sequence_number")
            if seq is None:
                if e.get("status", 1) == 1 and man_seq is not None:
                    seq = man_seq  # spec inheritance for ADDED entries
                elif man_seq is None:
                    seq = 0  # format-v1 layout: no sequence numbers
                else:
                    raise NotImplementedError(
                        f"EXISTING manifest entry for"
                        f" {df['file_path']!r} carries no sequence"
                        " number; the spec requires writers to"
                        " materialize it, and equality deletes scope"
                        " by it — refusing rather than guessing."
                    )
            yield (
                _KIND_OF_CONTENT[content],
                df,
                m.get("partition_spec_id", 0),
                seq,
            )


def _manifest_entries(path: str, snapshot: dict):
    """Yield (data_file dict, spec_id) for every LIVE DATA entry."""
    for kind, df, spec_id, _seq in _walk_entries(path, snapshot):
        if kind == "data":
            yield df, spec_id


def _position_delete_files(path: str, snapshot: dict) -> list[str]:
    """Absolute paths of the snapshot's v2 position-delete files
    (ordinary parquet of ``(file_path, pos)`` per the spec; the
    optional ``row`` payload is ignored — only the key matters)."""
    return sorted(
        _resolve(path, df["file_path"])
        for kind, df, _sid, _seq in _walk_entries(path, snapshot)
        if kind == "posdel"
    )


def _equality_delete_files(
    path: str, snapshot: dict
) -> list[tuple[str, int, list[int]]]:
    """The snapshot's v2 equality-delete files as
    ``(absolute path, data sequence number, equality field ids)`` —
    parquet files holding the delete predicate VALUES under the
    equality-id columns, applying to data files with STRICTLY smaller
    data sequence numbers (spec scoping: a file compacted or appended
    after the delete must keep its rows)."""
    out = []
    for kind, df, _sid, seq in _walk_entries(path, snapshot):
        if kind != "eqdel":
            continue
        ids = list(df.get("equality_ids") or [])
        if not ids:
            raise NotImplementedError(
                f"equality-delete file {df['file_path']!r} carries no"
                " equality_ids; refusing rather than guessing the"
                " delete predicate columns."
            )
        out.append((_resolve(path, df["file_path"]), int(seq), ids))
    return sorted(out)


def _data_file_sequence_numbers(path: str, snapshot: dict) -> dict[str, int]:
    """Absolute data-file path -> data sequence number (for equality-
    delete scoping)."""
    return {
        _resolve(path, df["file_path"]): int(seq)
        for kind, df, _sid, seq in _walk_entries(path, snapshot)
        if kind == "data"
    }


def _decode_bound(raw, ice_type):
    """Iceberg single-value BINARY serialization -> Python value, for
    the bound types a zone map can compare (spec Appendix D):
    little-endian fixed-width ints/floats, UTF-8 strings, ISO-rendered
    date (days since epoch, decoded to the ISO string so it compares
    like a filter literal).  Types outside this set return None — the
    bound is simply not used for pruning (never wrong, just less
    skipping)."""
    import struct as _struct

    if raw is None or not isinstance(ice_type, str):
        return None
    b = bytes(raw)
    try:
        if ice_type == "int" and len(b) == 4:
            return _struct.unpack("<i", b)[0]
        if ice_type == "long" and len(b) == 8:
            return _struct.unpack("<q", b)[0]
        if ice_type == "float" and len(b) == 4:
            return _struct.unpack("<f", b)[0]
        if ice_type == "double" and len(b) == 8:
            return _struct.unpack("<d", b)[0]
        if ice_type == "string":
            return b.decode("utf-8")
        if ice_type == "date" and len(b) == 4:
            import datetime as _dt

            days = _struct.unpack("<i", b)[0]
            return (
                _dt.date(1970, 1, 1) + _dt.timedelta(days=days)
            ).isoformat()
        if ice_type == "boolean" and len(b) == 1:
            return bool(b[0])
    except (ValueError, OverflowError):
        return None
    return None


def _bounds_map(raw) -> dict:
    """An entry's map<int, ...> field (bounds, null counts).  Avro has
    no int-keyed maps, so Iceberg writes these as an ARRAY of
    {key, value} records (the k*_v* logical-map encoding); a plain
    string-keyed Avro map and pre-decoded dicts are accepted too."""
    if not raw:
        return {}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    out = {}
    for item in raw:
        if isinstance(item, dict):
            out[int(item["key"])] = item["value"]
        else:  # (key, value) tuple
            out[int(item[0])] = item[1]
    return out


def iceberg_scan_files(
    path: str, snapshot_id: int | None = None, filters=None
) -> list[str]:
    """The absolute data-file list a filtered read would open — the
    ``manifest_scan_files`` analogue for an Iceberg layout.  Exact
    identity-partition values (typed natively by the Avro decode) feed
    the manifest pruner as [v, v] ranges; non-identity transforms
    (bucket/truncate/days/...) contribute no pruning but lose no
    correctness, because Iceberg data files are complete.  Manifest
    column stats prune too (r16): ``lower_bounds``/``upper_bounds``
    (field-id -> single-value binary, decoded per the spec's
    serialization) become zone maps, and ``null_value_counts`` +
    ``value_counts`` back is_null/not_null proofs — the same skipping
    surface the Delta reader gets from ``add.stats``."""
    meta = _load_metadata(path)
    snapshot = _select_snapshot(meta, path, snapshot_id)
    id_fields = _identity_partition_fields(meta)
    schema = _current_schema(meta, path)
    by_id = {f["id"]: f for f in schema["fields"]}
    files, stats, nulls, rows = [], {}, {}, {}
    all_null: dict[str, set] = {}
    for df, spec_id in _manifest_entries(path, snapshot):
        fpath = _resolve(path, df["file_path"])
        files.append(fpath)
        if df.get("record_count") is not None:
            rows[fpath] = df["record_count"]
        franges: dict[str, list] = {}
        # column stats: decoded bounds become [min, max] zone maps
        lowers = _bounds_map(df.get("lower_bounds"))
        uppers = _bounds_map(df.get("upper_bounds"))
        for fid in set(lowers) & set(uppers):
            field = by_id.get(fid)
            if field is None:
                continue
            lo = _decode_bound(lowers[fid], field["type"])
            hi = _decode_bound(uppers[fid], field["type"])
            if lo is not None and hi is not None:
                franges[field["name"]] = [lo, hi]
        for fid, n in _bounds_map(df.get("null_value_counts")).items():
            field = by_id.get(fid)
            if field is not None and isinstance(n, int):
                nulls.setdefault(fpath, {})[field["name"]] = n
        part = df.get("partition") or {}
        for pname, source_id in id_fields.get(spec_id, []):
            src = by_id.get(source_id)
            if src is None or pname not in part:
                # source column dropped from the current schema (or an
                # entry missing the tuple field): contribute no pruning
                continue
            col = src["name"]
            if part[pname] is not None:
                franges[col] = [part[pname], part[pname]]
                nulls.setdefault(fpath, {})[col] = 0
            else:
                # NULL partition: every row is null in col — a per-column
                # proof consumed by the pruner directly (ADVICE r16: the
                # old 1/1 row-count sentinel poisoned OTHER columns'
                # not_null checks when the entry carried null counts but
                # no record_count)
                all_null.setdefault(fpath, set()).add(col)
                if fpath in rows:
                    nulls.setdefault(fpath, {})[col] = rows[fpath]
        stats[fpath] = franges
    return _prune_files(
        sorted(files), stats, {}, nulls, rows, filters or [], all_null=all_null
    )


def _apply_position_deletes(
    spark: SparkSession, df: DataFrame, delete_files: list[str]
) -> DataFrame:
    """Filter out rows masked by v2 position-delete files: a BROADCAST
    LEFT ANTI join on (normalized data-file path, row position).

    Scale shape: the delete files are log-scoped (a merge-on-read
    writer keeps them small and compacts them away), so the delete
    side broadcasts; the data side stays ONE parquet scan with two
    metadata columns (``_metadata.file_path``/``row_index``) — stock
    Spark, no extra shuffle.  Keys: the scan's ``_metadata.file_path``
    is the percent-encoded Hadoop URI, so it is scheme-stripped and
    URI-decoded; the delete rows' ``file_path`` is the writer's plain
    location string, so it is scheme-stripped only.  Joining on the
    FULL path (not the basename) means a delete row aimed at a
    removed/rewritten file simply never matches — position deletes
    apply by exact file identity, and Iceberg never reuses a data-file
    path, so sequence-number bookkeeping is not needed for position
    (it is for equality deletes, which this reader refuses)."""
    data_path = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:(//)?", ""
            ),
            r"\+",
            "%2B",
        )
    )
    dels = spark.read.parquet(*delete_files).select(
        F.regexp_replace(F.col("file_path"), "^file:(//)?", "").alias(
            "__del_path"
        ),
        F.col("pos").alias("__del_pos"),
    )
    cols = df.columns
    return (
        df.withColumn("__row_path", data_path)
        .withColumn("__row_pos", F.col("_metadata.row_index"))
        .join(
            F.broadcast(dels),
            (F.col("__row_path") == F.col("__del_path"))
            & (F.col("__row_pos") == F.col("__del_pos")),
            "left_anti",
        )
        .select(*cols)
    )


def _apply_equality_deletes(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    snapshot: dict,
    schema_dict: dict,
    eq_dels: list[tuple[str, int, list[int]]],
    files: list[str],
) -> DataFrame:
    """Filter out rows masked by v2 equality-delete files: per
    equality-id column set, a BROADCAST LEFT ANTI join on NULL-SAFE
    equality of those columns, scoped by sequence number — a delete
    with data sequence number S applies only to data files with
    STRICTLY smaller data sequence numbers (spec rule; get this wrong
    and a compaction or upsert re-insert after the delete loses rows).

    Scale shape: delete files are log-scoped (Flink/CDC writers keep
    them small and compaction folds them away), so every delete side
    broadcasts; the data side stays ONE scan that picks up its per-row
    data sequence number from a broadcast (basename -> seq) map join —
    log-sized, never data-sized — and pays one anti join per DISTINCT
    equality-id set (almost always exactly one: the writer's key
    columns).  Equality ids naming fields absent from the current
    schema are refused rather than silently matched on nothing.

    The per-row key is the scan's ``_metadata.file_path`` (normalized
    the same way the position-delete mask normalizes it), NOT
    ``input_file_name()`` — the delete sides make the plan
    multi-source, and Spark's PreReadCheck rejects input_file_name
    over more than one file source."""
    name_of = {f["id"]: f["name"] for f in schema_dict["fields"]}
    seq_of = _data_file_sequence_numbers(path, snapshot)
    seq_rows = [(os.path.abspath(f), seq_of[f]) for f in files]
    seq_df = spark.createDataFrame(
        seq_rows, "__seq_path string, __data_seq long"
    )
    cols = df.columns
    data_path = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:(//)?", ""
            ),
            r"\+",
            "%2B",
        )
    )
    df = df.withColumn("__seq_path", data_path).join(
        F.broadcast(seq_df), "__seq_path"
    )

    by_ids: dict[tuple[int, ...], list[tuple[str, int]]] = {}
    for fp, seq, ids in eq_dels:
        by_ids.setdefault(tuple(sorted(ids)), []).append((fp, seq))
    for ids, dfiles in sorted(by_ids.items()):
        names = []
        for fid in ids:
            if fid not in name_of:
                raise NotImplementedError(
                    f"equality-delete files in {path!r} key on field id"
                    f" {fid}, which is not in the current schema; the"
                    " delete predicate cannot be resolved."
                )
            names.append(name_of[fid])
        sides = [
            spark.read.parquet(fp).select(
                *[F.col(n).alias(f"__del_{n}") for n in names],
                F.lit(seq).cast("long").alias("__del_seq"),
            )
            for fp, seq in sorted(dfiles)
        ]
        dels_df = sides[0]
        for side in sides[1:]:
            dels_df = dels_df.unionByName(side)
        cond = F.col("__data_seq") < F.col("__del_seq")
        for n in names:
            # spec: equality deletes match NULL to NULL
            cond = cond & F.col(n).eqNullSafe(F.col(f"__del_{n}"))
        df = df.join(F.broadcast(dels_df), cond, "left_anti")
    return df.select(*cols)


def _probe_identity_columns(
    path: str,
    files: list[str],
    info: dict[str, tuple[int, dict]],
    needed: dict[int, list[tuple[str, str]]],
) -> int | None:
    """Footer-probe the first and last surviving data file per spec for
    the spec's identity-partition SOURCE columns.  Returns the spec id
    whose files uniformly lack ALL of them (the add_files/Hive-migration
    layout — caller restores values from the manifest tuples), ``None``
    when every probe shows complete files (the spec-compliant layout).
    Mixed evidence raises: silently-null partition columns are the
    wrong-rows failure this reader refuses."""
    import pyarrow.parquet as pq

    specs_present = sorted({info[f][0] for f in files if f in info})
    missing_specs = []
    for sid in specs_present:
        cols = {c for _, c in needed.get(sid, [])}
        if not cols:
            continue
        spec_files = sorted(f for f in files if info.get(f, (None,))[0] == sid)
        states = set()
        for probe in {spec_files[0], spec_files[-1]}:
            phys = set(pq.read_schema(probe).names)
            states.add(frozenset(cols - phys))
        if len(states) > 1:
            raise NotImplementedError(
                f"Iceberg table at {path!r}: data files of spec {sid}"
                f" disagree on holding identity-partition columns"
                f" {sorted(cols)} (probes found {sorted(map(sorted, states))});"
                " a mixed layout cannot be read without returning"
                " silently-null partition values."
            )
        missing = next(iter(states))
        if not missing:
            continue
        if missing != cols:
            raise NotImplementedError(
                f"Iceberg table at {path!r}: spec {sid} data files hold"
                f" some identity-partition columns but lack"
                f" {sorted(missing)}; partial layouts are refused (the"
                " missing columns would read as silent NULLs)."
            )
        missing_specs.append(sid)
    if not missing_specs:
        return None
    if len(missing_specs) > 1 or len(specs_present) > 1:
        raise NotImplementedError(
            f"Iceberg table at {path!r}: identity-partition columns are"
            f" absent from the data files of spec(s) {missing_specs} but"
            f" the snapshot spans specs {specs_present}; multi-spec"
            " restoration is not implemented — rewrite the table or read"
            " per-spec."
        )
    return missing_specs[0]


def _read_with_restored_partitions(
    spark: SparkSession,
    files: list[str],
    info: dict[str, tuple[int, dict]],
    pairs: list[tuple[str, str]],
    schema,
    delete_files: list[str] | None = None,
) -> DataFrame:
    """Read migrated data files (identity source columns NOT in-file)
    and restore the partition values from the manifest tuples — the
    Delta reader's reconstruction shape: ONE parquet scan plus a
    BROADCAST (decoded basename -> values) map join, log-sized never
    data-sized.  Basename uniqueness is asserted driver-side."""
    from pyspark.sql.types import StructType

    from .delta_log import decoded_file_basename

    restored_cols = [c for _, c in pairs]
    data_schema = StructType(
        [f for f in schema.fields if f.name not in restored_cols]
    )
    base_of = {os.path.basename(f): f for f in files}
    if len(base_of) != len(files):
        raise ValueError(
            "duplicate data-file basenames; cannot key the"
            " partition-value restore join."
        )
    from pyspark.sql.types import StringType, StructField

    types = {f.name: f.dataType for f in schema.fields}
    pv_struct = StructType(
        [StructField("__ice_file", StringType(), False)]
        + [StructField(f"__pv_{c}", types[c], True) for c in restored_cols]
    )
    pv_rows = [
        tuple(
            [os.path.basename(f)]
            + [info[f][1].get(pname) for pname, _c in pairs]
        )
        for f in files
    ]
    pv_df = spark.createDataFrame(pv_rows, pv_struct)
    df = spark.read.schema(data_schema).parquet(*files)
    df = df.withColumn("__ice_file", decoded_file_basename())
    if delete_files:
        # position deletes apply to the raw scan (the _metadata columns
        # the anti-join keys on live only there), before restoration
        df = _apply_position_deletes(spark, df, delete_files)
    return (
        df.join(F.broadcast(pv_df), "__ice_file")
        .select(
            *[
                F.col(f"__pv_{f.name}").alias(f.name)
                if f.name in restored_cols
                else F.col(f.name)
                for f in schema.fields
            ]
        )
    )


def read_iceberg_table(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    filters=None,
) -> DataFrame:
    """Batch-read the Iceberg-layout table's snapshot (default: the
    metadata's current snapshot; pass ``snapshot_id`` for time travel),
    with optional partition file skipping via ``filters`` (the manifest
    table's ``[(col, op, value), ...]`` grammar; surviving filters are
    also applied as DataFrame predicates, so results are exact).

    Scale shape: ONE parquet scan over the surviving files with the
    table schema — Iceberg data files are complete, so there is no
    partition-reconstruction join at all; Catalyst predicate pushdown
    and column pruning apply to the scan as usual.  The manifest walk
    is metadata-sized (driver-side Avro decode of the snapshot's
    manifest list + manifests), never data-sized.

    Migrated-table boundary (ADVICE r16): tables imported via
    ``add_files``/Hive migration legitimately hold data files WITHOUT
    the identity-partition source columns (the values lived in the
    directory layout).  ``spark.read.schema()`` would silently fill
    those columns with NULL — and a re-applied partition filter would
    then drop every row — so when the snapshot has identity partitions
    the first and last data file per spec are footer-probed (two
    metadata-sized reads per spec, not per file): complete files take
    the one-scan path above; a spec whose probes uniformly LACK all its
    identity source columns is read without them and the values are
    restored from the manifest partition tuples via a broadcast
    (decoded-basename -> value) map join, the Delta reader's
    reconstruction shape; anything mixed (per-spec probes disagree,
    some-but-not-all columns present, or several specs with identity
    partitions when one needs restoring) raises loudly rather than
    returning silently-null partition columns.  Files between the two
    probes are assumed layout-uniform with them — the stated sampling
    boundary.
    """
    meta = _load_metadata(path)
    schema_dict = _current_schema(meta, path)
    schema = _struct_type(schema_dict)
    files = iceberg_scan_files(path, snapshot_id, filters)
    pred = _filters_to_predicate(filters)
    if not files:
        df = spark.createDataFrame([], schema)
        return df if pred is None else df.where(pred)

    snapshot = _select_snapshot(meta, path, snapshot_id)
    dels = _position_delete_files(path, snapshot)
    eq_dels = _equality_delete_files(path, snapshot)
    id_fields = _identity_partition_fields(meta)
    by_id = {f["id"]: f for f in schema_dict["fields"]}
    # spec -> identity (partition field name, resolved source column)
    needed = {
        sid: [
            (pname, by_id[source_id]["name"])
            for pname, source_id in pairs
            if source_id in by_id
        ]
        for sid, pairs in id_fields.items()
    }
    if any(needed.get(sid) for sid in needed):
        info = {
            _resolve(path, d["file_path"]): (sid, d.get("partition") or {})
            for d, sid in _manifest_entries(path, snapshot)
        }
        restore = _probe_identity_columns(path, files, info, needed)
        if restore is not None:
            if eq_dels:
                raise NotImplementedError(
                    f"Iceberg table at {path!r} combines a migrated"
                    " (add_files/Hive) layout needing partition"
                    " restoration WITH equality deletes; that"
                    " composition is not implemented — rewrite the"
                    " table or compact the deletes away."
                )
            df = _read_with_restored_partitions(
                spark, files, info, needed[restore], schema, dels
            )
            return df if pred is None else df.where(pred)
    df = spark.read.schema(schema).parquet(*files)
    if dels:
        df = _apply_position_deletes(spark, df, dels)
    if eq_dels:
        df = _apply_equality_deletes(
            spark, df, path, snapshot, schema_dict, eq_dels, files
        )
    return df if pred is None else df.where(pred)


def _linear_snapshots(meta: dict, path: str) -> list[dict]:
    """The metadata's snapshot list, refused unless it is the linear
    history: every snapshot's parent (when recorded) is its list
    predecessor."""
    snaps = list(meta.get("snapshots") or [])
    ids = [s["snapshot-id"] for s in snaps]
    for i, s in enumerate(snaps):
        parent = s.get("parent-snapshot-id")
        if parent is not None and (i == 0 or parent != ids[i - 1]):
            raise NotImplementedError(
                f"snapshot {s['snapshot-id']} of {path!r} has parent"
                f" {parent}, not its predecessor in the snapshot list —"
                " branched histories are not readable as a linear log."
            )
    return snaps


class _SnapshotRange:
    """The snapshots after ``start`` up to ``end`` (ids; ``None`` = before
    the first) of one table's linear history: the step walk of the
    append tail (``iceberg_stream``) and of both change feeds."""

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
                # value-keyed coverage is not position-diffable: which
                # rows an equality delete masks per step needs value-level
                # resolution, and treating it as a position delete would
                # mis-read its (value, not position) rows
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

    def _touched_by(self, delete_files: set[str]) -> set[str]:
        """The data files ``delete_files`` name — read from their
        ``file_path`` column driver-side (delete files are log-scoped
        by the merge-on-read contract)."""
        import pyarrow.parquet as pq

        touched: set[str] = set()
        for df in delete_files:
            col = pq.read_table(df, columns=["file_path"]).column("file_path")
            touched |= {_resolve(self.path, str(v)) for v in col.unique()}
        return touched

    def change_steps(self, role: str):
        """(snapshot id, removed files, added files, old delete files,
        new delete files) per snapshot in range: the live DATA-file diff,
        plus every file whose POSITION-DELETE coverage changed on both
        sides — read under the old deletes and under the new — so a
        merge-on-read DELETE nets to exactly its newly masked rows."""
        for snap_id, prev, cur in self.steps(refuse_eq_deletes=True):
            (prev_data, prev_dels), (cur_data, cur_dels) = prev, cur
            both = self._touched_by(prev_dels ^ cur_dels) & prev_data & cur_data
            removed = sorted((prev_data - cur_data) | both)
            added = sorted((cur_data - prev_data) | both)
            for f in removed + added:
                self.probe(f, role)
            yield snap_id, removed, added, prev_dels, cur_dels

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
        """Migrated-layout guard: the step readers null-pad columns
        missing from a file, which is WRONG for identity-partition
        source columns (their values live in the manifest tuples) — one
        metadata-sized footer read per touched file, driver-side."""
        if not self._id_cols:
            return
        import pyarrow.parquet as pq

        missing = self._id_cols - set(pq.read_schema(fpath).names)
        if missing:
            raise NotImplementedError(
                f"data file {fpath!r} lacks identity-partition"
                f" column(s) {sorted(missing)} (migrated layout);"
                f" the {role} cannot restore manifest partition values —"
                " read snapshots with read_iceberg_table, which does."
            )


def iceberg_read_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level change data feed between Iceberg snapshots: every
    insert and delete the table saw after ``from_snapshot_id`` up to
    ``to_snapshot_id`` (default: current), as the table's columns plus
    ``_change_type`` ('insert' | 'delete') and ``_snapshot_id``, built
    from the manifest walk alone.

    Each snapshot step is ``_SnapshotRange.change_steps`` — the walk the
    ``iceberg_cdf_tail`` stream uses — folded by the shared change-feed
    algebra (``log_tail.batch_changes``); each side is one parquet scan
    under the current schema, masked by its side's position deletes.

    Boundaries, loud: branched histories, equality deletes in the range,
    and migrated layouts (identity source columns absent from a touched
    file) are refused.
    """
    from pyspark.sql.types import LongType, StructField

    from .log_tail import batch_changes

    meta = _load_metadata(path)
    ids = [s["snapshot-id"] for s in _linear_snapshots(meta, path)]
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
    if from_snapshot_id not in ids or to_snapshot_id not in ids:
        raise ValueError(f"snapshot ids must be among {ids}")
    if ids.index(to_snapshot_id) <= ids.index(from_snapshot_id):
        raise ValueError(
            f"to_snapshot_id {to_snapshot_id} must come after"
            f" from_snapshot_id {from_snapshot_id}"
        )
    schema = _struct_type(_current_schema(meta, path))

    def side(files: list[str], delete_files: set[str]) -> DataFrame | None:
        if not files:
            return None
        df = spark.read.schema(schema).parquet(*files)
        if delete_files:
            df = _apply_position_deletes(spark, df, sorted(delete_files))
        return df

    log = _SnapshotRange(path, from_snapshot_id, to_snapshot_id)
    steps = (
        (snap_id, schema, side(removed, old_dels), side(added, new_dels))
        for snap_id, removed, added, old_dels, new_dels in log.change_steps(
            "batch change feed"
        )
    )
    return batch_changes(
        spark, steps, StructField("_snapshot_id", LongType(), False)
    )


def iceberg_snapshot_as_of(path: str, timestamp: float) -> int:
    """TIMESTAMP AS OF resolution over the snapshot log: the newest
    snapshot whose ``timestamp-ms`` is at or before ``timestamp``
    (epoch seconds).  Raises if the table's first snapshot is later."""
    best = None
    for s in iceberg_snapshots(path):
        if s["timestamp-ms"] / 1000.0 <= timestamp:
            best = s["snapshot-id"]
    if best is None:
        raise ValueError(
            f"no snapshot of {path!r} existed at epoch {timestamp}"
        )
    return best


def register_iceberg_view(
    spark: SparkSession,
    name: str,
    path: str,
    snapshot_id: int | None = None,
    as_of: float | None = None,
    filters=None,
) -> DataFrame:
    """Register the Iceberg-layout table's snapshot as a temp view —
    the same catalog sugar as ``register_manifest_view`` /
    ``register_delta_view``; ``snapshot_id``/``as_of`` give SQL users
    time travel.  Returns the DataFrame."""
    if as_of is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR as_of, not both")
        snapshot_id = iceberg_snapshot_as_of(path, as_of)
    df = read_iceberg_table(
        spark, path, snapshot_id=snapshot_id, filters=filters
    )
    df.createOrReplaceTempView(name)
    return df


def iceberg_files_table(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """The snapshot's file-level metadata as a queryable DataFrame —
    Iceberg's own ``table.files`` metadata-table shape, reconstructed
    from the manifest walk: one row per live data file with its
    manifest-recorded row count, byte size, and partition values.
    Pure metadata: Avro manifests only, no data file opened."""
    meta = _load_metadata(path)
    snapshot = _select_snapshot(meta, path, snapshot_id)
    rows = []
    for df, spec_id in _manifest_entries(path, snapshot):
        rows.append(
            (
                _resolve(path, df["file_path"]),
                df.get("record_count"),
                df.get("file_size_in_bytes"),
                int(spec_id),
                {
                    k: (None if v is None else str(v))
                    for k, v in (df.get("partition") or {}).items()
                },
            )
        )
    rows.sort()
    return spark.createDataFrame(
        rows,
        "file string, n_rows long, size_bytes long, spec_id int,"
        " partition_values map<string,string>",
    )


def iceberg_table_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY over the snapshot log: one row per snapshot
    with its timestamp and summary operation."""
    rows = [
        (
            s["snapshot-id"],
            s.get("timestamp-ms"),
            (s.get("summary") or {}).get("operation"),
        )
        for s in iceberg_snapshots(path)
    ]
    return spark.createDataFrame(
        rows, "snapshot_id long, timestamp_ms long, operation string"
    )
