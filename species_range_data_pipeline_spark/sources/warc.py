"""WARC (ISO 28500 Web ARChive) reader: crawl archives -> document rows.

The reference ingests the web driver-side (HTTP GET + BeautifulSoup,
``species_range_etl.py:36-37,142-154``); the at-scale form of "the web as
input" is WARC — the format Common Crawl and every archival crawler
publish, and the raw-input format of essentially every public LLM
pretraining corpus (C4, RefinedWeb, FineWeb all start from Common Crawl
WARC/WET).  A crawl dump is many ~1 GB ``.warc.gz`` files; this module
makes them a first-class engine source with zero dependencies: the WARC
envelope is a line-oriented public spec and the ``.gz`` framing is
per-record concatenated gzip members, both stdlib-decodable.

Format notes implemented here:

- A WARC file is a sequence of records: ``WARC/1.x\\r\\n`` + MIME-style
  headers + ``\\r\\n`` + ``Content-Length`` bytes of block +
  ``\\r\\n\\r\\n``.
- ``.warc.gz`` compresses EACH record as its own gzip member so readers
  can split on member boundaries; ``zlib`` with ``wbits=31`` decodes one
  member and reports where it ended — the loop walks members without
  ever holding more than one decompressed record.
- For ``response`` records the block is an HTTP/1.1 message; the HTTP
  status and headers are split off so the payload column is the actual
  body bytes (what text extraction wants), with the declared
  Content-Type surfaced as ``mime``.

Scale: one task per WARC file via ``binaryFile`` + ``mapInPandas`` (a
crawl ships thousands of ~1 GB members — natural task units; the 2 GB
``binaryFile`` cap matches the format's own conventions).  Parse
failures land in the error side-channel like every other binary lane.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("record", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)


#: one decompressed WARC record larger than this is a decompression bomb,
#: not a crawl artifact (Common Crawl caps payloads far below it)
_MAX_MEMBER_BYTES = 1 << 30


def _gunzip_members(content: bytes) -> Iterator[bytes]:
    """Decode concatenated gzip members one at a time (the .warc.gz record
    framing).  Raises ``ValueError`` on a corrupt member or a member that
    expands past the bomb cap.

    The unconsumed tail rides a ``memoryview`` — a bytes slice here would
    COPY the remaining file once per record, turning a 1 GB Common Crawl
    member file (tens of thousands of records) into terabytes of memcpy.
    """
    view = memoryview(content)
    off = 0
    while off < len(content):
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(view[off:], _MAX_MEMBER_BYTES)
        except zlib.error as exc:
            raise ValueError(f"corrupt gzip member at byte {off}: {exc}") from exc
        if d.unconsumed_tail:
            raise ValueError(
                f"gzip member at byte {off} expands beyond "
                f"{_MAX_MEMBER_BYTES} bytes (decompression bomb)"
            )
        if not d.eof:
            raise ValueError(f"truncated gzip member at byte {off}")
        yield chunk
        consumed = len(content) - off - len(d.unused_data)
        if consumed <= 0:  # defensive: an empty member would loop forever
            raise ValueError(f"zero-length gzip member at byte {off}")
        off += consumed


def _parse_headers(block: bytes) -> tuple[dict[str, str], bytes]:
    """MIME-style header block -> ({lowercased-name: value}, rest-after-
    blank-line).  Tolerates LF-only line endings."""
    sep = block.find(b"\r\n\r\n")
    seplen = 4
    if sep < 0:
        sep = block.find(b"\n\n")
        seplen = 2
        if sep < 0:
            raise ValueError("header block has no blank-line terminator")
    headers: dict[str, str] = {}
    for line in block[:sep].splitlines():
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1"
            )
    return headers, block[sep + seplen :]


def _parse_record(raw: bytes) -> dict | None:
    """One uncompressed WARC record -> row dict (``None`` for an empty
    trailing chunk)."""
    raw = raw.lstrip(b"\r\n")
    if not raw:
        return None
    if not raw.startswith(b"WARC/"):
        raise ValueError(f"record does not start with WARC/: {raw[:20]!r}")
    headers, rest = _parse_headers(raw)
    length = int(headers.get("content-length", len(rest)))
    block = rest[:length]
    row = {
        "warc_type": headers.get("warc-type"),
        "url": headers.get("warc-target-uri"),
        "warc_date": headers.get("warc-date"),
        "mime": headers.get("content-type"),
        "http_status": None,
        "payload": block,
    }
    # response records wrap an HTTP message: split status + headers off so
    # payload is the body and mime is the SERVED content type
    if row["warc_type"] == "response" and block[:5] in (b"HTTP/",):
        status_end = block.find(b"\n")
        status_line = block[:status_end].decode("latin-1", "replace")
        parts = status_line.split()
        if len(parts) >= 2 and parts[1].isdigit():
            row["http_status"] = int(parts[1])
        http_headers, body = _parse_headers(block)
        row["mime"] = http_headers.get("content-type", row["mime"])
        # crawlers archive the wire bytes: a Content-Encoding'd body is
        # still compressed inside the record.  Decode gzip/deflate here
        # (bomb-capped) so downstream text extraction sees bytes, not
        # DEFLATE streams; unknown codings (br, zstd) pass through with
        # the header intact so the consumer can route them.
        enc = http_headers.get("content-encoding", "").lower().strip()
        if enc in ("gzip", "x-gzip", "deflate"):
            body = _decode_body(body, enc)
        row["payload"] = body
    return row


def _decode_body(body: bytes, enc: str) -> bytes:
    """Decompress an HTTP body per its Content-Encoding, tolerating the
    wild web: raw-deflate vs zlib-wrapped 'deflate' both occur.  An
    undecodable or bomb-sized body degrades to its RAW bytes — one rotten
    response must not fail a million-record archive; downstream mime/
    quality filters are the right place to drop mojibake."""
    if enc != "deflate":
        # gzip: multi-member bodies are valid per the gzip spec and occur
        # on the wild web — decode EVERY member (the same loop as the
        # .warc.gz record framing), never just the first
        try:
            return b"".join(_gunzip_members(body))
        except ValueError:
            return body
    for wbits in (15, -15):  # zlib-wrapped vs raw deflate both occur
        d = zlib.decompressobj(wbits=wbits)
        try:
            out = d.decompress(body, _MAX_MEMBER_BYTES)
        except zlib.error:
            continue
        if d.unconsumed_tail:
            break  # decompression bomb: keep the compressed form
        if d.eof or not d.unused_data:
            return out
    return body


def parse_warc(content: bytes) -> list[dict]:
    """.warc or .warc.gz bytes -> [record row dict].  Malformed input
    raises ``ValueError``."""
    if content[:2] == b"\x1f\x8b":
        chunks: Iterator[bytes] = _gunzip_members(content)
    else:
        # uncompressed: split on the record boundary marker.  A payload
        # could contain the 6-byte marker followed by "WARC/"; crawlers
        # avoid this via Content-Length, and so do we: re-join greedily by
        # trusting each record's declared length.
        chunks = iter(_split_uncompressed(content))
    out: list[dict] = []
    for chunk in chunks:
        row = _parse_record(chunk)
        if row is not None:
            out.append(row)
    return out


def _split_uncompressed(content: bytes) -> list[bytes]:
    """Walk records by their declared Content-Length (never by scanning
    payload bytes for the boundary marker).  Header terminators are
    located with ``find`` against the ORIGINAL buffer — slicing the tail
    per record would be quadratic over a multi-GB archive — so the only
    copies made are each record's own bytes."""
    records: list[bytes] = []
    off = 0
    while off < len(content):
        nxt = content.find(b"WARC/", off)
        if nxt < 0:
            break
        crlf = content.find(b"\r\n\r\n", nxt)
        lf = content.find(b"\n\n", nxt)
        if crlf < 0 and lf < 0:
            raise ValueError(f"record at byte {nxt} has no header terminator")
        if crlf >= 0 and (lf < 0 or crlf <= lf):
            sep, seplen = crlf, 4
        else:
            sep, seplen = lf, 2
        headers, _ = _parse_headers(content[nxt : sep + seplen])
        length = int(headers.get("content-length", 0))
        end = sep + seplen + length
        if length < 0 or end <= nxt:  # a negative length would loop forever
            raise ValueError(f"record at byte {nxt} declares length {length}")
        if end > len(content):
            # the gzip path raises on truncation; a silent short slice
            # here would let a partial download pass as clean data
            raise ValueError(
                f"record at byte {nxt} declares {length} payload bytes "
                "beyond end of file (truncated archive)"
            )
        records.append(content[nxt:end])
        off = end
    return records


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``*.warc`` / ``*.warc.gz`` under ``path``: one row per WARC
    record — (path, record, warc_type, url, warc_date, mime, http_status,
    payload, error).  Parse failures become error rows, never exceptions
    (the binary-lane side-channel contract)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path_, blob in zip(pdf["path"], pdf["content"]):
                try:
                    for i, row in enumerate(parse_warc(bytes(blob)), start=1):
                        out.append(
                            {"path": path_, "record": i, **row, "error": None}
                        )
                except Exception as exc:
                    out.append(
                        {
                            "path": path_, "record": None, "warc_type": None,
                            "url": None, "warc_date": None, "mime": None,
                            "http_status": None, "payload": None,
                            "error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in WARC_SCHEMA.fields])

    return files.mapInPandas(fn, WARC_SCHEMA)


def warc_responses_to_documents(warc: DataFrame) -> DataFrame:
    """Successful HTML responses -> a documents-shaped table
    (doc_id, url, text): the first stage of a pretraining-corpus build.
    doc_id is the 64-bit xxhash of the URL (stable across re-crawls of the
    same page set); text is the extracted visible text
    (``functions.html.html_to_text`` as a vectorized UDF).  Downstream
    stages are the existing corpus operators: quality -> langid -> dedup
    -> pack."""
    from pyspark.sql import functions as F

    from ..functions.html import html_to_text_udf
    from ..functions.url import url_host, url_normalize, url_registered_domain

    return (
        warc.where(
            (F.col("error").isNull())
            & (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            # header VALUES are case-insensitive (RFC 9110): real crawls
            # carry Text/HTML and TEXT/HTML variants
            & F.lower(F.col("mime")).startswith("text/html")
        )
        .select(
            F.xxhash64("url").alias("doc_id"),
            "url",
            url_normalize(F.col("url")).alias("url_canonical"),
            url_host(F.col("url")).alias("host"),
            url_registered_domain(F.col("url")).alias("domain"),
            html_to_text_udf(
                F.decode(F.col("payload"), "UTF-8")
            ).alias("text"),
        )
    )


# -- WARC writer (the source's encode twin, r10) ---------------------------

def encode_warc_response(
    url: str,
    body: bytes,
    ctype: str = "text/plain; charset=utf-8",
    date: str = "2024-01-01T00:00:00Z",
) -> bytes:
    """One ISO-28500 ``response`` record wrapping an HTTP/1.1 200 message
    — the encode twin every binary lane carries so the reader can be
    round-trip-verified without external fixtures."""
    http = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    )
    return head.encode() + http + b"\r\n\r\n"


#: Target on-disk bytes per .warc.gz shard when the caller lets the
#: writer size the shard count (Common Crawl ships ~1 GiB shards; a
#: bounded shard is ALSO what keeps the read path legal — read_warc's
#: binaryFile scan materializes one whole shard per row, so shard size,
#: not corpus size, is the per-task memory bound on both halves).
WARC_TARGET_SHARD_BYTES = 1 << 30


def _estimated_input_bytes(df: DataFrame) -> int | None:
    """Sum of the on-disk bytes under ``df``'s file scan (None for
    in-memory frames or non-stat-able storage).  An ESTIMATE for shard
    sizing — parquet-compressed input vs gzip WARC output differ by a
    modest constant, which only shifts shard sizes, never correctness.

    Caveat (measured, 0ba482d:scripts/container_read_sweep.py r16): a frame
    whose row count was BLOWN UP between the scan and the write
    (explode, crossJoin replication) still reports the small source
    file's bytes — the estimate cannot see generated growth.  Callers
    with such frames must stage to parquet first or pass ``n_shards``
    explicitly; the writers' ``_check_shard_bytes`` cap remains the
    hard backstop either way."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import os
    from urllib.parse import unquote, urlparse

    total = 0
    for uri in files:
        p = unquote(urlparse(uri).path) if "://" in uri else uri
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def _auto_shards(
    df: DataFrame, target_bytes: int, floor: int = 4
) -> int:
    """Shard count sized so each shard holds ~``target_bytes`` of
    OUTPUT: the dissolve_auto discipline applied to container writers
    (SCALE.md rule 60).  A FIXED default shard count is a 100x-scale
    bug — at 100 TB, 4 shards means 25 TB per write task and a 25 TB
    binaryFile row on read; sizing from input bytes bounds both BY
    CONSTRUCTION.  Falls back to ``floor`` when the input is not
    stat-able (in-memory fixtures).

    Safety factor (ADVICE r15): the stat-able quantity is
    parquet-COMPRESSED input bytes while the bound that matters is
    container-OUTPUT bytes (gzip WARC / tar), which can exceed the
    parquet size — parquet's columnar encodings routinely beat a
    per-record gzip member on the same text.  Sizing against
    ``target_bytes // 2`` tolerates up to 2x input->output expansion
    before a shard overshoots the target, and the writers additionally
    hard-assert every published shard under binaryFile's 2 GiB row cap
    (``_check_shard_bytes``) so an adversarial corpus fails loudly at
    write time, never unreadably at read time."""
    est = _estimated_input_bytes(df)
    if not est:
        return floor
    return max(floor, -(-est // max(1, target_bytes // 2)))


#: binaryFile materializes one whole file per row in a spark row buffer
#: backed by a java byte[] — files at or above 2^31 bytes are
#: unreadable.  Writers assert published shards under this cap.
_BINARYFILE_MAX_BYTES = (1 << 31) - 1


def _check_shard_bytes(path: str, n_bytes: int) -> None:
    """Loud write-time guard for the read path's 2 GiB binaryFile row
    cap (ADVICE r15): a shard that overflows the cap is unreadable by
    ``read_warc``/``read_webdataset``, so refusing to publish it is the
    error-over-silent-corruption contract every sink here follows."""
    if n_bytes >= _BINARYFILE_MAX_BYTES:
        raise RuntimeError(
            f"container shard {path!r} would be {n_bytes} bytes, at or"
            f" above the binaryFile 2 GiB row cap"
            f" ({_BINARYFILE_MAX_BYTES}); the read path cannot"
            " materialize it. Raise n_shards (or lower"
            " target_shard_bytes) and re-run."
        )


def write_warc_corpus(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    body_col: str = "body",
    n_shards: int | None = None,
    target_shard_bytes: int = WARC_TARGET_SHARD_BYTES,
) -> DataFrame:
    """Write ``df`` (url string, body binary) as ``out_dir/shard-NNNNN
    .warc.gz`` in Common Crawl framing (one gzip member per record) and
    return the shard manifest (path, n_records, n_bytes).

    Same determinism/atomicity discipline as ``write_webdataset``:
    shard routing is ``xxhash64(url) % n_shards`` with records url-sorted
    within a shard, gzip members use ``mtime=0`` so a re-render is
    byte-identical, and shards are staged under a task-unique name and
    published by atomic rename — a task retry or speculative duplicate
    republishes identical bytes, never a partial file.

    Scale posture (r15, SCALE.md rule 60): ``n_shards=None`` sizes the
    shard count from the input's on-disk bytes so each shard holds
    ~``target_shard_bytes`` (fixture inputs hit the floor of 4 —
    byte-identical to the old fixed default), and members are STREAMED
    to the staged file as batches arrive — task memory is one gzip
    member, never a whole shard.
    """
    import gzip
    import os
    import uuid

    from pyspark.sql import functions as F

    if n_shards is None:
        n_shards = _auto_shards(df, target_shard_bytes)
    os.makedirs(out_dir, exist_ok=True)
    shard = F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_shards))
    routed = (
        df.select(F.col(url_col).alias("url"), F.col(body_col).alias("body"))
        .withColumn("__shard", shard)
        .repartition(n_shards, "__shard")
        .sortWithinPartitions("__shard", "url")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        attempt = uuid.uuid4().hex
        # sh -> (final path, staged handle, [n_records, n_bytes]);
        # members stream straight to disk in arrival order (the
        # partition is (__shard, url)-sorted), so bytes are identical
        # to the old accumulate-then-write form at O(member) memory
        staged: dict[int, tuple] = {}
        published = False
        try:
            for pdf in batches:
                for url, body, sh in zip(
                    pdf["url"], pdf["body"], pdf["__shard"]
                ):
                    sh = int(sh)
                    if sh not in staged:
                        final = os.path.join(
                            out_dir, f"shard-{sh:05d}.warc.gz"
                        )
                        staged[sh] = (
                            final,
                            open(f"{final}.__stage_{attempt}", "wb"),
                            [0, 0],
                        )
                    final, fh, stats = staged[sh]
                    member = gzip.compress(
                        encode_warc_response(url, bytes(body)), mtime=0
                    )
                    fh.write(member)
                    stats[0] += 1
                    stats[1] += len(member)
            # validate EVERY shard before publishing ANY: a cap breach
            # must leave zero published files, so the finally below can
            # sweep all the staged partials
            for final, _fh, stats in staged.values():
                _check_shard_bytes(final, stats[1])
            out = []
            for sh, (final, fh, stats) in sorted(staged.items()):
                fh.close()
                os.replace(
                    f"{final}.__stage_{attempt}", final
                )  # atomic publish
                out.append(
                    {"path": final, "n_records": stats[0], "n_bytes": stats[1]}
                )
            published = True
            yield pd.DataFrame(out, columns=["path", "n_records", "n_bytes"])
        finally:
            if not published:
                # mid-partition failure (ADVICE r15): close every staged
                # handle and unlink the .__stage_* leftovers so a retry
                # never accumulates orphaned partials in the published
                # directory (readers skip them, but they are garbage)
                for final, fh, _stats in staged.values():
                    try:
                        fh.close()
                    except OSError:
                        pass
                    try:
                        os.unlink(f"{final}.__stage_{attempt}")
                    except OSError:
                        pass

    return routed.mapInPandas(
        fn, "path string, n_records long, n_bytes long"
    )
