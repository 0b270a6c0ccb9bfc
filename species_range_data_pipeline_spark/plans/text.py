"""Text analysis + deduplication over the documents table (SURVEY.md §2.1
north-star extensions; BASELINE.json: dedup, text analysis for training-data
pipelines).

Scale design:
- Everything is column expressions (JVM, codegen) — no Python in the path.
- Exact dedup: hash-groupBy on a fingerprint, one shuffle on the hash.
- MinHash+LSH: shingle explode -> salted-min signatures (one groupBy on
  doc_id) -> band keys -> join inside band buckets.  At 100 TB the band
  bucket join replaces the quadratic all-pairs shingle join: candidate
  generation cost is O(sum of bucket^2) with bucket sizes controlled by
  band width, and the doc_id<doc_id guard keeps pairs unique.
- SimHash: token-bit fan-out (docs x 64 bits) is a wide but shuffle-light
  map; the only shuffle is the (doc, bit) partial-sum groupBy which Catalyst
  plans with map-side combine.
- Hash parity with the DuckDB oracle uses md5 (both engines, identical), and
  lexicographic MIN over hex strings == numeric min over the 128-bit values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize_once


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ('128MB', '4m', '134217728')."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
    except Exception:
        return default
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimate how many splits the file scan under ``df`` produces,
    from file sizes alone — Spark's own bin-packing formula
    (``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    paddedTotal / defaultParallelism))``) — WITHOUT converting the plan
    to an RDD (``df.rdd.getNumPartitions()`` forces that conversion per
    invocation; VERDICT r9 next #7).  None = not a stat-able local file
    scan (in-memory test frames, object storage), where the caller
    should leave the plan alone."""
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
        path = unquote(urlparse(uri).path) if "://" in uri else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    spark = df.sparkSession
    max_pb = _size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 << 20
    )
    open_cost = _size_conf_bytes(
        spark, "spark.sql.files.openCostInBytes", 4 << 20
    )
    par = spark.sparkContext.defaultParallelism
    padded = total + open_cost * len(files)
    max_split = min(max_pb, max(open_cost, padded // max(par, 1) or 1))
    return max(1, -(-padded // max_split))


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition an input that arrives as fewer splits than
    ``defaultParallelism`` — the sf0.1 fixture is ONE parquet row-group,
    so without this the whole token/gram map stage of a heavy text plan
    runs single-threaded.  At scale the input already has >= that many
    splits and this is a no-op, so no shuffle is added where it would
    hurt.  Apply ONLY where the scan-stage work dominates the shuffle of
    the text column: measured at sf0.1 it wins for the gram/shingle
    pipelines (substring cut 1.8 -> 1.3s, MinHash-LSH 1.26 -> 0.85s,
    SimHash) and LOSES for cheap-map plans (retrieval_rrf_fusion
    1.02 -> 1.27s, text_decontaminate 0.92 -> 1.03s) — blanket
    application to every documents query was measured and rejected.

    The split count is ESTIMATED from file sizes (see
    ``_estimated_scan_splits``), not read off ``df.rdd`` — the RDD
    conversion it forced per construction was the one honest carry in
    VERDICT r9.  Same decisions at every regime: sf0.1's ~0.6 MB single
    file estimates far below ``defaultParallelism`` (repartition, as
    before); a cluster-scale scan estimates thousands (no-op); an
    in-memory frame (None) is left alone, matching the old behavior
    where ``createDataFrame`` already yields ~defaultParallelism
    partitions."""
    est = _estimated_scan_splits(df)
    if est is None:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if est < par else df

# 8 MinHash functions from TWO md5 evaluations: each 128-bit digest yields
# four disjoint 32-bit (8-hex-char) slices.  Fixed-width lowercase hex makes
# lexicographic MIN == numeric min, and 32 bits is ample for per-doc min
# selection (collisions matter only between distinct shingles inside one
# doc's min race — ~1e-6 at 1e4 shingles).  Cuts signature-stage hashing 4x
# vs one salted md5 per function (measured: 1.9s -> 0.5s at sf0.1).
_MINHASH_SALTS = ["s0", "s1"]
_SLICES_PER_MD5 = 4
_LSH_BANDS = 4  # 8 hashes / 4 bands = 2 hashes per band
_STOPWORDS = ["the", "and", "of", "to", "in"]


def _tokens(col: str = "text"):
    """Whitespace tokenizer (the BPE-ish regex variant is in functions.text).

    The whitespace class is RE2's ``\\s`` set spelled explicitly: Java's
    ``\\s`` additionally matches vertical tab ``\\x0B``, so a bare ``\\s``
    would tokenize differently from every DuckDB oracle on text
    containing one (r9; same Java∩RE2 discipline as the PII patterns)."""
    return F.split(
        F.trim(F.regexp_replace(F.col(col), r"[ \t\n\f\r]+", " ")), " "
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + chars per document."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(_tokens()).cast("long").alias("n_tokens"),
            F.length("text").cast("long").alias("n_chars_actual"),
            "lang",
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT)
           AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       lang
FROM documents
ORDER BY doc_id
"""


def text_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize -> explode -> count -> top 20 words (tf step of tf-idf)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


TEXT_WORD_TOPK_ORACLE = """
SELECT word, count(*) AS freq
FROM (SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS word
      FROM documents)
WHERE word != ''
GROUP BY word
ORDER BY freq DESC, word
LIMIT 20
"""


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token budget per document (functions/text.py tokenizer)
    alongside the whitespace count — the two token estimators a training
    pipeline reports.  Both are single regexp passes in the scan stage."""
    from ..functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            bpe_token_count("text").alias("n_bpe_tokens"),
            F.size(_tokens()).cast("long").alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_COUNT_BPE_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+', 0))
           AS BIGINT) AS n_bpe_tokens,
       CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
           AS BIGINT) AS n_ws_tokens
FROM documents
ORDER BY doc_id
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf: term frequency x ln(N/df), top-3 terms per doc (doc_id < 20).

    tf per (doc, word) with map-side partials, materialized ONCE (lazy
    localCheckpoint — one corpus tokenize, the r18 invariant kept); df
    per word is a ``groupBy("word")`` aggregate over the stored tf
    blocks (map-side partials — a hot stopword collapses per task
    before the exchange), and the bounded requested side (tf rows of
    the ≤20 target docs) broadcast-joins INTO it.  The r18 form
    attached df as ``count OVER (PARTITION BY word)`` — WindowExec
    buffers each word's full posting list in one task, so a stopword
    partition held ~n_docs rows (VERDICT r18 #4: skew collapse at
    100 TB); the aggregate+broadcast shape moves only vocab-sized
    counts and never buffers an unbounded key.  df still counts the
    WHOLE corpus (the doc_id < 20 cut touches only the probe side);
    corpus size N is a 1-row broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_tokens()).alias("word"))
        .where(F.col("word") != "")
    )
    tf = materialize_once(
        tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n_dw"))
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    dfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    # probe side bounded by construction (words of ≤20 docs): explicit
    # broadcast hint (checkpointed tf has no Catalyst stats); dfreq
    # streams through the hash join with no extra exchange
    probe = tf.where(F.col("doc_id") < 20)
    scored = (
        dfreq.join(F.broadcast(probe), "word")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("n_dw") * F.log(F.col("n_total") / F.col("n_docs_with")), 6
            ).alias("tfidf"),
        )
    )

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


TEXT_TFIDF_ORACLE = """
WITH tok AS (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS n_dw FROM tok WHERE word != ''
    GROUP BY doc_id, word
), dfreq AS (
    SELECT word, count(*) AS n_docs_with FROM tf GROUP BY word
), scored AS (
    SELECT tf.doc_id, tf.word,
           round(tf.n_dw * ln((SELECT count(*) FROM documents)::DOUBLE
                              / dfreq.n_docs_with), 6) AS tfidf
    FROM tf JOIN dfreq USING (word)
    WHERE tf.doc_id < 20
)
SELECT doc_id, word, tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, word) AS rnk FROM scored)
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, stopword ratio, alpha ratio.

    The heuristic-score family a training-data pipeline gates documents on;
    all closed-form column math so it runs inside the scan stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.col("toks")  # materialized below: one tokenizer eval per row
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(_STOPWORDS))
    )
    alpha_chars = F.length(F.regexp_replace("text", r"[^a-zA-Z]", ""))
    return (
        docs.select("doc_id", "text", _tokens().alias("toks"))
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars_actual"),
            n_tokens.cast("long").alias("n_tokens"),
            F.round(F.length("text") / n_tokens, 4).alias("mean_token_len"),
            F.round(stop_hits / n_tokens, 4).alias("stopword_ratio"),
            F.round(alpha_chars / F.length("text"), 4).alias("alpha_ratio"),
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_ORACLE = """
WITH t AS (
    SELECT doc_id, text,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
    FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(length(text) / len(toks), 4) AS mean_token_len,
       round(len(list_filter(toks, x -> x IN ('the', 'and', 'of', 'to', 'in')))
             / len(toks), 4) AS stopword_ratio,
       round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text), 4)
           AS alpha_ratio
FROM t
ORDER BY doc_id
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-set hit counts per language, argmax.

    A real n-gram langid model is this exact dataflow with a bigger weight
    table; the per-language score columns keep it whole-stage-codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.col("toks")  # materialized below: one tokenizer eval per row
    en = F.size(F.filter(toks, lambda t: t.isin(["the", "and", "of"])))
    es = F.size(F.filter(toks, lambda t: t.isin(["el", "la", "de"])))
    fr = F.size(F.filter(toks, lambda t: t.isin(["le", "la", "et"])))
    best = (
        F.when((en >= es) & (en >= fr), F.lit("en"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return (
        docs.select("doc_id", _tokens().alias("toks"))
        .select(
            "doc_id",
            en.cast("long").alias("score_en"),
            es.cast("long").alias("score_es"),
            fr.cast("long").alias("score_fr"),
            best.alias("lang_guess"),
        )
        .orderBy("doc_id")
    )


TEXT_LANGID_ORACLE = """
WITH t AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
    FROM documents
), s AS (
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN ('the','and','of'))) AS BIGINT) AS score_en,
           CAST(len(list_filter(toks, x -> x IN ('el','la','de'))) AS BIGINT) AS score_es,
           CAST(len(list_filter(toks, x -> x IN ('le','la','et'))) AS BIGINT) AS score_fr
    FROM t
)
SELECT doc_id, score_en, score_es, score_fr,
       CASE WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM s
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text.

    The exact-dedup key; 16 hex chars (64 bits) is collision-safe to ~billions
    of docs, and the fingerprint is computed in the scan stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"[ \t\n\f\r]+", " ")))
    return (
        docs.select(
            "doc_id",
            F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


TEXT_FINGERPRINT_ORACLE = """
SELECT doc_id,
       substring(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16)
           AS fingerprint
FROM documents
ORDER BY doc_id
"""


_WINNOW_W = 4  # window width (positions) for minima selection


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash fingerprint scheme): hash
    every positional 3-token k-gram, slide a w-position window, keep each
    window's minimum hash.  Guarantees any shared run of >= w+k-1 tokens
    between two docs shares a fingerprint — the plagiarism/near-dup
    detection invariant (MOSS).  The rolling hash is an efficiency trick for
    single-threaded scanners; columnar engines hash all k-grams in one
    vectorized pass, and the window minima come from one windowed MIN.
    Output: per-doc fingerprint count + extrema for verification."""
    docs = load_table(spark, sf_dir, "documents")
    posh = (
        docs.select("doc_id", _tokens().alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n"),
            F.posexplode(_shingles_expr()).alias("i", "sh"),
        )
        .select(
            "doc_id", "n", "i", F.substring(F.md5("sh"), 1, 16).alias("h")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, _WINNOW_W - 1)
    fps = (
        posh.withColumn("win_min", F.min("h").over(w))
        # a full window exists only while i + w <= n_positions
        .withColumn("n_pos", F.greatest(F.col("n") - 2, F.lit(1)))
        .where(F.col("i") + _WINNOW_W <= F.col("n_pos"))
        .select("doc_id", "win_min")
        .distinct()
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.min("win_min").alias("fp_min"),
            F.max("win_min").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


TEXT_WINNOW_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t, greatest(len(t) - 2, 1) AS n_pos,
           unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
    FROM toks
), posh AS (
    SELECT doc_id, n_pos, i - 1 AS i,
           substring(md5(CASE WHEN len(t) >= 3
                THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                ELSE array_to_string(t, ' ') END), 1, 16) AS h
    FROM idx
), winmin AS (
    SELECT doc_id, n_pos, i,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
    FROM posh
), fps AS (
    SELECT DISTINCT doc_id, win_min
    FROM winmin WHERE i + 4 <= n_pos
)
SELECT doc_id, count(*) AS n_fingerprints,
       min(win_min) AS fp_min, max(win_min) AS fp_max
FROM fps
GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: keep min doc_id per fingerprint.

    Deterministic survivor choice (min id), unlike dropDuplicates' arbitrary
    row — required for oracle parity and for reproducible pipelines.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"[ \t\n\f\r]+", " ")))
    return (
        docs.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_doc_id
"""


def _shingles_expr(toks=None):
    """3-token shingles as strings: transform over token index range.

    ``toks`` MUST be a bound column reference (materialize the tokenizer with
    a prior ``select(_tokens().alias("toks"))``), never the raw tokenizer
    expression: inlining it makes codegen re-run the regexp split inside
    every ``element_at`` of the transform lambda — O(shingles x text_len)
    regex work, measured 20x slower at sf0.1.
    """
    if toks is None:
        toks = F.col("toks")
    n = F.size(toks)
    # sequence(1, n-2) -> element_at is 1-based; guard docs shorter than 3 tokens
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows with the tokenizer evaluated once per doc."""
    return _ensure_parallel(docs).select(
        "doc_id", _tokens().alias("toks")
    ).select("doc_id", F.explode(_shingles_expr()).alias("shingle"))


# Hot-bucket fan-out cap (VERDICT r11 next #2).  Band selectivity bounds
# bucket sizes STATISTICALLY, but web-scale corpora are adversarial:
# boilerplate near-identical pages put millions of docs in ONE bucket,
# where both the collect_list row and the C(k,2) pair explode blow up.
# Buckets over the cap are hash-sub-sharded so every collected group and
# every pair fan-out is ~cap-bounded; buckets at or under the cap are
# byte-identical to the uncapped plan (shard 0), so the fixture-scale
# oracle is unaffected (tests/test_dedup_adversarial.py pins both the
# fixture headroom and the 10^4-docs-one-bucket survival).  Sub-sharding
# (vs dropping oversized buckets, the zip-bomb precedent) degrades
# gracefully: the hot cluster still collapses to ~one survivor per shard
# instead of escaping dedup entirely.
_LSH_BUCKET_CAP = 1000


def _lsh_banded(docs: DataFrame, shared: bool = False) -> DataFrame:
    """(doc_id, band, bucket) band-signature rows — the shared head of the
    pair generator and the bucket-stats side channel.

    shingle explode -> 8 salted min-md5 per doc (MinHash signature) ->
    4 bands x 2 hashes.  No distinct() on shingles: min() is
    duplicate-insensitive, and the groupBy's map-side partial aggregation
    already collapses everything to 8 hashes per doc per partition — a
    distinct here would be a second full-width shuffle of the raw shingle
    strings for nothing.  One band explode instead of a 4-way union (the
    union re-evaluated the whole shingle->signature lineage per band).

    ``shared=True`` for callers with MULTIPLE consumers of the result:
    without a materialization barrier Catalyst re-derives the whole
    scan->shingle->min-hash pipeline per branch (verified: the naive
    capped pair generator planned two FileScans).  A LAZY localCheckpoint
    makes the one final action compute signatures once and share them,
    with no cross-invocation cache reuse (each call builds a fresh RDD —
    bench passes stay honest).  Same discipline as graph_pagerank's edge
    cache.
    """
    sh = docs.select("doc_id", _tokens().alias("toks")).select(
        "doc_id", F.explode(_shingles_expr()).alias("shingle")
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(
                    F.md5(F.concat(F.lit(s), F.lit("|"), F.col("shingle"))),
                    1 + 8 * j,
                    8,
                )
            ).alias(f"mh{i_salt * _SLICES_PER_MD5 + j}")
            for i_salt, s in enumerate(_MINHASH_SALTS)
            for j in range(_SLICES_PER_MD5)
        ]
    )
    if shared:
        sig = sig.transform(materialize_once)
    per_band = len(_MINHASH_SALTS) * _SLICES_PER_MD5 // _LSH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.concat_ws(
                "#", *[f"mh{b * per_band + j}" for j in range(per_band)]
            ).alias("bucket"),
        )
        for b in range(_LSH_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(docs: DataFrame, cap: int = _LSH_BUCKET_CAP) -> DataFrame:
    """MinHash+LSH candidate pairs over a (doc_id, text) frame.

    Docs sharing any band bucket are candidates.  The only joins are
    within band buckets (the LSH point: at 100 TB this is the difference
    between a bucket-local join and an all-pairs explosion), and buckets
    are size-capped via hash sub-sharding — ``dedup_lsh_bucket_stats``
    is the oracle-backed side channel that makes over-cap buckets
    visible to operators.
    """
    # shared=True: bucket sizes + pair generation are TWO consumers of
    # the signature table (see _lsh_banded).
    banded = _lsh_banded(docs, shared=True)
    # Bucket sizes via a constant-buffer count agg (partial-aggregable,
    # skew-immune — unlike collect_list, a billion-row bucket costs one
    # long per partition per bucket).
    sizes = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    shards = F.when(
        F.col("n") > cap,
        F.pmod(F.xxhash64("doc_id"), F.ceil(F.col("n") / cap)).cast("int"),
    ).otherwise(F.lit(0))
    buckets = (
        banded.join(sizes, ["band", "bucket"])
        .select("doc_id", "band", "bucket", shards.alias("shard"))
        .groupBy("band", "bucket", "shard")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    return (
        buckets.select("ids", F.explode("ids").alias("doc_a"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates (see minhash_lsh_pairs)."""
    return minhash_lsh_pairs(
        _ensure_parallel(load_table(spark, sf_dir, "documents"))
    )


def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-population stats — the OBSERVABILITY side
    channel for the hot-bucket cap (VERDICT r11 next #2: over-cap buckets
    sub-shard silently in the pair generator; this query is how an
    operator SEES them).  Per band: candidate buckets (>= 2 docs),
    singletons, the largest bucket, the exact uncapped candidate-pair
    volume sum C(n, 2), and how many buckets exceed the sub-shard cap
    (zero on any non-adversarial corpus — the fixture headroom test pins
    it).  One constant-buffer aggregation over the banded signatures +
    one tiny per-band rollup: skew-immune by construction, so it is safe
    to run on exactly the corpora that would blow up the uncapped pair
    generator.
    """
    banded = _lsh_banded(_ensure_parallel(load_table(spark, sf_dir, "documents")))
    sizes = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_buckets"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_singletons"),
            F.max("n").alias("max_bucket"),
            # integer DIV keeps the pair count exact at any magnitude
            # (n*(n-1) is always even); double division would round
            # once counts pass 2^53
            F.sum(F.expr("n * (n - 1) DIV 2")).cast("long")
            .alias("candidate_pairs"),
            F.sum(F.when(F.col("n") > _LSH_BUCKET_CAP, 1).otherwise(0))
            .cast("long")
            .alias("n_over_cap"),
        )
        .orderBy("band")
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a NEW batch checked against the EXISTING
    corpus via shared MinHash band buckets — the nightly-ingest shape a
    production pipeline runs (dedup the delta, never re-pair the whole
    corpus).  The fixture split is deterministic: doc_id % 10 >= 8 is the
    incoming batch, the rest is the standing corpus; "b duplicates a"
    when they share any band bucket and a.doc_id < b.doc_id (earlier
    batch members count as corpus for later ones — the streaming-order
    convention).

    Plan: AGGREGATION-ONLY — no pair explode exists at any scale.  For
    each (band, bucket) the only candidate that can matter is the bucket
    MINIMUM (any smaller-id partner implies the bucket min is smaller
    still), so: one mergeable min(doc_id) per bucket, join back on the
    bucket key, one min per doc.  Hot boilerplate buckets cost one long
    per partition instead of C(k, 2) pairs, making this the lane to run
    on exactly the corpora that need capping in the full pair generator.
    The banded signature head is shared with dedup_minhash_lsh via ONE
    lazy localCheckpoint (two consumers); in production the corpus side's
    signatures would come precomputed from the manifest store, which only
    removes work relative to this fixture stand-in.

    Output per batch doc: (doc_id, dup_of, is_dup) — dup_of is the
    smallest shared-bucket partner, engine/oracle-exact.
    """
    banded = _lsh_banded(
        _ensure_parallel(load_table(spark, sf_dir, "documents")), shared=True
    )
    return _bucket_min_incremental(banded)


def _bucket_min_incremental(banded: DataFrame) -> DataFrame:
    """The aggregation-only tail of the incremental dedup lane, over any
    (doc_id, band, bucket) signature relation: one mergeable min per
    bucket, join back, one min per doc, filter to the incoming batch
    (doc_id % 10 >= 8, the fixture convention).  Shared by the
    fixture-recomputed lane and the manifest-fed production variant so
    their semantics cannot diverge."""
    mins = banded.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("bucket_min")
    )
    per_doc = (
        banded.join(mins, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(
            F.min(
                F.when(
                    F.col("bucket_min") < F.col("doc_id"), F.col("bucket_min")
                )
            ).alias("dup_of")
        )
    )
    return (
        per_doc.where(F.col("doc_id") % 10 >= 8)
        .select(
            "doc_id",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
        .orderBy("doc_id")
    )


def persist_corpus_signatures(
    docs: DataFrame, path: str, mode: str = "overwrite", txn: int | None = None
) -> int:
    """Ingest-time half of the incremental-dedup contract (VERDICT r12
    next #2): compute the corpus's banded MinHash signatures ONCE, at
    ingest, and commit them to a manifest table at ``path`` — so nightly
    batch dedup reads (doc_id, band, bucket) rows instead of re-reading
    and re-shingling the corpus text.  The win is a document-LENGTH
    bandwidth argument (SCALE.md rule 57): signatures are O(1) bytes/doc
    while text is O(len), so at production doc sizes (10-100 KB) the
    byte ratio is 50-500x and the removed re-scan dominates the naive
    lane; at the fixture's ~1 KB docs the measured ratio is only 2.1x
    and the warm wall-time win is within noise (1.02x, interleaved A/B
    `0ba482d:scripts/incremental_manifest_ab.py`) — the fixture validates the
    PLUMBING (zero corpus-text scans, plan-pinned), not the speedup.
    Returns the committed manifest version.  ``txn`` makes streaming
    ingest idempotent (replayed commits no-op, the Delta txn contract).
    """
    from ..sources.manifest_table import write_manifest_table

    return write_manifest_table(
        _lsh_banded(docs), path, mode=mode, txn=txn
    )


def incremental_banded_lineage(
    spark: SparkSession, sf_dir: str, signatures_path: str
) -> DataFrame:
    """Pre-barrier lineage of the manifest-fed incremental dedup: corpus
    (doc_id, band, bucket) rows read from the persisted signature table,
    unioned with batch rows computed from the batch's text.  Exposed
    separately so the plan can be pinned: the ONLY scan touching
    ``documents`` text is the batch side — zero corpus-side text bytes
    (tests/test_text_properties.py asserts exactly one text-bearing
    scan in this plan)."""
    from ..sources.manifest_table import read_manifest_table

    batch = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 >= 8
    )
    corpus = read_manifest_table(spark, signatures_path).select(
        "doc_id", "band", "bucket"
    )
    return corpus.unionByName(_lsh_banded(_ensure_parallel(batch)))


def dedup_incremental_minhash_manifest(
    spark: SparkSession, sf_dir: str, signatures_path: str
) -> DataFrame:
    """Manifest-fed incremental ingest dedup — the production variant of
    ``dedup_incremental_minhash``: identical output rows (pinned against
    the oracle-backed lane), with the corpus side read from the
    signature table ``persist_corpus_signatures`` wrote at ingest
    instead of recomputed from text.  One lazy localCheckpoint shares
    the unioned signature relation across its two consumers (bucket
    mins + join back), same discipline as the recomputed lane."""
    banded = incremental_banded_lineage(
        spark, sf_dir, signatures_path
    ).transform(materialize_once)
    return _bucket_min_incremental(banded)


#: One signature-manifest scratch dir per (session, fixture dir): the
#: registered wrapper below pays the ingest half once per session and
#: every later call reads the committed table — the production shape,
#: where ingest writes signatures continuously and the nightly dedup
#: only ever reads them.  Keyed on (Spark application id, fixture
#: abspath) — NOT path alone (ADVICE r14): a new session against the
#: same path must re-ingest, otherwise changed fixture data silently
#: reuses stale signatures.  Scratch dirs are removed at interpreter
#: exit (they are mkdtemp temp space, never user data).
_SIG_MANIFEST_CACHE: dict[tuple[str, str], str] = {}
_SIG_SCRATCH_DIRS: list[str] = []


def _sig_scratch_cleanup() -> None:
    import shutil

    while _SIG_SCRATCH_DIRS:
        shutil.rmtree(_SIG_SCRATCH_DIRS.pop(), ignore_errors=True)


import atexit as _atexit

_atexit.register(_sig_scratch_cleanup)


def dedup_incremental_minhash_manifest_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registered driver entry for the manifest-fed incremental dedup
    (VERDICT r13 next #3): self-contained ``(spark, sf_dir)`` form of
    ``dedup_incremental_minhash_manifest``.  First call per session runs
    the INGEST half — ``persist_corpus_signatures`` commits the standing
    corpus's (doc_id, band, bucket) rows (doc_id % 10 < 8, the fixture's
    corpus/batch split) to a scratch manifest table — then the dedup
    half reads those signatures and touches documents.text only on the
    batch side (plan pinned in tests/test_text_properties.py: exactly
    one text-bearing FileScan, carrying the batch predicate).

    Output is row-identical to the recomputed lane, so the DuckDB
    oracle is shared verbatim (``DEDUP_INCREMENTAL_ORACLE``): the
    driver's hash check covers the full write→commit→snapshot-read→
    dedup path, not just the aggregation tail.
    """
    import os
    import tempfile

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    path = _SIG_MANIFEST_CACHE.get(key)
    if path is None:
        scratch = tempfile.mkdtemp(prefix="spark_graft_sigs_")
        _SIG_SCRATCH_DIRS.append(scratch)
        path = os.path.join(scratch, "signatures")
        corpus = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % 10 < 8
        )
        persist_corpus_signatures(corpus, path)
        _SIG_MANIFEST_CACHE[key] = path
    return dedup_incremental_minhash_manifest(spark, sf_dir, path)


DEDUP_INCREMENTAL_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
    FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(t) >= 3
                THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                ELSE array_to_string(t, ' ') END AS shingle
    FROM idx
), hashed AS (
    SELECT doc_id, md5('s0|' || shingle) AS h0, md5('s1|' || shingle) AS h1
    FROM sh
), sig AS (
    SELECT doc_id,
           min(substring(h0, 1, 8))  AS mh0, min(substring(h0, 9, 8))  AS mh1,
           min(substring(h0, 17, 8)) AS mh2, min(substring(h0, 25, 8)) AS mh3,
           min(substring(h1, 1, 8))  AS mh4, min(substring(h1, 9, 8))  AS mh5,
           min(substring(h1, 17, 8)) AS mh6, min(substring(h1, 25, 8)) AS mh7
    FROM hashed GROUP BY doc_id
), banded AS (
    SELECT doc_id, 0 AS band, mh0 || '#' || mh1 AS bucket FROM sig
    UNION ALL SELECT doc_id, 1, mh2 || '#' || mh3 FROM sig
    UNION ALL SELECT doc_id, 2, mh4 || '#' || mh5 FROM sig
    UNION ALL SELECT doc_id, 3, mh6 || '#' || mh7 FROM sig
), mins AS (
    SELECT band, bucket, min(doc_id) AS bucket_min
    FROM banded GROUP BY band, bucket
), per_doc AS (
    SELECT b.doc_id,
           min(CASE WHEN m.bucket_min < b.doc_id THEN m.bucket_min END)
               AS dup_of
    FROM banded b
    JOIN mins m ON m.band = b.band AND m.bucket = b.bucket
    GROUP BY b.doc_id
)
SELECT doc_id, dup_of, dup_of IS NOT NULL AS is_dup
FROM per_doc
WHERE doc_id % 10 >= 8
ORDER BY doc_id
"""


DEDUP_LSH_BUCKET_STATS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
    FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(t) >= 3
                THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                ELSE array_to_string(t, ' ') END AS shingle
    FROM idx
), hashed AS (
    SELECT doc_id, md5('s0|' || shingle) AS h0, md5('s1|' || shingle) AS h1
    FROM sh
), sig AS (
    SELECT doc_id,
           min(substring(h0, 1, 8))  AS mh0, min(substring(h0, 9, 8))  AS mh1,
           min(substring(h0, 17, 8)) AS mh2, min(substring(h0, 25, 8)) AS mh3,
           min(substring(h1, 1, 8))  AS mh4, min(substring(h1, 9, 8))  AS mh5,
           min(substring(h1, 17, 8)) AS mh6, min(substring(h1, 25, 8)) AS mh7
    FROM hashed GROUP BY doc_id
), banded AS (
    SELECT doc_id, 0 AS band, mh0 || '#' || mh1 AS bucket FROM sig
    UNION ALL SELECT doc_id, 1, mh2 || '#' || mh3 FROM sig
    UNION ALL SELECT doc_id, 2, mh4 || '#' || mh5 FROM sig
    UNION ALL SELECT doc_id, 3, mh6 || '#' || mh7 FROM sig
), sizes AS (
    SELECT band, bucket, count(*) AS n FROM banded GROUP BY band, bucket
)
SELECT band,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       max(n) AS max_bucket,
       CAST(sum(n * (n - 1) / 2) AS BIGINT) AS candidate_pairs,
       CAST(sum(CASE WHEN n > {_LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_over_cap
FROM sizes
GROUP BY band
ORDER BY band
"""


DEDUP_MINHASH_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
    FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(t) >= 3
                THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                ELSE array_to_string(t, ' ') END AS shingle
    FROM idx
), hashed AS (
    SELECT doc_id, md5('s0|' || shingle) AS h0, md5('s1|' || shingle) AS h1
    FROM sh
), sig AS (
    SELECT doc_id,
           min(substring(h0, 1, 8))  AS mh0, min(substring(h0, 9, 8))  AS mh1,
           min(substring(h0, 17, 8)) AS mh2, min(substring(h0, 25, 8)) AS mh3,
           min(substring(h1, 1, 8))  AS mh4, min(substring(h1, 9, 8))  AS mh5,
           min(substring(h1, 17, 8)) AS mh6, min(substring(h1, 25, 8)) AS mh7
    FROM hashed GROUP BY doc_id
), banded AS (
    SELECT doc_id, 0 AS band, mh0 || '#' || mh1 AS bucket FROM sig
    UNION ALL SELECT doc_id, 1, mh2 || '#' || mh3 FROM sig
    UNION ALL SELECT doc_id, 2, mh4 || '#' || mh5 FROM sig
    UNION ALL SELECT doc_id, 3, mh6 || '#' || mh7 FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity for all overlapping pairs.

    The brute-force ground truth LSH approximates: shingle self-join counts
    the intersection, |A|+|B|-|A∩B| gives the union.  Only pairs sharing at
    least one shingle materialize (the join does the candidate pruning).

    r18 (guide §2.4): the distinct shingle set feeds sizes AND both
    self-join sides — four scan+shingle+distinct lineages in the r17
    plan.  One lazy localCheckpoint makes the shingle build (the only
    corpus-sized stage) run exactly once per call.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(docs).distinct().transform(materialize_once)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "sh_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.2)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
    FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(t) >= 3
                THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                ELSE array_to_string(t, ' ') END AS shingle
    FROM idx
), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.2
ORDER BY doc_a, doc_b
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (near-dup fingerprint).

    Per token, 64 bits come from its md5 prefix; the signature bit is the
    sign of the +-1 vote sum.  The vote sum never needs a row fan-out:
    with sb = count of tokens whose hash bit b is SET and n = token
    count, the sum is sb - (n - sb), so bit b of the signature is
    ``2*sb > n``.  The plan is therefore ONE aggregation: the 16-hex
    prefix parses as TWO 8-digit longs per token (conv is the expensive
    expression — 2 per row, not 16), then 32 packed shift-and-mask
    conditional sums (two 32-bit vote counters per long) + a count per
    doc, all long-register math with map-side combine; the hash exchange
    carries 34 longs per doc.  (The naive shape exploded every token 64x
    through per-row shift math — ~96M expression rows and 4.8s at
    sf0.1.)  A round-robin repartition guard parallelizes small inputs
    that arrive as a single split; see simhash_signatures for the r8
    shape notes.
    """
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """The reusable core of ``dedup_simhash`` over any (doc_id, text)
    DataFrame; property-tested against a pure-Python reference in
    tests/test_text_properties.py on hypothesis-generated corpora.

    r8 shape changes (VERDICT r7 next #3):

    - PARALLELISM GUARD: a small corpus arriving as fewer splits than
      ``defaultParallelism`` (sf0.1 is ONE parquet row-group -> the whole
      token stage ran single-threaded) is round-robin repartitioned
      first; at scale the input already has >= that many splits and the
      guard is a no-op, so no shuffle is added where it would hurt.
    - PACKED VOTE COUNTERS: two bit-counts share each 64-bit sum
      (32-bit fields; sum-of-packed == packed-sums while each field
      stays < 2^31 ~ impossible for tokens-per-doc, which is bounded by
      Spark's 2 GiB string limit at ~2^28 single-char tokens).  Halves
      the aggregation buffer (34 longs vs 65) and the exchange width,
      and keeps the generated agg-update code half the size.
    - NO PRESENTATION SORT: the driver/oracle compare sorts rows, so the
      global range-exchange + sample job bought nothing.
    """
    docs = _ensure_parallel(docs)
    # single split(\s+) instead of the shared _tokens() pipeline
    # (replace+trim+split): the NONEMPTY token multiset is identical for
    # any input — the empty-string artifacts the two shapes produce
    # differ, but both are dropped here — and one regex pass is ~40%
    # cheaper on the tokenize stage (measured 0.25 -> 0.16 s at sf0.1).
    # Only safe because simhash filters empties; size()-based consumers
    # must keep _tokens().
    tok = (
        docs.select("doc_id", F.explode(F.split("text", r"[ \t\n\f\r]+")).alias("token"))
        .where(F.col("token") != "")
        .select("doc_id", F.md5("token").alias("h"))
    )
    # hex digit b//4 (1-based j) of the hash holds bit b%4; digit j is
    # the (8-(j-1)%8)-th nibble of its 8-digit word (digit 1 = most
    # significant of hi), so hash bit b = (word >> ((8-1-(j-1)%8)*4 + b%4)) & 1
    tokh = tok.select(
        "doc_id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def _bit(b: int):
        j, i = b // 4 + 1, b % 4
        word = F.col("hi") if j <= 8 else F.col("lo")
        shift = (8 - 1 - (j - 1) % 8) * 4 + i
        return F.shiftright(word, shift).bitwiseAND(F.lit(1))

    aggs = [F.count(F.lit(1)).alias("n")]
    for g in range(32):
        lo_bit, hi_bit = 2 * g, 2 * g + 1
        aggs.append(
            F.sum(_bit(lo_bit) + F.shiftleft(_bit(hi_bit), 32)).alias(f"g{g}")
        )

    def _sb(b: int):
        packed = F.col(f"g{b // 2}")
        half = packed if b % 2 == 0 else F.shiftright(packed, 32)
        return half.bitwiseAND(F.lit(0xFFFFFFFF))

    return (
        tokh.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.concat(
                *[
                    F.when(_sb(b) * 2 > F.col("n"), F.lit("1"))
                    .otherwise(F.lit("0"))
                    for b in range(64)
                ]
            ).alias("simhash"),
        )
    )


DEDUP_SIMHASH_ORACLE = """
WITH tok AS (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS token
    FROM documents
), th AS (
    SELECT doc_id, md5(token) AS h FROM tok WHERE token != ''
), bits AS (
    SELECT doc_id, b,
           CASE WHEN ((strpos('0123456789abcdef',
                              substring(h, (b // 4) + 1, 1)) - 1)
                      >> (b % 4)) & 1 = 1
                THEN 1 ELSE -1 END AS vote
    FROM th, range(0, 64) r(b)
), sums AS (
    SELECT doc_id, b, sum(vote) AS s FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
FROM sums
GROUP BY doc_id
ORDER BY doc_id
"""


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model: P(w2|w1) over the corpus, top pairs.

    Tokens materialize as a column FIRST (the inline-expression trap:
    re-evaluating the tokenizer per array access is the 20× regression this
    repo already hit once), bigrams come from one posexplode + window lead
    within each doc, and the conditional probability divides by a
    window-sum of the SAME aggregated bigram frame (``sum(n_bigram) OVER
    (PARTITION BY w1)``) instead of a groupBy+broadcast-join of a second
    lineage of it.  r18 (guide §2.4/§1.2): DataFrame reuse does NOT share
    subtrees in the physical plan — the old ``bigrams.join(unigrams)``
    re-ran scan→explode→window→groupBy for the unigram side, tokenizing
    the corpus twice (two Generates, two token exchanges, two window
    sorts in the r17 plan).  The window form keeps ONE corpus pass; the
    only post-aggregate exchange moves (w1, w2, n_bigram) rows — vocab²
    bounded, corpus-independent.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(_tokens()).alias("pos", "w1"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("w1").over(w))
        .where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
    )
    wp = Window.partitionBy("w1")
    return (
        bigrams.withColumn("n_prefix", F.sum("n_bigram").over(wp))
        .where(F.col("n_bigram") >= 30)
        .select(
            "w1",
            "w2",
            "n_bigram",
            F.round(F.col("n_bigram") / F.col("n_prefix"), 4).alias("p_cond"),
        )
        .orderBy(F.col("n_bigram").desc(), "w1", "w2")
    )


def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy (perplexity filter): average
    -log2 P(w2|w1) under the corpus LM — the classic quality gate (a doc
    whose text surprises the corpus model is noise; one that's too
    predictable is boilerplate).

    Self-scoring against the corpus LM means every document bigram exists
    in the model (no smoothing term to keep cross-engine deterministic).
    The LM probability is an exact rational (bigram/prefix counts), so
    both engines take log2 of IDENTICAL doubles; only the per-doc sum
    order differs (~1e-13), rounded away at 3 decimals.

    Plan (r18 one-pass + r19 de-skew): ONE token pass — the per-doc
    bigram aggregate is materialized once (lazy localCheckpoint), so no
    subtree replays (the r17 shape tokenized three times).  The corpus
    LM is an exact rollup of that aggregate: ``n_bigram = sum(m)``
    GROUP BY (w1, w2) with map-side partials, ``n_prefix`` a window sum
    over the (w1, w2)-AGGREGATED lm frame — that window's partitions
    are vocab-bounded (≤ distinct successors of one w1), the
    text_bigram_lm shape ADVICE r18 endorsed, unlike the r18 windows
    over doc_bigrams whose partitions were corpus-dependent (a stopword
    bigram appears in ~every doc, so one task buffered ~n_docs rows).
    The LM attaches with ONE (w1, w2)-keyed join, AQE-skew-splittable.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(_tokens()).alias("pos", "w1"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.withColumn("w2", F.lead("w1").over(w)).where(
        F.col("w2").isNotNull()
    )
    doc_bigrams = materialize_once(
        pairs.groupBy("doc_id", "w1", "w2").agg(
            F.count(F.lit(1)).alias("m")
        )
    )
    lm = (
        doc_bigrams.groupBy("w1", "w2")
        .agg(F.sum("m").alias("n_bigram"))
        .withColumn(
            "n_prefix", F.sum("n_bigram").over(Window.partitionBy("w1"))
        )
        .withColumn("p", F.col("n_bigram") / F.col("n_prefix"))
        .select("w1", "w2", "p")
    )
    scored = doc_bigrams.join(lm, ["w1", "w2"])
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(
                F.sum(-F.col("m") * F.log2("p")) / F.sum("m"), 3
            ).alias("avg_bits"),
        )
        .orderBy("doc_id")
    )


TEXT_PERPLEXITY_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), seq AS (
    SELECT doc_id, unnest(t) AS w1,
           unnest(generate_series(1, len(t))) AS pos
    FROM toks
), pairs AS (
    SELECT doc_id, w1,
           lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM seq
), pb AS (
    SELECT doc_id, w1, w2, count(*) AS m
    FROM pairs WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
), corpus AS (
    SELECT w1, w2, count(*) AS n_bigram
    FROM pairs WHERE w2 IS NOT NULL GROUP BY 1, 2
), prefix AS (
    SELECT w1, sum(n_bigram) AS n_prefix FROM corpus GROUP BY 1
), lm AS (
    SELECT c.w1, c.w2,
           CAST(c.n_bigram AS DOUBLE) / CAST(p.n_prefix AS DOUBLE) AS p
    FROM corpus c JOIN prefix p USING (w1)
)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       round(sum(-m * log2(p)) / CAST(sum(m) AS DOUBLE), 3) AS avg_bits
FROM pb JOIN lm USING (w1, w2)
GROUP BY doc_id
ORDER BY doc_id
"""


TEXT_BIGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), seq AS (
    SELECT doc_id, unnest(t) AS w1,
           unnest(generate_series(1, len(t))) AS pos
    FROM toks
), bi AS (
    SELECT w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM seq
), bigrams AS (
    SELECT w1, w2, count(*) AS n_bigram
    FROM bi WHERE w2 IS NOT NULL
    GROUP BY w1, w2
), unigrams AS (
    SELECT w1, CAST(sum(n_bigram) AS BIGINT) AS n_prefix
    FROM bigrams GROUP BY w1)
SELECT b.w1, b.w2, b.n_bigram,
       round(b.n_bigram / u.n_prefix, 4) AS p_cond
FROM bigrams b JOIN unigrams u USING (w1)
WHERE b.n_bigram >= 30
ORDER BY n_bigram DESC, w1, w2
"""


_CHUNK_TOKENS = 20


def _make_chunk_udtf():
    """Python UDTF (Spark 4 table-function surface): text -> chunk rows.

    Built lazily so plain module import stays cheap.  ``useArrow=True``
    keeps the per-row eval API but moves rows in Arrow record batches
    (ArrowEvalPythonUDTF), so the lateral fan-out is not pickling one
    row at a time; the fully vectorized equivalent of this op is a
    `transform(sequence(...), slice(tokens, ...))` column expression,
    and a 100 TB chunking pass should use that (or mapInPandas).  What
    the UDTF buys is the LATERAL-join shape: one input row to N output
    rows with typed schema, composable with `DataFrame.lateralJoin` and
    SQL `LATERAL` (registered TVF).
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx: long, chunk_text: string, n_chunk_tokens: long",
        useArrow=True,
    )
    class ChunkText:
        def eval(self, text: str):
            toks = text.split()
            for i in range(0, len(toks), _CHUNK_TOKENS):
                part = toks[i : i + _CHUNK_TOKENS]
                yield (i // _CHUNK_TOKENS, " ".join(part), len(part))

    return ChunkText


def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking via a Python UDTF + lateral join.

    The training-data shape: split every document into ``_CHUNK_TOKENS``-
    token windows (context-length packing's first half).  One input row
    fans out to ceil(n_tokens/20) chunk rows; chunking is embarrassingly
    parallel (no shuffle — the only exchange is the output orderBy).
    """
    chunker = _make_chunk_udtf()
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "text")
        .lateralJoin(chunker(F.col("text").outer()))
        .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
        .orderBy("doc_id", "chunk_idx")
    )


TEXT_CHUNK_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), chunks AS (
    SELECT doc_id,
           unnest(generate_series(0, (len(t) - 1) // 20)) AS chunk_idx,
           t
    FROM toks
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(t[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ') AS chunk_text,
       CAST(len(t[chunk_idx * 20 + 1 : chunk_idx * 20 + 20]) AS BIGINT) AS n_chunk_tokens
FROM chunks
ORDER BY doc_id, chunk_idx
"""


_BM25_TERMS = ["spark", "join", "window", "vector", "stream"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking: score every document against a fixed term set, top 15.

    The retrieval-scoring sibling of tf-idf (Robertson et al., TREC-3):
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) summed over query
    terms, with the Lucene idf variant ln((N - df + 0.5)/(df + 0.5) + 1).

    Plan shape (r18 one-pass + r19 de-skew, guide §2.4/§1.2/§2.5 — the
    retrieval_rrf_fusion lexical head, shared discipline): ONE corpus
    tokenize pass.  with_dl (doc_id, dl, 5-term-filtered tokens) is
    materialized once (lazy localCheckpoint); stats aggregate it, dl
    rides THROUGH the explode as a grouping key (no dl join-back), and
    the (doc, term) tf aggregate is materialized once too.  df then
    attaches as a tiny ``groupBy("word")`` aggregate (|_BM25_TERMS| = 5
    rows, map-side partials) broadcast-joined back.  The r18 form
    computed df as ``count OVER (PARTITION BY word)`` — with 5 distinct
    words the whole tf frame hash-collapsed onto ≤5 tasks and each
    term's full document list was buffered by one WindowExec
    (VERDICT/ADVICE r18: a parallelism collapse at 100 TB); the
    broadcast join keeps map-side partial aggregation and full
    parallelism.  At 100 TB the only wide exchange is the (doc, term)
    groupBy.

    Float parity: per-term scores are rounded to integer micro-units and
    summed as BIGINT so the per-doc sum is independent of term order
    across engines (the q7/pagerank trick).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    with_dl = materialize_once(
        docs.select(
            "doc_id",
            F.size(_tokens()).cast("long").alias("dl"),
            F.filter(_tokens(), lambda w: w.isin(*_BM25_TERMS)).alias("terms"),
        )
    )
    stats = with_dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_total"),
        F.avg("dl").alias("avgdl"),
    )
    tok = with_dl.select("doc_id", "dl", F.explode("terms").alias("word"))
    tf = materialize_once(
        tok.groupBy("doc_id", "dl", "word").agg(
            F.count(F.lit(1)).cast("double").alias("tf")
        )
    )
    # term-bounded by construction (≤ |_BM25_TERMS| rows): explicit
    # broadcast hint because the checkpointed tf has no Catalyst stats
    dfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_total") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
        .select(
            "doc_id",
            F.round(F.col("term_score") * 1e6).cast("long").alias("micro"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("micro") / 1e6, 6).alias("score"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 15)
        .orderBy("rnk")
    )


TEXT_BM25_ORACLE = """
WITH with_dl AS (
    SELECT doc_id,
           CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS dl,
           text
    FROM documents
), stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_total, avg(dl) AS avgdl FROM with_dl
), tok AS (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
), tf AS (
    SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
    FROM tok
    WHERE word IN ('spark', 'join', 'window', 'vector', 'stream')
    GROUP BY doc_id, word
), dfreq AS (
    SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word
), scored AS (
    SELECT tf.doc_id,
           CAST(round(
               ln((s.n_total - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
               * 1e6) AS BIGINT) AS micro
    FROM tf
    JOIN dfreq d USING (word)
    JOIN with_dl l USING (doc_id)
    CROSS JOIN stats s
), summed AS (
    SELECT doc_id, round(CAST(sum(micro) AS BIGINT) / 1e6, 6) AS score
    FROM scored GROUP BY doc_id
)
SELECT doc_id, score, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM summed)
WHERE rnk <= 15
ORDER BY rnk
"""


def _hashed_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) with gram = 64-bit hash of each 8-token window,
    built IN THE SCAN STAGE with variadic ``xxhash64(t[i-1..i+6])`` — no
    gram string ever materializes (the measured 2.4× term in
    `text_decontaminate`'s docstring).  Shared head of both
    decontamination directions."""
    toks = docs.select("doc_id", _tokens().alias("t"))
    return toks.where(F.size("t") >= 8).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-7), i -> "
                "xxhash64(t[i-1],t[i],t[i+1],t[i+2],t[i+3],t[i+4],t[i+5],t[i+6]))"
            )
        ).alias("gram"),
    )


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: exact 8-gram overlap between a held-out
    split and the training split — the screening pass every LLM data
    pipeline runs before training (an eval doc whose 8-grams appear in
    train is leaked).

    Deterministic split (doc_id mod 10 == 0 -> eval) so both engines agree
    without RNG.  The plan: tokenize once per doc, hash each 8-token
    window to 64 bits IN THE SCAN STAGE with VARIADIC ``xxhash64(t[i-1..
    i+6])`` — no gram string is ever built (measured: 1.9s vs 4.6s
    first-run at sf0.1 vs hashing a concat_ws gram; the seed-chained
    multi-arg hash is order- and boundary-sensitive, so it distinguishes
    everything the string did).  Then distinct + inner-join eval grams to
    train grams — candidate pruning IS the join, exactly like
    `dedup_ngram_jaccard` — shuffling 8-byte keys, not ~50-byte strings.
    The outputs are DISTINCT COUNTS over grams, which the hash preserves
    exactly short of a 64-bit collision (~1e-9 at this corpus); a
    string-equality refine only matters when emitting matched text, which
    this screening count does not.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r18 (guide §2.4/§1.2): the distinct (doc, gram) set feeds BOTH split
    # sides, and DataFrame reuse does not share physical subtrees — the
    # r17 plan tokenized+hashed+distinct-shuffled the corpus TWICE (one
    # scan→Generate→HashAggregate chain per side).  Materialize it once
    # (lazy localCheckpoint, the MMR-lane discipline) so the gram build —
    # the only corpus-sized stage — runs exactly once per call.
    grams = _hashed_grams(docs).distinct().transform(materialize_once)
    ev = grams.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    tr = grams.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    return (
        ev.join(tr, "gram")
        .groupBy("eval_doc")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("gram").alias("n_shared_grams"),
        )
        .orderBy("eval_doc")
    )


def text_decontaminate_purge(
    spark: SparkSession, sf_dir: str, eval_docs: DataFrame | None = None
) -> DataFrame:
    """The PRODUCTION decontamination direction: which TRAINING docs
    must be purged because they contain held-out 8-grams.  The real
    asymmetry at 100 TB is benchmark ≪ corpus (an eval suite is MBs),
    and this plan exploits it: the eval gram set is deduplicated
    (eval-sized shuffle) and BROADCAST, the corpus-side grams are
    filtered map-side by a BroadcastHashJoin — corpus gram rows are
    NEVER shuffled — and the only corpus-keyed exchange is the final
    per-doc aggregate over MATCHED rows, which contamination rarity
    keeps tiny.  Compare `text_decontaminate` (the screening report per
    eval doc): there both splits are corpus-scale and the gram-keyed
    shuffle join IS the algorithm; here the broadcast kills it.  Same
    scan-stage variadic-hash gram head (``_hashed_grams``), shared so
    the two directions cannot drift.

    BROADCAST PREMISE (VERDICT r14 #2): the forced ``F.broadcast``
    hint is justified ONLY because the eval side is independently
    bounded — a real benchmark suite is MBs regardless of corpus size.
    The production shape is therefore an EXTERNALLY-SUPPLIED
    ``eval_docs`` DataFrame of ``(doc_id, text)`` (the benchmark
    suite); when it is passed, the ENTIRE corpus is the training side
    and the broadcast payload is benchmark-sized by construction.
    When ``eval_docs`` is None (the registered fixture lane, oracle
    unchanged), a deterministic ``doc_id % 10 == 0`` split stands in —
    10% of the corpus, which scales WITH the corpus, so the hint holds
    only at fixture scale there.  Never feed a corpus-scale frame as
    ``eval_docs``: the forced hint would OOM the driver rather than
    degrade to a shuffle join — at that shape use
    ``text_decontaminate``, whose gram-keyed shuffle join is built for
    two corpus-scale sides.

    Output: (train_doc, n_leaked_grams) for contaminated training docs
    — the purge list a curation pipeline anti-joins against.
    """
    grams = _hashed_grams(load_table(spark, sf_dir, "documents"))
    if eval_docs is None:
        ev = grams.where(F.col("doc_id") % 10 == 0).select("gram").distinct()
        tr = grams.where(F.col("doc_id") % 10 != 0)
    else:
        ev = _hashed_grams(eval_docs).select("gram").distinct()
        tr = grams
    tr = tr.select(F.col("doc_id").alias("train_doc"), "gram")
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_doc")
        .agg(F.countDistinct("gram").alias("n_leaked_grams"))
        .orderBy("train_doc")
    )


TEXT_DECONTAMINATE_PURGE_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
    FROM toks WHERE len(t) >= 8
), g AS (
    SELECT DISTINCT doc_id, array_to_string(array_slice(t, i, i + 7), ' ') AS gram
    FROM idx
)
SELECT t.doc_id AS train_doc,
       count(DISTINCT t.gram) AS n_leaked_grams
FROM g t
JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0) e
  ON t.gram = e.gram
WHERE t.doc_id % 10 <> 0
GROUP BY 1
ORDER BY train_doc
"""


def text_decontaminate_purge_external(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The purge lane's PRODUCTION signature driven through the driver
    gate (VERDICT r14 next #2): an externally-supplied benchmark suite
    as ``eval_docs`` — here stood in by a FIXED-SIZE slice of the
    documents table (``doc_id % 31 == 5``, ~3% and independent of the
    corpus split) — against the ENTIRE corpus as the training side.
    Unlike the fixture-split lane, the broadcast side's boundedness is
    a property of the supplied frame, not of a corpus-fraction
    predicate, and eval docs that live in the corpus flag THEMSELVES
    (a real pipeline wants exactly that: verbatim benchmark copies in
    the training set are the worst leak).  Same gram head, same
    BroadcastHashJoin pin (tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 31 == 5).select("doc_id", "text")
    return text_decontaminate_purge(spark, sf_dir, eval_docs=ev)


TEXT_DECONTAMINATE_PURGE_EXTERNAL_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
    FROM toks WHERE len(t) >= 8
), g AS (
    SELECT DISTINCT doc_id, array_to_string(array_slice(t, i, i + 7), ' ') AS gram
    FROM idx
)
SELECT t.doc_id AS train_doc,
       count(DISTINCT t.gram) AS n_leaked_grams
FROM g t
JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 31 = 5) e
  ON t.gram = e.gram
GROUP BY 1
ORDER BY train_doc
"""


TEXT_DECONTAMINATE_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
    FROM toks WHERE len(t) >= 8
), g AS (
    SELECT DISTINCT doc_id, array_to_string(array_slice(t, i, i + 7), ' ') AS gram
    FROM idx
)
SELECT e.doc_id AS eval_doc,
       count(DISTINCT t.doc_id) AS n_train_docs,
       count(DISTINCT e.gram) AS n_shared_grams
FROM g e JOIN g t ON e.gram = t.gram
WHERE e.doc_id % 10 = 0 AND t.doc_id % 10 <> 0
GROUP BY 1
ORDER BY eval_doc
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter: the most-repeated trigram's share of each doc —
    the Gopher/MassiveText-style quality signal (a doc whose top 3-gram is
    >5% of all its 3-grams is boilerplate or a scrape loop).

    Two stacked hash aggregates ((doc, gram) counts, then per-doc moments),
    both map-side-combinable; the ratio is the only float op so the result
    is engine-exact.  Unlike `dedup_ngram_jaccard` nothing leaves the doc:
    no join, no cross-doc shuffle — at 100 TB this filter is embarrassingly
    parallel by document.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(docs)
    cnt = sh.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.max("c").alias("max_count"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct_grams",
            F.round(F.col("max_count") / F.col("n_grams"), 4).alias("top_gram_share"),
            (F.col("max_count") / F.col("n_grams") > 0.05).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
    FROM toks
), sh AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                ELSE array_to_string(t, ' ') END AS shingle
    FROM idx
), cnt AS (
    SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       count(*) AS n_distinct_grams,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_gram_share,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) > 0.05 AS repetitive
FROM cnt
GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus exact-substring screening: per doc, how many of its
    6-token windows also occur in ANOTHER doc — the signal behind
    substring-level dedup (Lee et al. 2022's "Deduplicating Training Data
    Makes Language Models Better": C4/RefinedWeb cut repeated spans, not
    just whole near-dup docs).  This query is the detection half; the
    spans it flags are what a cut pass would remove.

    Same hashed-gram discipline as ``text_decontaminate`` (SCALE.md rule
    13): each window becomes a VARIADIC ``xxhash64`` in the scan stage —
    the gram string is never built, the corpus-wide gram table shuffles
    8-byte keys.  The distinct (doc, gram) set is materialized ONCE
    (lazy localCheckpoint — one corpus pass, the r18 invariant);
    sharedness is a per-gram count AGGREGATE over the stored blocks
    (map-side partials) joined back by gram.  The r18 form used
    ``count OVER (PARTITION BY gram)`` — WindowExec buffers each gram's
    whole partition in one task, so a boilerplate gram shared by ~all
    docs made one task hold ~n_docs rows (VERDICT r18 #4); the
    aggregate collapses hot grams per task BEFORE its exchange, and the
    join-back is AQE-skew-splittable (a join can split one giant key
    across tasks; a window cannot).  No broadcast: the gram domain is
    corpus-sized.  Docs with no shared window still appear — every
    (doc, gram) row survives the inner join (nd ≥ 1 by construction)
    and count_if supplies the zero.  Counts are hash-exact short
    of a 64-bit collision; the oracle computes the identical counts over
    the raw gram strings, so the comparison also re-proves the hash
    preserved equality semantics on this corpus.
    """
    W = 6
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("t"))
    args = ",".join(f"t[i{'+' + str(j - 1) if j else '-1'}]" for j in range(W))
    grams = materialize_once(
        toks.where(F.size("t") >= W)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, size(t)-{W - 1}), i -> xxhash64({args}))")
            ).alias("gram"),
        )
        .distinct()
    )
    nd = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    return (
        grams.join(nd, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count_if(F.col("nd") >= 2).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows"), 4
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


DEDUP_REPEATED_NGRAMS_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 5)) AS i
    FROM toks WHERE len(t) >= 6
), g AS (
    SELECT DISTINCT doc_id, array_to_string(array_slice(t, i, i + 5), ' ') AS gram
    FROM idx
), per_doc AS (
    SELECT doc_id, count(*) AS n_windows FROM g GROUP BY 1
), shared AS (
    SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
), dup_per_doc AS (
    SELECT doc_id, count(*) AS n_dup_windows
    FROM g JOIN shared USING (gram) GROUP BY 1
)
SELECT p.doc_id, p.n_windows,
       coalesce(d.n_dup_windows, 0) AS n_dup_windows,
       round(coalesce(d.n_dup_windows, 0) / CAST(p.n_windows AS DOUBLE), 4)
           AS dup_ratio
FROM per_doc p LEFT JOIN dup_per_doc d ON p.doc_id = d.doc_id
ORDER BY p.doc_id
"""


def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT half of substring-level dedup: rewrite each doc with every
    corpus-duplicated 6-token span REMOVED (Lee et al. 2022 — C4/
    RefinedWeb drop repeated spans, keeping the rest of the doc).

    Plan: hashed 6-token windows (scan-stage VARIADIC xxhash64, SCALE.md
    rule 13) -> ONE shuffle of the windows by gram, where a min/max
    window function flags every start whose gram is seen in >= 2
    distinct docs (r17: the previous shape aggregated the grams AND
    joined the windows back to the survivors — the same window set
    shuffled by the same key twice; the rule-45 interleaved A/B
    measured the window form at 0.84x median / 0.80x min with two
    fewer jobs and byte-equal output) -> flagged starts COLLECT per
    doc (tiny int lists) -> one doc_id join back to the token arrays
    -> the cut itself is pure per-doc array math in the scan stage:
    covered positions are the union of [fpos, fpos+5] ranges, kept
    positions are ``array_except(sequence(1, n), covered)`` (hash-set
    lookup, order of the left operand preserved), and the cleaned
    string re-assembles with transform + element_at.  The wide
    operations are the single gram shuffle (8-byte keys), the per-doc
    flag collect, and the doc_id join; nothing token-level ever
    shuffles.  Skew note: a boilerplate gram shared by many docs forms
    one window group, which WindowExec buffers with disk spill above
    its in-memory threshold — the adversarial identical-docs corpus is
    pinned in tests/test_dedup_adversarial.py; a corpus whose hottest
    gram outgrows one task's disk is the documented boundary (the old
    agg+join shape merely moved the same key heat to a join reducer).

    Output is order-insensitive evidence: token counts before/after and
    the md5 of the cleaned text — the oracle rebuilds the identical
    string relationally, so the hash pins the whole rewrite byte-exact.
    """
    return substring_cut(load_table(spark, sf_dir, "documents"))


def substring_cut(docs: DataFrame, W: int = 6) -> DataFrame:
    """The reusable core of ``dedup_substring_cut`` over any (doc_id,
    text) DataFrame; property-tested against a pure-Python reference in
    tests/test_text_properties.py on hypothesis-generated corpora."""
    toks = _ensure_parallel(docs).select("doc_id", _tokens().alias("t"))
    args = ",".join(f"t[i{'+' + str(j - 1) if j else '-1'}]" for j in range(W))
    # every window START (not distinct: each occurrence must be cut)
    starts = toks.where(F.size("t") >= W).select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(1, size(t)-{W - 1}), i -> xxhash64({args}))")
        ).alias("start", "gram"),
    )
    # "seen in >= 2 distinct docs" == min(doc_id) != max(doc_id), as a
    # window over the single gram shuffle: every occurrence row carries
    # its own flag, so no join back is needed (r17 — the old
    # groupBy + join shuffled the same window set by gram twice)
    wg = Window.partitionBy("gram")
    flags = (
        starts.withColumn("d0", F.min("doc_id").over(wg))
        .withColumn("d1", F.max("doc_id").over(wg))
        .where(F.col("d0") != F.col("d1"))
        .select("doc_id", F.col("start").alias("fpos"))
    )
    per_doc = flags.groupBy("doc_id").agg(F.collect_list("fpos").alias("fps"))
    # fps are 0-based posexplode indices; kept_pos below is 1-based
    # (sequence/element_at), so start s covers 1-based positions s+1..s+W
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("fps"), lambda s: F.sequence(s + F.lit(1), s + F.lit(W))
            )
        )
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("t")),
        F.coalesce(covered, F.array().cast("array<int>")),
    )
    cleaned = F.transform(kept_pos, lambda p: F.element_at(F.col("t"), p))
    return (
        toks.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.size(cleaned).alias("n_kept"),
            F.md5(F.concat_ws(" ", cleaned)).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


DEDUP_SUBSTRING_CUT_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), starts AS (
    SELECT doc_id, unnest(generate_series(1, len(t) - 5)) AS s, t
    FROM toks WHERE len(t) >= 6
), g AS (
    SELECT doc_id, s, array_to_string(array_slice(t, s, s + 5), ' ') AS gram
    FROM starts
), shared AS (
    SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
    GROUP BY gram HAVING count(*) >= 2
), flags AS (
    SELECT g.doc_id, g.s AS fpos FROM g JOIN shared USING (gram)
), tokens AS (
    SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
    FROM toks
), tok AS (
    SELECT doc_id, p, t[p] AS tok FROM tokens
), marked AS (
    SELECT k.doc_id, k.p, k.tok,
           max(f.fpos) OVER (PARTITION BY k.doc_id ORDER BY k.p
                             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS cov
    FROM tok k LEFT JOIN flags f ON f.doc_id = k.doc_id AND f.fpos = k.p
), rebuilt AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(tok, ' ' ORDER BY p) AS cleaned
    FROM marked WHERE cov IS NULL GROUP BY doc_id
)
SELECT t.doc_id, len(t.t) AS n_tokens,
       coalesce(r.n_kept, 0) AS n_kept,
       md5(coalesce(r.cleaned, '')) AS cleaned_md5
FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a (fixed-weight) logistic classifier
    over the heuristic features — the CCNet/GPT-3-style step where a
    trained scorer, not hand rules, gates documents.  The weights here
    are pinned constants (a real pipeline loads trained ones; broadcast
    a weight row and the plan is identical), which keeps the entire
    score closed-form column math: sigmoid(w·x + b) runs inside the scan
    stage, and both engines compute bit-identical doubles before the
    single rounding.

    Output: per-band document counts + mean score — the corpus-level
    acceptance profile a curation run reports.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.col("toks")
    n_tokens = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS))) / n_tokens
    alpha_ratio = (
        F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")) / F.length("text")
    )
    mean_tok = F.length("text") / n_tokens
    # pinned weights: favor stopword-bearing, alphabetic, mid-length-token
    # prose; penalize very short docs
    z = (
        F.lit(-3.0)
        + 6.0 * stop_ratio
        + 4.0 * alpha_ratio
        - 0.3 * F.abs(mean_tok - 6.0)
        + 0.01 * F.least(n_tokens.cast("double"), F.lit(100.0))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = docs.select("doc_id", "text", _tokens().alias("toks")).select(
        "doc_id", score.alias("score")
    )
    return (
        scored.groupBy(F.floor(F.col("score") * 10).cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 6).alias("mean_score"),
        )
        .orderBy("band")
    )


TEXT_QUALITY_CLASSIFIER_ORACLE = """
WITH t AS (
    SELECT doc_id, text,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
    FROM documents
), feat AS (
    SELECT doc_id,
           len(list_filter(toks, x -> x IN ('the', 'and', 'of', 'to', 'in')))
               / CAST(len(toks) AS DOUBLE) AS stop_ratio,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
           length(text) / CAST(len(toks) AS DOUBLE) AS mean_tok,
           len(toks) AS n_tokens
    FROM t
), scored AS (
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(
               -3.0 + 6.0 * stop_ratio + 4.0 * alpha_ratio
               - 0.3 * abs(mean_tok - 6.0)
               + 0.01 * least(CAST(n_tokens AS DOUBLE), 100.0)
           ))), 6) AS score
    FROM feat
)
SELECT CAST(floor(score * 10) AS INTEGER) AS band,
       count(*) AS n_docs,
       round(avg(score), 6) AS mean_score
FROM scored
GROUP BY 1
ORDER BY 1
"""


from ..functions.text import PII_EMAIL as _PII_EMAIL
from ..functions.text import PII_IP as _PII_IP
from ..functions.text import PII_PHONE as _PII_PHONE


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-redact emails, phone numbers, and IPv4
    addresses — the pre-training privacy pass every corpus gets before
    tokenization (C4 strips them; so do The Pile / RefinedWeb recipes).
    The per-SOURCE audit twin is ``plans/quality.text_pii_scrub``; this
    is the per-DOC rewrite whose md5 pins the cleaned bytes exactly.

    The synthetic fixture text is PII-free, so each doc first gains a
    DETERMINISTIC contact block derived from (doc_id, source) — one
    email, one phone, one IP whose octets are modular functions of
    doc_id — making the redaction non-degenerate while staying
    reproducible in both engines.  Counts are taken pre-redaction with
    ``regexp_count``; the rewrite chains three ``regexp_replace`` calls
    (email -> IP -> phone, an order with no cross-matches since the
    replacement tags contain no pattern characters).

    Scale shape: pure scan-stage column math — zero shuffles before the
    presentation orderBy; at 100 TB this runs at parquet-read speed with
    the regexes inside whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    annotated = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".com +1-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 13) % 256).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(annotated, _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(annotated, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
            F.regexp_count(annotated, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
            F.regexp_count(annotated, F.lit(_PII_IP)).cast("long").alias("n_ips"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


TEXT_PII_REDACT_ORACLE = """
WITH ann AS (
    SELECT doc_id,
           text || ' reach user' || CAST(doc_id AS VARCHAR)
                || '@' || source || '.com +1-555-'
                || CAST(1000 + doc_id % 9000 AS VARCHAR)
                || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(t, '\\+1-555-[0-9]{4}')) AS BIGINT)
           AS n_phones,
       CAST(len(regexp_extract_all(t,
            '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT)
           AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
            '\\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
FROM ann
ORDER BY doc_id
"""


_PARA_TOKENS = 20


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document PARAGRAPH dedup: fixed 20-token chunks, corpus-wide
    first occurrence wins, docs reassembled from their surviving chunks
    (the C4 / CCNet paragraph-hash dedup, complementary to
    ``dedup_substring_cut``: spans here are aligned blocks, removal is
    whole-chunk, and the first copy is KEPT rather than every copy cut).

    Plan (VERDICT r11 next #3 — skew-proofed): chunking is NARROW —
    ``slice`` over the token array builds each doc's chunk list without a
    posexplode shuffle.  First occurrence used to be
    ``row_number() over (partition by chunk_text)``, which funnels EVERY
    copy of a hot boilerplate chunk into one task at 100 TB; the same
    ``rn == 1`` semantics is the mergeable ``min(struct(doc_id,
    chunk_idx))`` per chunk_text (struct ordering = the window's
    (doc_id, chunk_idx) ordering), whose map-side partial aggregation
    collapses a billion-copy chunk to one row per input partition.  The
    winners table is already one-row-per-distinct-chunk, so the per-doc
    reassembly aggregates IT (not the full chunk stream), and a narrow
    per-doc stub (n_chunks is ceil(|tokens|/C) — no explode) left-joins
    the survivors back so docs whose every chunk lost still appear with
    n_kept = 0.  Every wide op is a partial-aggregable hash agg or an
    equi-join on doc_id: no single-task hot key anywhere.  At 100 TB
    you'd key the agg by a 128-bit chunk hash instead of the raw string
    to shrink the exchange; the fixture keys on the exact text so a hash
    collision can never diverge from the oracle.

    Output per doc: chunk counts before/after and the md5 of the
    reassembled text — order-pinned via the sorted struct collect, so the
    hash checks the byte-exact rewrite.
    """
    C = _PARA_TOKENS
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {C}.0) as int) - 1),"
                f" i -> array_join(slice(t, i * {C} + 1, {C}), ' '))"
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    winners = chunks.groupBy("chunk_text").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    )
    kept_per_doc = (
        winners.select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.chunk_idx").alias("chunk_idx"),
            "chunk_text",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "chunk_text"))
                        ),
                        lambda x: x["chunk_text"],
                    ),
                )
            ).alias("cleaned_md5"),
        )
    )
    per_doc = toks.select(
        "doc_id",
        F.ceil(F.size("t") / F.lit(float(C))).cast("long").alias("n_chunks"),
    )
    return (
        per_doc.join(kept_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


DEDUP_PARAGRAPHS_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
    FROM documents
), chunks AS (
    SELECT doc_id, i AS chunk_idx,
           array_to_string(array_slice(t, i * 20 + 1, i * 20 + 20), ' ')
               AS chunk_text
    FROM (SELECT doc_id, t,
                 unnest(generate_series(0,
                     CAST(ceil(len(t) / 20.0) AS INT) - 1)) AS i
          FROM toks)
), ranked AS (
    SELECT doc_id, chunk_idx, chunk_text,
           row_number() OVER (PARTITION BY chunk_text
                              ORDER BY doc_id, chunk_idx) AS rn
    FROM chunks
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                               ' ' ORDER BY chunk_idx), '')) AS cleaned_md5
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
"""


def warc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC web-ingestion lane driven end-to-end under a driver hash
    (the one LLM-pipeline family with no driver row through r9): the
    documents fixture is written as Common Crawl-framed ``.warc.gz``
    shards by the DISTRIBUTED writer (``sources/warc.py::
    write_warc_corpus`` — per-record gzip members, xxhash shard routing,
    atomic publish), read back through the engine's WARC scan
    (binaryFile + mapInPandas, one task per shard), and reduced to
    byte-exact per-document evidence (payload byte length + md5).  The
    oracle restates both over the original table, so any framing,
    compression-member, HTTP-split, or encoding defect anywhere in the
    encode->decode loop breaks the hash.
    """
    import re
    import shutil
    import tempfile

    from ..sources.warc import read_warc, write_warc_corpus

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://corpus.example/doc/"), F.col("doc_id")).alias(
            "url"
        ),
        F.encode("text", "UTF-8").alias("body"),
    )
    tmp = tempfile.mkdtemp(prefix="warc_roundtrip_")
    try:
        # the manifest is the write action: one row per shard (bounded)
        shards = write_warc_corpus(docs, tmp).count()
        assert shards >= 1
        out = (
            read_warc(spark, tmp)
            .where(
                F.col("error").isNull()
                & (F.col("warc_type") == "response")
                & (F.col("http_status") == 200)
            )
            .select(
                F.regexp_extract("url", r"/doc/(\d+)$", 1)
                .cast("long")
                .alias("doc_id"),
                F.length("payload").cast("long").alias("n_bytes"),
                F.md5("payload").alias("payload_md5"),
            )
            .localCheckpoint(eager=True)  # materialize BEFORE rmtree
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("doc_id")


WARC_INGEST_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
ORDER BY doc_id
"""


def webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WebDataset shard lane driven end-to-end under a driver hash —
    the tar-framed twin of ``warc_ingest_roundtrip``: documents are
    written as key-routed ``shard-NNNNN.tar`` files by the distributed
    writer (``sources/webdataset.py::write_webdataset`` — xxhash shard
    routing, key-sorted members, atomic publish), read back through the
    sample-pivot scan, and reduced to byte-exact per-document evidence.
    Together the two lanes put BOTH training-corpus container formats
    (WARC for raw crawl, WebDataset for packed samples) under driver
    hashes.
    """
    import shutil
    import tempfile

    from ..sources.webdataset import read_webdataset_samples, write_webdataset

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("k"),
        "text",
        F.to_json(F.struct("doc_id", "lang")).alias("meta"),
    )
    tmp = tempfile.mkdtemp(prefix="wds_roundtrip_")
    try:
        write_webdataset(
            docs, tmp, key_col="k", payload_cols={"text": "txt", "meta": "json"}
        ).count()  # the manifest is the write action (one row per shard)
        out = (
            read_webdataset_samples(spark, tmp)
            .select(
                F.col("key").cast("long").alias("doc_id"),
                F.length("txt").cast("long").alias("n_bytes"),
                F.md5("txt").alias("text_md5"),
                F.get_json_object(
                    F.decode("json", "UTF-8"), "$.lang"
                ).alias("lang"),
            )
            .localCheckpoint(eager=True)  # materialize BEFORE rmtree
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("doc_id")


WEBDATASET_ROUNDTRIP_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS text_md5,
       lang
FROM documents
ORDER BY doc_id
"""


#: decomposed-unicode suffix appended to every doc before normalizing, so
#: the lane exercises real NFC work on the (ASCII-only) fixture corpus:
#: combining acute (U+0301), ANGSTROM SIGN (U+212B -> U+00C5 under NFC),
#: combining diaeresis (U+0308).  Written as escapes so no editor or VCS
#: layer can silently re-normalize the source file.  RESTRICTION (ADVICE
#: r13, pinned): only long-assigned, normalization-STABLE code points may
#: appear here \u2014 cross-engine byte parity rides on CPython unicodedata
#: and DuckDB utf8proc agreeing, which UAX #15's stability policy
#: guarantees for assigned code points only (see
#: functions/text.py::nfc_normalize_udf's caveat).
_NFC_SUFFIX = " cafe\u0301 \u212Bngstro\u0308m"


def text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the first transform of every text
    curation pipeline (mixed-form corpora double-count shingles and
    split token statistics unless canonicalized; cf. the normalization
    step ahead of dedup in Gopher/CCNet-style cleaning).

    The fixture corpus is ASCII, so each doc is augmented with a fixed
    decomposed-unicode suffix (identical expression in the oracle) to
    make the kernel do real composition work; output pins the
    char-count contraction and the md5 of the normalized UTF-8 bytes.

    Scale shape: scan-stage only — one ArrowEvalPython kernel
    (``functions/text.nfc_normalize_udf``), zero shuffles beyond the
    presentation ``orderBy``; at 100 TB this is embarrassingly parallel
    and Arrow-batched, the same posture as the URL/HTML kernels.
    """
    from ..functions.text import nfc_normalize_udf

    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(F.col("text"), F.lit(_NFC_SUFFIX))
    normed = docs.select(
        "doc_id",
        F.length(aug).cast("long").alias("n_before"),
        nfc_normalize_udf(aug).alias("norm"),
    )
    return normed.select(
        "doc_id",
        "n_before",
        F.length("norm").cast("long").alias("n_after"),
        F.md5(F.encode("norm", "UTF-8")).alias("norm_md5"),
    ).orderBy("doc_id")


TEXT_NORMALIZE_UNICODE_ORACLE = """
WITH aug AS (
    SELECT doc_id,
           text || ' cafe' || chr(769) || ' ' || chr(8491)
                || 'ngstro' || chr(776) || 'm' AS a
    FROM documents
)
SELECT doc_id,
       CAST(length(a) AS BIGINT) AS n_before,
       CAST(length(nfc_normalize(a)) AS BIGINT) AS n_after,
       md5(nfc_normalize(a)) AS norm_md5
FROM aug
ORDER BY doc_id
"""


QUERIES = {
    "webdataset_roundtrip": webdataset_roundtrip,
    "text_normalize_unicode": text_normalize_unicode,
    "warc_ingest_roundtrip": warc_ingest_roundtrip,
    "text_pii_redact": text_pii_redact,
    "dedup_paragraphs": dedup_paragraphs,
    "text_decontaminate": text_decontaminate,
    "text_decontaminate_purge": text_decontaminate_purge,
    "text_decontaminate_purge_external": text_decontaminate_purge_external,
    "dedup_repeated_ngrams": dedup_repeated_ngrams,
    "dedup_substring_cut": dedup_substring_cut,
    "text_quality_classifier": text_quality_classifier,
    "text_repetition": text_repetition,
    "text_perplexity": text_perplexity,
    "text_token_count": text_token_count,
    "text_bm25_topk": text_bm25_topk,
    "text_chunk_udtf": text_chunk_udtf,
    "text_bigram_lm": text_bigram_lm,
    "text_word_topk": text_word_topk,
    "text_token_count_bpe": text_token_count_bpe,
    "text_tfidf_topk": text_tfidf_topk,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_lsh_bucket_stats": dedup_lsh_bucket_stats,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_incremental_minhash_manifest": dedup_incremental_minhash_manifest_query,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
}

ORACLES = {
    "webdataset_roundtrip": WEBDATASET_ROUNDTRIP_ORACLE,
    "text_normalize_unicode": TEXT_NORMALIZE_UNICODE_ORACLE,
    "warc_ingest_roundtrip": WARC_INGEST_ORACLE,
    "text_pii_redact": TEXT_PII_REDACT_ORACLE,
    "dedup_paragraphs": DEDUP_PARAGRAPHS_ORACLE,
    "text_decontaminate": TEXT_DECONTAMINATE_ORACLE,
    "text_decontaminate_purge": TEXT_DECONTAMINATE_PURGE_ORACLE,
    "text_decontaminate_purge_external": TEXT_DECONTAMINATE_PURGE_EXTERNAL_ORACLE,
    "dedup_repeated_ngrams": DEDUP_REPEATED_NGRAMS_ORACLE,
    "dedup_substring_cut": DEDUP_SUBSTRING_CUT_ORACLE,
    "text_quality_classifier": TEXT_QUALITY_CLASSIFIER_ORACLE,
    "text_repetition": TEXT_REPETITION_ORACLE,
    "text_perplexity": TEXT_PERPLEXITY_ORACLE,
    "text_token_count": TEXT_TOKEN_COUNT_ORACLE,
    "text_bm25_topk": TEXT_BM25_ORACLE,
    "text_chunk_udtf": TEXT_CHUNK_ORACLE,
    "text_bigram_lm": TEXT_BIGRAM_ORACLE,
    "text_word_topk": TEXT_WORD_TOPK_ORACLE,
    "text_token_count_bpe": TEXT_TOKEN_COUNT_BPE_ORACLE,
    "text_tfidf_topk": TEXT_TFIDF_ORACLE,
    "text_quality": TEXT_QUALITY_ORACLE,
    "text_langid": TEXT_LANGID_ORACLE,
    "text_fingerprint": TEXT_FINGERPRINT_ORACLE,
    "text_winnow_fingerprint": TEXT_WINNOW_ORACLE,
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_minhash_lsh": DEDUP_MINHASH_ORACLE,
    "dedup_lsh_bucket_stats": DEDUP_LSH_BUCKET_STATS_ORACLE,
    "dedup_incremental_minhash": DEDUP_INCREMENTAL_ORACLE,
    "dedup_incremental_minhash_manifest": DEDUP_INCREMENTAL_ORACLE,
    "dedup_ngram_jaccard": DEDUP_NGRAM_ORACLE,
    "dedup_simhash": DEDUP_SIMHASH_ORACLE,
}
