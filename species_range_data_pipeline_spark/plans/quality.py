"""Data-engineering operators: deterministic sampling, profiling, and
data-quality constraint checks.

The reference silently swallows worker failures (``species_range_etl.py:
254-255`` never iterates executor.map results) and trusts its inputs; a
100 TB pipeline needs the opposite: declared, queryable checks.  All three
operators here are single-pass plans expressed with stock aggregates, so
Catalyst keeps them map-side-partial and the only shuffle is the final
(tiny) aggregate.

Determinism: sampling uses xxhash64 buckets, not RNG — the same row always
lands in the same split in any engine, on any cluster size, at any
parallelism (seeded ``sample()`` would be engine- and partitioning-
dependent, which can't be oracle-checked and silently reshuffles across
cluster resizes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates via hash buckets.

    Keeps ~50% of 'view' events, ~20% of 'click', ~100% of 'error', ~10%
    of everything else — the standard class-rebalancing shape for training
    data.  xxhash64(event_id) mod 100 < rate is stable and portable; the
    DuckDB oracle uses the same arithmetic on event_id directly (hash
    functions differ across engines, so the oracle buckets on
    ``event_id % 100`` and Spark mirrors it — the *operator* is the bucket
    rule, not the hash choice; swap in xxhash64 for skewed id spaces).
    """
    events = load_table(spark, sf_dir, "events")
    bucket = (F.col("event_id") % 100).cast("int")
    rate = (
        F.when(F.col("event_type") == "view", 50)
        .when(F.col("event_type") == "click", 20)
        .when(F.col("event_type") == "error", 100)
        .otherwise(10)
    )
    return (
        events.where(bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sampled_value"),
        )
        .orderBy("event_type")
    )


SAMPLE_STRATIFIED_ORACLE = """
SELECT event_type,
       count(*) AS n_sampled,
       round(sum(value), 2) AS sampled_value
FROM events
WHERE CAST(event_id % 100 AS INT) <
      CASE event_type WHEN 'view' THEN 50 WHEN 'click' THEN 20
                      WHEN 'error' THEN 100 ELSE 10 END
GROUP BY event_type
ORDER BY event_type
"""


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling: null count, distinct count, min/max
    per column, unpivoted to one row per column.

    All statistics compute in ONE aggregate over one scan (count_if +
    approx-free countDistinct per column), then a literal unpivot reshapes
    to the profile table — the shape a catalog/quality service ingests.
    """
    orders = load_table(spark, sf_dir, "orders")
    prof = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("count_if(o_orderstatus IS NULL)").cast("long").alias("null_status"),
        F.countDistinct("o_orderstatus").alias("dist_status"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
        F.expr("count_if(o_orderpriority IS NULL)").cast("long").alias("null_prio"),
        F.countDistinct("o_orderpriority").alias("dist_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
        F.expr("count_if(o_totalprice IS NULL)").cast("long").alias("null_price"),
        F.countDistinct("o_totalprice").alias("dist_price"),
        # via DECIMAL, not double->string: Java renders doubles >= 1e7 in
        # scientific notation ('1.2345678E7') while DuckDB prints plain
        # digits — decimal-to-string is format-identical in both engines
        # at any magnitude (and pins two decimal places)
        F.round(F.min("o_totalprice"), 2)
        .cast("decimal(18,2)")
        .cast("string")
        .alias("min_price"),
        F.round(F.max("o_totalprice"), 2)
        .cast("decimal(18,2)")
        .cast("string")
        .alias("max_price"),
    )
    return (
        prof.select(
            "n_rows",
            F.expr(
                """stack(3,
                   'o_orderstatus', null_status, dist_status, min_status, max_status,
                   'o_orderpriority', null_prio, dist_prio, min_prio, max_prio,
                   'o_totalprice', null_price, dist_price, min_price, max_price)
                   AS (column_name, n_nulls, n_distinct, min_value, max_value)"""
            ),
        )
        .select("column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")
        .orderBy("column_name")
    )


PROFILE_ORDERS_ORACLE = """
WITH prof AS (
    SELECT count(*) AS n_rows,
           CAST(count_if(o_orderstatus IS NULL) AS BIGINT) AS null_status,
           count(DISTINCT o_orderstatus) AS dist_status,
           min(o_orderstatus) AS min_status,
           max(o_orderstatus) AS max_status,
           CAST(count_if(o_orderpriority IS NULL) AS BIGINT) AS null_prio,
           count(DISTINCT o_orderpriority) AS dist_prio,
           min(o_orderpriority) AS min_prio,
           max(o_orderpriority) AS max_prio,
           CAST(count_if(o_totalprice IS NULL) AS BIGINT) AS null_price,
           count(DISTINCT o_totalprice) AS dist_price,
           CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
               AS min_price,
           CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
               AS max_price
    FROM orders
)
SELECT c.column_name,
       n_rows,
       CASE c.column_name WHEN 'o_orderstatus' THEN null_status
            WHEN 'o_orderpriority' THEN null_prio ELSE null_price
       END AS n_nulls,
       CASE c.column_name WHEN 'o_orderstatus' THEN dist_status
            WHEN 'o_orderpriority' THEN dist_prio ELSE dist_price
       END AS n_distinct,
       CASE c.column_name WHEN 'o_orderstatus' THEN min_status
            WHEN 'o_orderpriority' THEN min_prio ELSE min_price
       END AS min_value,
       CASE c.column_name WHEN 'o_orderstatus' THEN max_status
            WHEN 'o_orderpriority' THEN max_prio ELSE max_price
       END AS max_value
FROM prof
CROSS JOIN (VALUES
    ('o_orderstatus'), ('o_orderpriority'), ('o_totalprice')) AS c(column_name)
ORDER BY column_name
"""


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation as a queryable result: one row per rule.

    Rules: (1) referential integrity — lineitems whose order key has no
    parent order (anti join); (2) primary-key uniqueness — duplicated
    (orderkey, linenumber) pairs; (3) domain — negative or zero quantities;
    (4) nullability — null ship dates.

    r18 (guide §1.2/§2.4): all four rules now ride ONE lineitem scan,
    ONE orderkey exchange, and ONE final rollup (previously three scans
    + two wide exchanges — the anti-join leg, the PK groupBy leg, and
    the fused scalar leg from r9 were separate lineages).  The explicit
    orderkey repartition satisfies both the (orderkey, linenumber)
    groupBy — orderkey is a prefix of its keys — and the orphan check's
    join clustering; the orphan rule becomes a null-parent flag from a
    left join against the DISTINCT order keys (duplicate-parent-safe,
    like the anti join; a null orderkey never equi-matches, so
    dirty-key rows still count as orphans), and every rule folds into
    one conditional rollup unpivoted with stack().
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        lineitem.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("l_quantity") <= 0).alias("bad_qty"),
            F.count_if(F.col("l_shipdate").isNull()).alias("bad_ship"),
        )
    )
    okeys = orders.select("o_orderkey").distinct()
    return (
        pairs.join(okeys, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("o_orderkey").isNull(), F.col("n"))),
                F.lit(0),
            ).cast("long").alias("fk_lineitem_orders"),
            F.count_if(F.col("n") > 1).alias("pk_unique_lineitem"),
            F.coalesce(F.sum("bad_qty"), F.lit(0))
            .cast("long").alias("qty_positive"),
            F.coalesce(F.sum("bad_ship"), F.lit(0))
            .cast("long").alias("shipdate_not_null"),
        )
        .selectExpr(
            "stack(4, 'fk_lineitem_orders', fk_lineitem_orders,"
            " 'pk_unique_lineitem', pk_unique_lineitem,"
            " 'qty_positive', qty_positive,"
            " 'shipdate_not_null', shipdate_not_null) AS (rule, violations)"
        )
        .orderBy("rule")
    )


DQ_CHECKS_ORACLE = """
SELECT 'fk_lineitem_orders' AS rule,
       -- NOT EXISTS, not NOT IN: anti-join semantics (the Spark side)
       -- count NULL-key rows as orphans, while NOT IN evaluates to NULL
       -- against any key set and counts 0 — a DQ checker must agree on
       -- dirty data, which is exactly when keys go NULL
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS violations
UNION ALL
SELECT 'pk_unique_lineitem',
       (SELECT count(*) FROM (SELECT 1 FROM lineitem
                              GROUP BY l_orderkey, l_linenumber
                              HAVING count(*) > 1))
UNION ALL
SELECT 'qty_positive',
       (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
UNION ALL
SELECT 'shipdate_not_null',
       (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
ORDER BY rule
"""


def dq_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier detection per group: Tukey fences from exact quartiles.

    Two-phase shape: a per-type quartile aggregate (tiny output, broadcast)
    joined back onto the fact scan, then a conditional count.  Fence
    multiplier k=1.0 (a parameter; Tukey's 1.5 flags nothing on the
    fixtures' light-tailed values).  The fences are rounded to 4 decimals
    BEFORE the comparison in both engines so the boundary predicate is
    identical; `percentile` (Spark) and `quantile_cont` (DuckDB) share
    linear interpolation.  At 100 TB swap the exact percentile for
    approx_percentile (t-digest) — the plan shape (agg → broadcast
    back-join → filter) is unchanged.

    r18 note: a one-pass window-percentile form (quartiles OVER
    (PARTITION BY event_type), fences and rollup in the same pass) was
    built, measured 2.09× the two-phase shape in an interleaved A/B
    (WindowExec buffers the whole partition per row batch; the saved
    scan is cheaper), and reverted — guide §1.1's empirical loop.
    """
    events = load_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.75))")
    fences = (
        events.groupBy(F.col("event_type").alias("g"))
        .agg(
            F.element_at(pct, 1).alias("q1"),
            F.element_at(pct, 2).alias("q3"),
        )
        .select(
            "g",
            F.round(F.col("q1") - 1.0 * (F.col("q3") - F.col("q1")), 4).alias("lo"),
            F.round(F.col("q3") + 1.0 * (F.col("q3") - F.col("q1")), 4).alias("hi"),
        )
    )
    return (
        events.join(F.broadcast(fences), F.col("event_type") == F.col("g"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
                ).cast("long")
            ).alias("n_outliers"),
            F.round(F.first("lo"), 4).alias("fence_lo"),
            F.round(F.first("hi"), 4).alias("fence_hi"),
        )
        .orderBy("event_type")
    )


DQ_OUTLIERS_ORACLE = """
WITH fences AS (
    SELECT event_type AS g,
           round(quantile_cont(value, 0.25)
                 - 1.0 * (quantile_cont(value, 0.75)
                          - quantile_cont(value, 0.25)), 4) AS lo,
           round(quantile_cont(value, 0.75)
                 + 1.0 * (quantile_cont(value, 0.75)
                          - quantile_cont(value, 0.25)), 4) AS hi
    FROM events GROUP BY 1)
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(value < lo OR value > hi AS BIGINT)) AS BIGINT)
           AS n_outliers,
       round(any_value(lo), 4) AS fence_lo,
       round(any_value(hi), 4) AS fence_hi
FROM events JOIN fences ON event_type = g
GROUP BY 1
ORDER BY event_type
"""


def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-class downsampling: every event_type keeps exactly
    min-class-size rows, chosen by a deterministic hash rank — the
    class-rebalancing step before training on skewed labels.

    Determinism discipline (same as `sample_stratified`): the rank key is
    md5(event_id) — identical bytes in both engines — so the SELECTED SET
    is engine-reproducible, not just its size; the oracle checks an id-sum
    checksum of the actual selection.  Plan: one count aggregate (tiny,
    broadcast), one rank window per class, one filter — the window is the
    only fact-table shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    sizes = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    k = sizes.agg(F.min("n").alias("k"))
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = events.withColumn("rn", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(k))
        .where(F.col("rn") <= F.col("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("event_id").alias("id_checksum"),
        )
        .orderBy("event_type")
    )


SAMPLE_BALANCED_ORACLE = """
WITH k AS (
    SELECT min(n) AS k FROM (
        SELECT event_type, count(*) AS n FROM events GROUP BY 1)
), ranked AS (
    SELECT event_type, event_id,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
               AS rn
    FROM events
)
SELECT event_type,
       count(*) AS n_kept,
       CAST(sum(event_id) AS BIGINT) AS id_checksum
FROM ranked, k
WHERE rn <= k.k
GROUP BY event_type
ORDER BY event_type
"""


def _quality_rules():
    """The four funnel rules as (stage_name, FAILS_predicate) pairs, in
    first-reject order — the single source of truth
    ``doc_quality_funnel``'s stage attribution AND
    ``quality_pass_condition``'s conjunction are both built from, so a
    threshold tweak is one edit (r9; previously the funnel re-declared
    its own copies of every threshold).

    Whitespace classes are spelled as RE2's ``\\s`` set ``[ \\t\\n\\f\\r]``
    explicitly: Java's ``\\s`` additionally matches vertical tab
    ``\\x0B``, so a bare ``\\s`` here would count characters differently
    from the DuckDB oracles on hostile text (the file's Java∩RE2 regex
    discipline)."""
    from .text import _tokens

    nonspace = F.length(F.regexp_replace("text", r"[ \t\n\f\r]", ""))
    symbols = F.length(F.regexp_replace("text", r"[A-Za-z0-9 \t\n\f\r]", ""))
    digits = F.length(F.regexp_replace("text", r"[^0-9]", ""))
    mean_tok = nonspace / F.size(_tokens()).cast("long")
    return [
        ("s1_length", ~F.col("n_chars").between(100, 20000)),
        ("s2_symbols", symbols * 10 > nonspace),
        ("s3_digits", digits * 5 > nonspace),
        ("s4_word_len", (mean_tok < 2.0) | (mean_tok > 14.0)),
    ]


def quality_pass_condition():
    """The ``doc_quality_funnel`` acceptance predicate as ONE boolean
    Column — the single source of truth shared by the funnel, the batch
    capstone (``packing.corpus_pipeline_summary``) and the streaming
    ingest (``streaming/corpus.py``); a threshold tweak in
    ``_quality_rules`` changes all three together (their equivalence is
    test-pinned)."""
    cond = F.lit(True)
    for _, fails in _quality_rules():
        cond = cond & ~fails
    return cond


def normalized_fingerprint():
    """Case-folded, whitespace-collapsed md5 — the exact-dedup key shared
    by ``dedup_keep_best``, the capstone, and the streaming ingest.
    Explicit RE2 whitespace class (see ``_quality_rules``)."""
    return F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"[ \t\n\f\r]+", " ")))
    )


def doc_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-filter cascade with per-stage attrition.

    Every document is attributed to the FIRST stage that rejects it (or
    'pass'), giving the funnel view a corpus-cleaning pipeline needs to
    tune thresholds: how many docs each rule costs, not just the final
    keep rate.  Stages (all exact integer/char arithmetic, so the DuckDB
    oracle mirrors them verbatim):

      s1_length     — 100 <= n_chars <= 20000
      s2_symbols    — non-alphanumeric, non-space chars <= 10% of
                      non-space chars (CJK text fails here by design:
                      these are the ASCII-centric web-cleaning rules)
      s3_digits     — digits <= 20% of non-space chars
      s4_word_len   — mean token length in [2, 14]

    One scan, one tiny group-by: the per-doc predicates are all JVM
    string expressions.
    """
    docs = load_table(spark, sf_dir, "documents")
    rules = _quality_rules()
    stage = F.when(rules[0][1], rules[0][0])
    for name, fails in rules[1:]:
        stage = stage.when(fails, name)
    stage = stage.otherwise("pass")
    return (
        docs.select(stage.alias("stage"), "n_chars")
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("stage")
    )


DOC_QUALITY_FUNNEL_ORACLE = """
WITH scored AS (
    SELECT n_chars,
           length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS symbols,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
           len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
               AS n_tokens
    FROM documents
), staged AS (
    SELECT n_chars,
           CASE
             WHEN n_chars NOT BETWEEN 100 AND 20000 THEN 's1_length'
             WHEN symbols * 10 > nonspace THEN 's2_symbols'
             WHEN digits * 5 > nonspace THEN 's3_digits'
             WHEN nonspace * 1.0 / n_tokens < 2.0
                  OR nonspace * 1.0 / n_tokens > 14.0 THEN 's4_word_len'
             ELSE 'pass'
           END AS stage
    FROM scored
)
SELECT stage, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
FROM staged
GROUP BY stage
ORDER BY stage
"""


def _keep_best_winner() -> Column:
    """Mergeable argmin struct realizing (n_chars DESC NULLS LAST,
    doc_id ASC) — see ``dedup_keep_best``'s docstring for why the
    negation is long-space and NULL-coalesced.  Exposed for the
    null-semantics unit test (ADVICE r12)."""
    return F.min(
        F.struct(
            (
                -F.coalesce(F.col("n_chars").cast("long"), F.lit(-(2**62)))
            ).alias("neg_chars"),
            F.col("doc_id").alias("doc_id"),
            F.col("lang").alias("lang"),
        )
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup under normalization, keeping the BEST representative.

    The corpus is unioned with a deterministic mutated twin of itself
    (upper-cased, whitespace-inflated, re-keyed, with ``n_chars``
    recomputed to match its 2-char-longer text — r9: copying the
    original ``n_chars`` broke the corpus invariant and let every
    original/twin pair tie straight into the doc_id tie-break, so the
    longest-wins rule was never exercised) so the collapse is observable
    on fixture data; the fingerprint is ``normalized_fingerprint()``
    (md5 of the case-folded, whitespace-collapsed text), and within a
    fingerprint the longest text wins (ties -> lowest doc_id) — the
    keep-best rule real cleaning pipelines use instead of "arbitrary
    survivor".  Scale shape (r12 skew-proofing, the dedup_paragraphs
    discipline): the winner is ONE mergeable
    ``min(struct(-coalesce(n_chars::long, -2^62), doc_id, lang))`` per
    fingerprint — struct ordering realizes (n_chars DESC NULLS LAST,
    doc_id ASC) with the negation in long space (int negation overflows
    at INT_MIN) and NULL n_chars coalesced to the sort-last sentinel
    (a bare ``-n_chars`` would make NULL sort FIRST and win, inverting
    the window semantics — ADVICE r12), doc_id uniqueness makes
    trailing fields argmin-safe — so a million-copy boilerplate
    fingerprint collapses map-side instead of funneling into the single
    task a ``row_number`` window would give it.  One hash shuffle on the
    fingerprint; the twin construction is a narrow map.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    twin = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        "lang",
        (F.col("n_chars") + 2).alias("n_chars"),
    )
    both = docs.unionByName(twin)
    fp = normalized_fingerprint()
    kept = (
        both.withColumn("fp", fp)
        .groupBy("fp")
        .agg(_keep_best_winner().alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.lang").alias("lang"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


DEDUP_KEEP_BEST_ORACLE = """
WITH both_docs AS (
    SELECT doc_id, text, lang, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000, upper(text) || '  ', lang, n_chars + 2
    FROM documents
), ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM both_docs
)
SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM ranked
WHERE rn = 1
GROUP BY lang
ORDER BY lang
"""


#: PII patterns restricted to the regex intersection of Java (Spark) and
#: RE2 (DuckDB): character classes, bounded repeats, \b — no lookarounds.
from ..functions.text import PII_EMAIL as _PII_EMAIL
from ..functions.text import PII_IP as _PII_IP


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting, per source.

    Every document gets a deterministic synthetic contact footer (the
    fixture corpus carries no PII, so the operator's work must be
    observable), then emails and IPv4 addresses are counted and redacted
    and the per-source accounting reported — the scrub-then-audit shape a
    compliance pass needs.  One scan; the regex work is JVM-side
    (`regexp_count`/`regexp_replace`), patterns chosen from the
    Java∩RE2 dialect so the oracle runs them verbatim.
    """
    docs = load_table(spark, sf_dir, "documents")
    footer = F.concat(
        F.lit(" reach user"),
        F.col("doc_id"),
        F.lit("@example.com at 192.168."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".42"),
    )
    t = docs.select("source", F.concat("text", footer).alias("t2"))
    redacted = F.regexp_replace(
        F.regexp_replace("t2", F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )
    return (
        t.select(
            "source",
            F.regexp_count("t2", F.lit(_PII_EMAIL)).alias("emails"),
            F.regexp_count("t2", F.lit(_PII_IP)).alias("ips"),
            (F.length("t2") - F.length(redacted)).alias("removed"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("emails").alias("n_emails"),
            F.sum("ips").alias("n_ips"),
            F.sum("removed").alias("chars_removed"),
        )
        .orderBy("source")
    )


TEXT_PII_SCRUB_ORACLE = """
WITH t AS (
    SELECT source,
           text || ' reach user' || doc_id || '@example.com at 192.168.'
                || CAST(doc_id % 256 AS VARCHAR) || '.42' AS t2
    FROM documents
), scored AS (
    SELECT source,
           len(regexp_extract_all(t2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS emails,
           len(regexp_extract_all(t2,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS ips,
           length(t2) - length(
               regexp_replace(
                   regexp_replace(t2,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '<IP>', 'g')) AS removed
    FROM t
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(emails) AS BIGINT) AS n_emails,
       CAST(sum(ips) AS BIGINT) AS n_ips,
       CAST(sum(removed) AS BIGINT) AS chars_removed
FROM scored
GROUP BY source
ORDER BY source
"""


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document, aggregated per language — the
    entropy proxy web-scale cleaning uses to flag boilerplate/templated
    text (highly repetitive -> ratio near 0) and binary-ish junk (ratio
    near or above 1).

    The kernel is stdlib ``zlib`` inside ``mapInPandas`` (Arrow-batched;
    ratio math is per-row C code), which SQL cannot express — but zlib
    level 6 is bit-deterministic for a given input, so the per-language
    rollup is a pure function of the corpus and carries a scale-keyed
    VALUES oracle (pinned scales: 500 + 5000 docs = sf0.01 + sf0.1; an
    unpinned scale yields zero oracle rows -> loud row-count mismatch,
    guarded by test_registry.py's pinned-scale check).  Invariants are
    additionally pinned in ``test_quality_signals.py``.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")

    def fn(batches):
        import zlib

        for pdf in batches:
            # NULL text propagates as a NULL ratio (one dirty row must
            # not kill the job; the rollup's avg/min/max skip NULLs the
            # same way both engines do)
            enc = [
                None if t is None else t.encode("utf-8")
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "lang": pdf["lang"],
                    "ratio": [
                        None
                        if b is None
                        else round(
                            len(zlib.compress(b, 6)) / max(1, len(b)), 6
                        )
                        for b in enc
                    ],
                }
            )

    per_doc = docs.mapInPandas(fn, "lang string, ratio double")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("avg_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
        )
        .orderBy("lang")
    )


# zlib-level-6 output is deterministic per input bytes, so the rollup is
# pinnable.  Scale-keyed VALUES (see subtitle_cue_stats for the trick):
# rows exist only for the documents-table cardinalities 500 (sf0.01) and
# 5000 (sf0.1); other scales fail loudly with a row-count mismatch.
TEXT_COMPRESSION_RATIO_ORACLE = """
SELECT lang, n_docs, avg_ratio, min_ratio, max_ratio FROM (VALUES
    (500,  'de', CAST(70 AS BIGINT),   CAST(0.5622 AS DOUBLE), CAST(0.3981 AS DOUBLE), CAST(1.0175 AS DOUBLE)),
    (500,  'en', CAST(218 AS BIGINT),  CAST(0.5593 AS DOUBLE), CAST(0.3981 AS DOUBLE), CAST(1.0185 AS DOUBLE)),
    (500,  'es', CAST(73 AS BIGINT),   CAST(0.5526 AS DOUBLE), CAST(0.4028 AS DOUBLE), CAST(0.9683 AS DOUBLE)),
    (500,  'fr', CAST(64 AS BIGINT),   CAST(0.5398 AS DOUBLE), CAST(0.4071 AS DOUBLE), CAST(0.9275 AS DOUBLE)),
    (500,  'zh', CAST(75 AS BIGINT),   CAST(0.5477 AS DOUBLE), CAST(0.4024 AS DOUBLE), CAST(0.9683 AS DOUBLE)),
    (5000, 'de', CAST(702 AS BIGINT),  CAST(0.5553 AS DOUBLE), CAST(0.4031 AS DOUBLE), CAST(1.08 AS DOUBLE)),
    (5000, 'en', CAST(2059 AS BIGINT), CAST(0.5583 AS DOUBLE), CAST(0.3959 AS DOUBLE), CAST(1.125 AS DOUBLE)),
    (5000, 'es', CAST(744 AS BIGINT),  CAST(0.556 AS DOUBLE),  CAST(0.3817 AS DOUBLE), CAST(1.0517 AS DOUBLE)),
    (5000, 'fr', CAST(742 AS BIGINT),  CAST(0.5546 AS DOUBLE), CAST(0.3898 AS DOUBLE), CAST(1.0377 AS DOUBLE)),
    (5000, 'zh', CAST(753 AS BIGINT),  CAST(0.5742 AS DOUBLE), CAST(0.3915 AS DOUBLE), CAST(1.087 AS DOUBLE))
) AS t(n_total, lang, n_docs, avg_ratio, min_ratio, max_ratio)
WHERE n_total = (SELECT count(*) FROM documents)
ORDER BY lang
"""


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep each document with
    probability equal to its quality weight, decided by a HASH, not rand().

    The curriculum/quality-mixing primitive: weight w = min(1, n_chars /
    2000) (longer docs up-weighted to a cap), uniform u = first 32 md5
    bits of the doc id as a fraction, keep iff u < w.  Hash-derived
    uniforms make the sample a pure function of the corpus — reproducible
    across runs, engines, and cluster sizes, composable with every other
    hash-bucket decision (same doc always draws the same u), and it
    executes as one pushed-down filter: no shuffle, no state, no rand()
    seed coordination across 1000 executors.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") / F.lit(4294967296.0)
    )
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(2000.0))
    return (
        docs.where(u < w)
        .select("doc_id", "lang", "n_chars", F.round(w, 6).alias("keep_weight"))
        .orderBy("doc_id")
    )


SAMPLE_WEIGHTED_ORACLE = """
SELECT doc_id, lang, n_chars,
       round(least(1.0, n_chars / 2000.0), 6) AS keep_weight
FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
      / 4294967296.0
      < least(1.0, n_chars / 2000.0)
ORDER BY doc_id
"""


def curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained corpus selection: per language, keep the
    highest-quality documents (longest first) until a token budget — 40%
    of that language's total tokens — is exhausted.

    The final curation step of an LLM data pipeline: the training mix
    prescribes N tokens per language, not N documents, so selection is a
    running token sum over a quality ordering, cut at the budget.  The
    reference has no analogue (it ships everything it scrapes,
    ``species_range_etl.py:146-199``); at 100 TB shipping everything is
    the bug this operator fixes.

    Plan shape: ONE exchange.  Both windows — the running token sum and
    the per-language total that derives the budget — and the final
    groupBy share ``HashPartitioning(lang)``, so Catalyst plans a single
    shuffle followed by in-partition sort + aggregation.  Determinism:
    the quality ordering ties on doc_id, so the SELECTED SET (proven by
    an id-sum checksum, same discipline as ``sample_balanced_classes``)
    is engine- and parallelism-independent.  At 100 TB the per-stratum
    sort is the cost; the scale path is a two-pass variant — sketch the
    score CDF (``plans/stats.py``'s bottom-k), cut at the score quantile
    whose cumulative tokens ≈ budget, then one filter — same contract,
    no full sort.
    """
    from .text import _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "n_chars", F.size(_tokens()).cast("long").alias("ntok")
    )
    order = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    everything = Window.partitionBy("lang")
    flagged = toks.select(
        "doc_id",
        "lang",
        "ntok",
        F.sum("ntok").over(running).alias("cum_tok"),
        F.floor(F.sum("ntok").over(everything) * 0.4).alias("budget_tokens"),
    )
    kept = F.col("cum_tok") <= F.col("budget_tokens")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.max("budget_tokens").alias("budget_tokens"),
            F.sum(F.when(kept, F.col("ntok")).otherwise(F.lit(0))).alias(
                "tokens_used"
            ),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(F.lit(0))).alias(
                "id_checksum"
            ),
        )
        .orderBy("lang")
    )


CURATION_TOKEN_BUDGET_ORACLE = """
WITH toks AS (
    SELECT doc_id, lang, n_chars,
           CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                                 ' ')) AS BIGINT) AS ntok
    FROM documents
), flagged AS (
    SELECT doc_id, lang, ntok,
           sum(ntok) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tok,
           CAST(floor(sum(ntok) OVER (PARTITION BY lang) * 0.4) AS BIGINT)
               AS budget_tokens
    FROM toks
)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN cum_tok <= budget_tokens THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       max(budget_tokens) AS budget_tokens,
       CAST(sum(CASE WHEN cum_tok <= budget_tokens THEN ntok ELSE 0 END)
            AS BIGINT) AS tokens_used,
       CAST(sum(CASE WHEN cum_tok <= budget_tokens THEN doc_id ELSE 0 END)
            AS BIGINT) AS id_checksum
FROM flagged
GROUP BY lang
ORDER BY lang
"""


_DOMAIN_CAP = 8


def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most 8 documents per source, chosen
    by deterministic hash rank, and report how much each domain overflowed.

    The crawl-curation staple (CCNet/Gopher-style): without per-domain
    caps a handful of giant hosts dominate the corpus.  Distinct from
    ``sample_balanced_classes`` (equalize every class to the min) — a cap
    leaves small domains whole and truncates only the heavy ones, and the
    per-domain overflow ratio is itself the curation report.

    Plan: one rank window partitioned by source (the only fact exchange),
    then the groupBy reuses the window's HashPartitioning(source) — no
    second shuffle.  The hash rank (md5 of doc_id) makes the kept set a
    pure function of the corpus, reproducible at any parallelism.  At
    scale the full sort-per-domain is avoidable: cap-by-hash-threshold
    (keep iff hash < cap/domain_count quantile) needs only a domain-count
    broadcast — same contract, no sort; the rank form here is the exact
    fixed-k variant.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= _DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.round(
                F.sum(kept.cast("long")) / F.count(F.lit(1)), 4
            ).alias("pct_kept"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(F.lit(0))).alias(
                "id_checksum"
            ),
        )
        .orderBy("source")
    )


CURATION_DOMAIN_CAP_ORACLE = f"""
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
    FROM documents
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       round(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS pct_kept,
       CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN doc_id ELSE 0 END) AS BIGINT)
           AS id_checksum
FROM ranked
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "sample_balanced_classes": sample_balanced_classes,
    "sample_stratified": sample_stratified,
    "sample_weighted": sample_weighted,
    "profile_orders": profile_orders,
    "dq_checks": dq_checks,
    "dq_outliers_iqr": dq_outliers_iqr,
    "doc_quality_funnel": doc_quality_funnel,
    "dedup_keep_best": dedup_keep_best,
    "text_pii_scrub": text_pii_scrub,
    "text_compression_ratio": text_compression_ratio,
    "curation_token_budget": curation_token_budget,
    "curation_domain_cap": curation_domain_cap,
}

ORACLES = {
    "curation_token_budget": CURATION_TOKEN_BUDGET_ORACLE,
    "curation_domain_cap": CURATION_DOMAIN_CAP_ORACLE,
    "sample_weighted": SAMPLE_WEIGHTED_ORACLE,
    "sample_balanced_classes": SAMPLE_BALANCED_ORACLE,
    "sample_stratified": SAMPLE_STRATIFIED_ORACLE,
    "profile_orders": PROFILE_ORDERS_ORACLE,
    "dq_checks": DQ_CHECKS_ORACLE,
    "dq_outliers_iqr": DQ_OUTLIERS_ORACLE,
    "doc_quality_funnel": DOC_QUALITY_FUNNEL_ORACLE,
    "dedup_keep_best": DEDUP_KEEP_BEST_ORACLE,
    "text_pii_scrub": TEXT_PII_SCRUB_ORACLE,
    "text_compression_ratio": TEXT_COMPRESSION_RATIO_ORACLE,
}
