"""Hybrid retrieval: lexical BM25 + embedding cosine fused with
reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09).

The retrieval shape a training-data pipeline runs for hard-negative
mining and dataset curation: rank the corpus lexically (sparse) and
semantically (dense), then fuse ``sum(1 / (k + rank))`` so neither
scorer's scale dominates.  The fixture's ``embeddings.vec_id`` is the
document key, so the fusion join is a plain equi-join.

Scale shape: the BM25 side's only wide exchange is the (doc, term)
groupBy (term-filtered BEFORE the explode shuffles, same as
``text_bm25_topk``); the semantic side is one scan scored against a
broadcast single query vector; both rank windows are global but over
score-pruned inputs, and the fusion join is doc-keyed.  Float parity:
ranks are exact integers, the fused score is a two-term double sum
rounded at the end — bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize_once
from ..functions.vectors import as_double, cosine
from .text import _BM25_B, _BM25_K1, _BM25_TERMS, _tokens
from .vectors import _DIM as _EMB_DIM

_RRF_K = 60
_TOPN = 10
_QUERY_VEC_ID = 0


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by RRF over (BM25 rank, cosine-to-query rank).

    The dense query is the corpus's own ``vec_id = 0`` embedding (a
    deterministic stand-in for an encoded user query).  Documents absent
    from one ranking contribute only the other term — the standard RRF
    treatment of partial lists.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # lexical: BM25 in integer micro-units (order-stable), ranked.
    # Tokenize ONCE per scan and carry dl THROUGH the explode as a
    # grouping key (functionally dependent on doc_id): the r8-r10 shape
    # tokenized the corpus three times (stats agg, explode, and a dl
    # join-back by doc_id) and paid a shuffle join to reattach dl — the
    # r11 interleaved A/B measured that shape at 1.7x the
    # q3_shipping_priority control vs its 1.31x capture band, and the
    # tokenize+join elimination is the plan-side term (SCALE.md rule 45).
    #
    # r18 (guide §2.4/§1.2): tokenize-once needs the SUBTREE shared, not
    # just the DataFrame — with_dl fed stats, tf, and (via tf) dfreq as
    # three separate lineages, so the r17 plan still scanned+tokenized
    # the corpus three times.  with_dl is now materialized once (lazy
    # localCheckpoint; (doc_id, dl, 5-term-filtered terms) is far
    # smaller than the corpus text).
    #
    # r19 (guide §2.5, VERDICT/ADVICE r18): the r18 df attached as
    # ``count OVER (PARTITION BY word)`` — with |_BM25_TERMS| = 5
    # distinct words the whole tf frame hash-collapsed onto ≤5 tasks
    # and one WindowExec buffered each term's full document list: a
    # parallelism collapse at 100 TB.  tf is now materialized once and
    # df is a 5-row ``groupBy("word")`` aggregate (map-side partials,
    # full parallelism) broadcast-joined back — the one-tokenize win
    # stays (dfreq replays from tf's stored blocks, never the corpus),
    # the collapse goes.  Explicit broadcast hint: the checkpointed tf
    # has no Catalyst stats, so the 5-row build side would otherwise
    # plan as a sort-merge join.
    with_dl = materialize_once(
        docs.select(
            "doc_id",
            F.size(_tokens()).cast("long").alias("dl"),
            F.filter(
                _tokens(), lambda w: w.isin(*_BM25_TERMS)
            ).alias("terms"),
        )
    )
    stats = with_dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_total"),
        F.avg("dl").alias("avgdl"),
    )
    tok = with_dl.select(
        "doc_id", "dl", F.explode("terms").alias("word")
    )
    tf = materialize_once(
        tok.groupBy("doc_id", "dl", "word").agg(
            F.count(F.lit(1)).cast("double").alias("tf")
        )
    )
    dfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    term_scores = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
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
                * 1e6
            )
            .cast("long")
            .alias("micro"),
        )
    )
    wl = Window.orderBy(F.col("lex_micro").desc(), "doc_id")
    lex = (
        term_scores.groupBy("doc_id")
        .agg(F.sum("micro").alias("lex_micro"))
        .withColumn("lex_rank", F.row_number().over(wl).cast("long"))
        .select("doc_id", "lex_rank")
    )

    # semantic: cosine against the broadcast query vector, ranked
    qvec = emb.where(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    ws = Window.orderBy(F.col("cos_sim").desc(), "doc_id")
    sem = (
        emb.where(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(as_double("embedding"), as_double("qvec")), 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("sem_rank", F.row_number().over(ws).cast("long"))
        .select("doc_id", "sem_rank")
    )

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
            "lex_rank",
            "sem_rank",
        )
    )
    wf = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .where(F.col("rnk") <= _TOPN)
        .orderBy("rnk")
    )


RETRIEVAL_RRF_ORACLE = f"""
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
), term_scores AS (
    SELECT tf.doc_id,
           CAST(round(
               ln((s.n_total - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1))
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
               * 1e6) AS BIGINT) AS micro
    FROM tf
    JOIN dfreq d USING (word)
    JOIN with_dl l USING (doc_id)
    CROSS JOIN stats s
), lex AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY sum(micro) DESC, doc_id) AS BIGINT)
               AS lex_rank
    FROM term_scores GROUP BY doc_id
), sem AS (
    SELECT c.vec_id AS doc_id,
           CAST(row_number() OVER (
               ORDER BY round(list_cosine_similarity(
                   c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
               c.vec_id) AS BIGINT) AS sem_rank
    FROM embeddings c
    CROSS JOIN (SELECT embedding FROM embeddings
                WHERE vec_id = {_QUERY_VEC_ID}) q
    WHERE c.vec_id != {_QUERY_VEC_ID}
), fused AS (
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           round(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                 + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0), 6) AS rrf_score,
           l.lex_rank, s.sem_rank
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, rrf_score, lex_rank, sem_rank,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rnk
      FROM fused)
WHERE rnk <= {_TOPN}
ORDER BY rnk
"""


def _mmr_candidates(emb: DataFrame, query_mod: int = 100) -> DataFrame:
    """The only corpus-sized stage of the MMR lane, exposed for the plan
    pin in tests/test_retrieval_mmr.py (the lane's own final explain
    hides it behind the lazy-checkpoint boundary): one scan scored
    against BROADCAST queries (BroadcastNestedLoopJoin — never a
    cartesian, never a corpus x corpus shuffle join) cut to
    ``_MMR_TOPN`` per query by one window.

    BOUNDED BROADCAST (VERDICT r14 #3): the fixture's query set is
    ``vec_id % 100 == 0`` — 1% OF THE CORPUS, a stand-in for an
    externally-supplied, fixed-size query list.  Because it scales with
    the corpus, the broadcast payload and the scored frame
    (|corpus| × |queries|) would grow quadratically with corpus size;
    the head therefore HARD-CAPS the query set at ``_MMR_MAX_QUERIES``
    via a distributed top-N (``orderBy(vec_id).limit`` →
    TakeOrderedAndProject: per-partition heads merged on the driver —
    never a single-partition global sort), making the broadcast
    ≤ cap × dim doubles BY CONSTRUCTION.  The cap is slack at every
    fixture scale (sf0.1 has 20 queries), so registered results and the
    oracle are unchanged; a production workload whose query list
    exceeds the cap belongs on ``_mmr_candidates_ivf`` (whose head
    streams queries and broadcasts only nlist centroids — see
    ``retrieval_mmr_auto``).  Direct callers: the limit would silently
    drop queries past the cap, so ``retrieval_mmr_diversify`` asserts
    the cap is not binding before building this head (ADVICE r15) —
    any new direct caller must do the same or route through
    ``retrieval_mmr_auto``."""
    qs = (
        emb.where(F.col("vec_id") % query_mod == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        .orderBy("query_id")
        .limit(_MMR_MAX_QUERIES)
    )
    cs = emb.where(F.col("vec_id") % query_mod != 0)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rel_micro").desc(), "vec_id"
    )
    return (
        cs.crossJoin(F.broadcast(qs))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(as_double("embedding"), as_double("qv")) * 1e6)
            .cast("long")
            .alias("rel_micro"),
            "embedding",
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _MMR_TOPN)
        .select("query_id", "vec_id", "rel_micro", "embedding")
    )


#: MMR knobs: candidate pool per query, picks per query.  λ is fixed at
#: 0.5, which lets the objective collapse to exact integer arithmetic
#: (argmax of 0.5·rel − 0.5·max_sim == argmax of rel_micro − max_sim_micro).
_MMR_TOPN = 16
_MMR_K = 6

#: Hard bound on the exact head's broadcast query set (VERDICT r14 #3):
#: caps the broadcast at cap × dim doubles (~512 KB at dim 64) and the
#: scored frame at cap × |corpus| — linear in the corpus, never
#: quadratic.  Slack at every fixture scale (20 queries at sf0.1), so
#: registered output and oracle are unchanged; workloads above the cap
#: dispatch to the IVF head (``retrieval_mmr_auto``).
_MMR_MAX_QUERIES = 1024


def _mmr_pair_sims(cands: DataFrame) -> DataFrame:
    """Pairwise candidate-candidate similarities, N² PER QUERY (N =
    ``_MMR_TOPN``, bounded by construction — never corpus²).  Kept
    JVM-side deliberately: the fp64 sequential-fold cosine here is the
    exact arithmetic the DuckDB oracle reproduces; a numpy kernel's
    pairwise summation could flip a round(·1e6) boundary.

    r18 (guide §3.1): the self-join's both sides are the checkpointed
    candidate frame — an ExistingRDD whose size Catalyst cannot
    estimate, so the planner fell back to a sort-merge join (two
    exchanges + two sorts of the candidate frame).  The frame is
    bounded BY CONSTRUCTION at _MMR_MAX_QUERIES × _MMR_TOPN rows (both
    hard caps, see _mmr_candidates), so the build side is forced
    broadcast: no candidate exchange, no sorts — the only remaining
    tail shuffle is the cogroup's query_id clustering.

    r19 re-measurement (VERDICT r18 #6, driver-cold protocol: fresh
    process per cell, cold + 4 warm noop passes, 3 alternations —
    0ba482d:scripts/r19_cold_ab.py): broadcast 2.20/2.39/2.42 s warm median vs
    un-hinted SMJ 2.18/2.46/2.59 s — a wash locally (the lane is
    head-dominated), KEPT for the plan shape per guide §3.1: never
    shuffle-sort a cap-bounded frame.  The r18 driver's 0.85-0.90x
    readings came from the contaminated 32-core environment (its own
    8-core control reproduced r17 exactly)."""
    a, b = cands.alias("a"), cands.alias("b")
    return a.join(
        F.broadcast(b),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        F.round(
            cosine(as_double(F.col("a.embedding")),
                   as_double(F.col("b.embedding")))
            * 1e6
        )
        .cast("long")
        .alias("sim_micro"),
    )


def _mmr_greedy_kernel(cdf, pdf):
    """Per-query greedy MMR over exact integers (Arrow cogroup kernel).
    State is one query's N candidates + N² sims — trivially in-memory;
    integer argmax with vec_id tie-break, so the trajectory is
    bit-identical to the JVM round-loop twin and the recursive-CTE
    oracle."""
    import pandas as pd

    rel = dict(zip(cdf["vec_id"], cdf["rel_micro"]))
    sims = dict(zip(zip(pdf["a_id"], pdf["b_id"]), pdf["sim_micro"]))
    order = sorted(rel, key=lambda v: (-rel[v], v))
    chosen = order[:1]
    while len(chosen) < min(_MMR_K, len(order)):
        best = min(
            (c for c in order if c not in chosen),
            key=lambda c: (
                -(rel[c] - max(sims[(c, s)] for s in chosen)),
                c,
            ),
        )
        chosen.append(best)
    return pd.DataFrame(
        {
            "query_id": [int(cdf["query_id"].iloc[0])] * len(chosen),
            "rank": range(1, len(chosen) + 1),
            "vec_id": chosen,
            "rel_micro": [rel[c] for c in chosen],
        }
    )


def retrieval_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein SIGIR'98): per query, greedily pick the candidate that
    maximizes ``λ·relevance − (1−λ)·max-similarity-to-already-picked``.
    The curation shape behind diverse few-shot selection and
    redundancy-free hard-negative mining — plain cosine top-k returns k
    near-copies of the best hit; MMR is the standard fix.

    Queries are ``vec_id % 100 == 0`` (scales with the corpus),
    candidates everything else.  All scores are exact integers
    (``round(cos·1e6)``), ties broken by ``vec_id``, so the greedy
    trajectory is engine-exact and the DuckDB oracle replays it with a
    recursive CTE.

    Scale shape: the ONLY corpus-sized stage is the candidate cut — one
    scan scored against broadcast queries, one window partitioned by
    query (at 100 TB you swap this head for the ``ann_ivf_topk`` ladder;
    the MMR tail is head-agnostic).  The tail is candidate-sized and
    embarrassingly parallel across queries: sims stay JVM-side (exact
    fold, see ``_mmr_pair_sims``), then ONE cogrouped Arrow kernel runs
    the K-step greedy per query — iterative data-dependent selection is
    exactly the non-relational shape the kernel escape hatch exists
    for.  A JVM round-loop twin (deleted; in git at 0ba482d) expressed
    the same trajectory as K−1 joined rounds; it was plan-pure but paid
    ~3 candidate-frame shuffles + a checkpoint per round — measured
    1.7× slower at sf0.1 (2.53 s vs 4.21 s medians, 5 interleaved
    alternations, equivalence asserted first).  Barrier count, not
    data, so the kernel form is the headline.

    Cap guard (ADVICE r15): the exact head hard-caps its broadcast
    query set at ``_MMR_MAX_QUERIES``; past the cap it would silently
    return results for only the lowest-id queries.  This lane asserts
    the cap is not binding with one early-exit sizing job
    (``limit(cap+1).count()`` — the scan stops as soon as cap+1 query
    rows are found, so the job's cost is bounded by the cap, not the
    corpus) and raises with a route to ``retrieval_mmr_auto`` instead
    of truncating.  Both fixture scales (5 / 20 queries) are far under
    the cap, so registered output is unchanged.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n_queries = (
        emb.where(F.col("vec_id") % 100 == 0)
        .limit(_MMR_MAX_QUERIES + 1)
        .count()
    )
    if n_queries > _MMR_MAX_QUERIES:
        raise ValueError(
            "retrieval_mmr_diversify: query set exceeds the exact head's"
            f" broadcast cap (_MMR_MAX_QUERIES={_MMR_MAX_QUERIES});"
            " truncating it silently would drop queries. Use"
            " retrieval_mmr_auto, which dispatches workloads above the"
            " cap to the IVF-probed head (streaming query side, only"
            " nlist centroids broadcast)."
        )
    return _mmr_tail(_mmr_candidates(emb))


def _mmr_tail(cands: DataFrame) -> DataFrame:
    """Head-agnostic MMR tail: candidate frame in (query_id, vec_id,
    rel_micro, embedding), diversified picks out.  Shared verbatim by
    the exact-head registered lane and the IVF-head production variant
    so their greedy semantics cannot diverge."""
    cands = cands.transform(materialize_once)
    slim = cands.select("query_id", "vec_id", "rel_micro")
    return (
        slim.groupBy("query_id")
        .cogroup(_mmr_pair_sims(cands).groupBy("query_id"))
        .applyInPandas(
            _mmr_greedy_kernel,
            "query_id long, rank long, vec_id long, rel_micro long",
        )
        .orderBy("query_id", "rank")
    )


#: IVF-head recall dial (see ``_mmr_candidates_ivf``): top-``nprobe``
#: centroid buckets searched per query.  Shared with the DuckDB oracle.
_MMR_IVF_NPROBE = 4


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """(cluster, cvec) coarse centroids — one per label, the
    ``ann_ivf_topk`` quantizer: posexplode + (cluster, dim) average
    (map-side combined), dims re-assembled in order.  Exposed so the
    registered IVF lane can train ONCE per session and reuse
    (``_ivf_centroids_cached``)."""
    return (
        emb.select(
            "label", F.posexplode(as_double("embedding")).alias("i", "x")
        )
        .groupBy("label", "i")
        .agg(F.avg("x").alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "v"))),
                lambda s: s["v"],
            ).alias("cvec")
        )
        .withColumnRenamed("label", "cluster")
    )


#: Session cache for the trained coarse quantizer (VERDICT r14 #4): the
#: production shape trains/persists the IVF index once and amortizes it
#: across every retrieval call (operators/ann_index.py is the on-disk
#: variant); the registered lane mirrors that by collecting the
#: centroid table (nlist × dim doubles — bounded by construction) on
#: first use and replaying it as a LocalRelation afterwards, dropping
#: the 3 quantizer-build jobs from every warm call with byte-identical
#: output (collected fp64 values re-parallelized are exact).  Keyed on
#: (application id, fixture abspath) — same staleness discipline as
#: plans/text._SIG_MANIFEST_CACHE after ADVICE r14.
_IVF_CENT_CACHE: dict = {}


def _ivf_centroids_cached(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> DataFrame:
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _IVF_CENT_CACHE.get(key)
    if cached is None:
        built = _ivf_centroids(emb)
        cached = (built.collect(), built.schema)
        _IVF_CENT_CACHE[key] = cached
    rows, schema = cached
    return spark.createDataFrame(rows, schema)


def _mmr_candidates_ivf(
    emb: DataFrame,
    nprobe: int = _MMR_IVF_NPROBE,
    cent: DataFrame | None = None,
    query_mod: int = 100,
) -> DataFrame:
    """The 100 TB candidate head: IVF-probed instead of exhaustive.
    Coarse centroids (one per label, the ``ann_ivf_topk`` quantizer —
    a posexplode + (cluster, dim) average, map-side combined), top-
    ``nprobe`` probe per query, exact fold cosine INSIDE probed buckets
    only, cut to ``_MMR_TOPN``.  The scored frame is |queries| x
    |probed buckets| instead of |queries| x |corpus| — the same pruning
    argument as `plans/vectors.ann_ivf_topk`.

    nprobe is the recall dial and MUST be chosen against a measured
    recall target: on the fixture's coarse quantizer (10 label cells,
    weakly aligned with cosine neighborhoods at the 16-NN horizon)
    candidate recall vs the exact head measures 0.30 / 0.55 / 0.91 at
    nprobe 2 / 4 / 8 — the monotone curve and the default's floor are
    pinned in tests/test_retrieval_mmr.py.  At production scale the
    quantizer is k-means-trained with nlist >> 10 (operators/
    clustering.py), where the same dial is much cheaper per point of
    recall.

    ``cent`` lets the caller supply a pre-trained (session-cached or
    persisted) quantizer — the registered lane does, dropping the
    3 build jobs from warm calls; None trains inline (the one-shot
    shape the property tests pin)."""
    if cent is None:
        cent = _ivf_centroids(emb)
    qs = emb.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), "cluster"
    )
    probed = (
        qs.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qv",
            "cluster",
            F.round(cosine(as_double("qv"), F.col("cvec")), 6).alias("ccos"),
        )
        .withColumn("crnk", F.row_number().over(wp))
        .where(F.col("crnk") <= nprobe)
        .select("query_id", "qv", "cluster")
    )
    cand = emb.where(F.col("vec_id") % query_mod != 0).select(
        "vec_id", "embedding", F.col("label").alias("cluster")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rel_micro").desc(), "vec_id"
    )
    return (
        probed.join(cand, "cluster")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(as_double("embedding"), as_double("qv")) * 1e6)
            .cast("long")
            .alias("rel_micro"),
            "embedding",
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _MMR_TOPN)
        .select("query_id", "vec_id", "rel_micro", "embedding")
    )


def retrieval_mmr_diversify_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production-scale MMR: IVF-probed candidate head feeding the
    SAME greedy tail (``_mmr_tail``).  REGISTERED with its own full
    recursive-CTE oracle (VERDICT r13 next #2): the head is approximate
    as an ANN *strategy* (it may miss true neighbors) but fully
    DETERMINISTIC as a computation — per-label average centroids,
    rounded-cosine probe ranking with cluster tie-break, exact fold
    cosine inside probed buckets — so DuckDB replays the identical
    candidate set and greedy trajectory (the same argument that makes
    ``ann_ivf_topk`` exactly oracle-able).  Recall vs the exact head is
    a separate, measured property: 0.30 / 0.55 / 0.91 mean candidate
    recall at nprobe 2 / 4 / 8 on the fixture quantizer, monotonicity
    and floors pinned in tests/test_retrieval_mmr.py, alongside the
    IVF-prune plan pin (corpus side joins on the cluster key — no
    per-query corpus scan).

    The coarse quantizer is trained ONCE per (session, fixture) and
    replayed as a LocalRelation on warm calls (VERDICT r14 #4 — the
    amortized-index shape; see ``_ivf_centroids_cached``), with
    byte-identical output."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _mmr_tail(
        _mmr_candidates_ivf(
            emb, cent=_ivf_centroids_cached(spark, sf_dir, emb)
        )
    )


def retrieval_mmr_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-dispatched MMR (VERDICT r14 #3 — the ``dissolve_auto``
    pattern): one aggregation-only sizing job counts the query set; at
    or below ``_MMR_MAX_QUERIES`` the EXACT head runs (byte-identical
    plan and output to ``retrieval_mmr_diversify`` — exactness is worth
    its constant factor while the broadcast bound holds), above it the
    exact head is structurally impossible (its broadcast is hard-capped),
    so the lane routes to the IVF-probed head, whose query side streams
    and whose only broadcast is nlist centroids.

    The cap-dispatch is CONSERVATIVE on cost, measured
    (0ba482d:scripts/mmr_head_crossover_sweep.py, sf0.1, amortized quantizer,
    interleaved cells): the IVF head is already cheaper than the exact
    head from ~20 queries on (0.89x at 20, 0.53x at 100, 0.46x at 334
    on the 2000-vector fixture corpus), so routing to IVF at the cap
    never routes to a slower branch — callers above the threshold gain
    both feasibility and wall clock, trading the measured recall dial
    (0.55 mean candidate recall at the default nprobe=4).  Both fixture
    scales sit far under the cap (5 / 20 queries), so the registered
    lane always takes the exact branch and shares
    ``RETRIEVAL_MMR_ORACLE`` verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_queries = emb.where(F.col("vec_id") % 100 == 0).count()
    if n_queries <= _MMR_MAX_QUERIES:
        return _mmr_tail(_mmr_candidates(emb))
    return _mmr_tail(
        _mmr_candidates_ivf(
            emb, cent=_ivf_centroids_cached(spark, sf_dir, emb)
        )
    )


def _mmr_oracle(head_ctes: str) -> str:
    """Recursive-CTE MMR oracle over ANY candidate head: ``head_ctes``
    must end by defining a CTE named ``cands(query_id, vec_id,
    rel_micro)``; the tail — pair sims over the candidate pool plus the
    greedy recursion — is shared verbatim between the exact-head and
    IVF-head oracles, mirroring how both Spark lanes share
    ``_mmr_tail`` so the greedy semantics cannot diverge."""
    return f"""
WITH RECURSIVE {head_ctes}, pair_sims AS (
    SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(round(list_cosine_similarity(
               ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 1000000)
               AS BIGINT) AS sim_micro
    FROM cands a
    JOIN cands b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
), sel AS (
    SELECT query_id, CAST(1 AS BIGINT) AS rank, vec_id, rel_micro,
           [vec_id] AS chosen
    FROM (SELECT query_id, vec_id, rel_micro,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY rel_micro DESC, vec_id) AS rn
          FROM cands) WHERE rn = 1
    UNION ALL
    SELECT query_id, rank + 1, vec_id, rel_micro,
           list_append(chosen, vec_id)
    FROM (
        SELECT s.query_id, s.rank, c.vec_id, c.rel_micro, s.chosen,
               row_number() OVER (
                   PARTITION BY s.query_id
                   ORDER BY c.rel_micro - (
                       SELECT max(p.sim_micro) FROM pair_sims p
                       WHERE p.query_id = s.query_id AND p.a_id = c.vec_id
                         AND list_contains(s.chosen, p.b_id)) DESC,
                   c.vec_id) AS rn
        FROM sel s
        JOIN cands c ON c.query_id = s.query_id
                    AND NOT list_contains(s.chosen, c.vec_id)
        WHERE s.rank < {_MMR_K}
    ) WHERE rn = 1
)
SELECT query_id, rank, vec_id, rel_micro FROM sel
ORDER BY query_id, rank
"""


#: Exact head: every non-query vector scored, top-``_MMR_TOPN`` kept.
_MMR_EXACT_HEAD = f"""qs AS (
    SELECT vec_id AS query_id, embedding AS qv
    FROM embeddings WHERE vec_id % 100 = 0
), scored AS (
    SELECT q.query_id, c.vec_id,
           CAST(round(list_cosine_similarity(
               c.embedding::DOUBLE[], q.qv::DOUBLE[]) * 1000000) AS BIGINT)
               AS rel_micro
    FROM qs q JOIN embeddings c ON c.vec_id % 100 <> 0
), cands AS (
    SELECT query_id, vec_id, rel_micro FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rel_micro DESC, vec_id) AS rn
        FROM scored) WHERE rn <= {_MMR_TOPN}
)"""

#: IVF head: per-label average centroids (the ``ann_ivf_topk``
#: quantizer restated relationally — same avg-then-round(6) discipline
#: as ANN_IVF_ORACLE, which has been driver-green since r9), top-nprobe
#: probe per query, exact cosine inside probed buckets only.
_MMR_IVF_HEAD = f"""flat AS (
    SELECT label, i, e[i] AS x
    FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
         unnest(generate_series(1, {_EMB_DIM})) AS t(i)
), cent AS (
    SELECT label AS cluster, list(v ORDER BY i) AS cvec
    FROM (SELECT label, i, avg(x) AS v FROM flat GROUP BY label, i)
    GROUP BY label
), qs AS (
    SELECT vec_id AS query_id, embedding AS qv
    FROM embeddings WHERE vec_id % 100 = 0
), probed AS (
    SELECT query_id, qv, cluster
    FROM (SELECT q.query_id, q.qv, c.cluster,
                 row_number() OVER (PARTITION BY q.query_id
                     ORDER BY round(list_cosine_similarity(
                         q.qv::DOUBLE[], c.cvec), 6) DESC, c.cluster)
                     AS crnk
          FROM qs q, cent c)
    WHERE crnk <= {_MMR_IVF_NPROBE}
), scored AS (
    SELECT p.query_id, e.vec_id,
           CAST(round(list_cosine_similarity(
               e.embedding::DOUBLE[], p.qv::DOUBLE[]) * 1000000) AS BIGINT)
               AS rel_micro
    FROM probed p
    JOIN embeddings e ON e.label = p.cluster AND e.vec_id % 100 <> 0
), cands AS (
    SELECT query_id, vec_id, rel_micro FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rel_micro DESC, vec_id) AS rn
        FROM scored) WHERE rn <= {_MMR_TOPN}
)"""

RETRIEVAL_MMR_ORACLE = _mmr_oracle(_MMR_EXACT_HEAD)
RETRIEVAL_MMR_IVF_ORACLE = _mmr_oracle(_MMR_IVF_HEAD)


QUERIES = {
    "retrieval_rrf_fusion": retrieval_rrf_fusion,
    "retrieval_mmr_diversify": retrieval_mmr_diversify,
    "retrieval_mmr_diversify_ivf": retrieval_mmr_diversify_ivf,
    "retrieval_mmr_auto": retrieval_mmr_auto,
}

ORACLES = {
    "retrieval_rrf_fusion": RETRIEVAL_RRF_ORACLE,
    "retrieval_mmr_diversify": RETRIEVAL_MMR_ORACLE,
    "retrieval_mmr_diversify_ivf": RETRIEVAL_MMR_IVF_ORACLE,
    # the dispatch lane takes the exact branch at every fixture scale
    # (query count far under _MMR_MAX_QUERIES), so it shares the exact
    # recursive-CTE oracle verbatim
    "retrieval_mmr_auto": RETRIEVAL_MMR_ORACLE,
}
