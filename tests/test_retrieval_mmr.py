"""MMR diversified retrieval: independent pure-Python replay of the
greedy trajectory (third implementation besides the Spark plan and the
recursive-CTE DuckDB oracle), plus the diversification property plain
top-k cannot have and the scale-posture plan pins."""

from __future__ import annotations

import math

import pyarrow.parquet as pq

from species_range_data_pipeline_spark.plans.retrieval import (
    _MMR_K,
    _MMR_TOPN,
    retrieval_mmr_diversify,
)

from .conftest import SF_CORRECT


def _cos_micro(a, b) -> int:
    """round(cosine * 1e6) with the engines' sequential-fold accumulation
    order (fp64 left fold, not numpy pairwise) AND the engines' rounding
    mode: Spark and DuckDB round half AWAY FROM ZERO, while Python's
    round() is banker's half-to-even — an exact .5 boundary would make
    a round()-based reference diverge from both engines (ADVICE r13)."""
    dot = n2a = n2b = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        dot += x * y
        n2a += x * x
        n2b += y * y
    v = dot / (math.sqrt(n2a) * math.sqrt(n2b)) * 1e6
    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def _reference_mmr(sf_dir: str):
    """Greedy MMR replayed in plain Python from the parquet fixture."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(i): list(map(float, e))
        for i, e in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    }
    queries = sorted(v for v in vecs if v % 100 == 0)
    out = []
    for q in queries:
        rel = {
            c: _cos_micro(vecs[c], vecs[q]) for c in vecs if c % 100 != 0
        }
        cands = sorted(rel, key=lambda c: (-rel[c], c))[:_MMR_TOPN]
        chosen = [min(cands, key=lambda c: (-rel[c], c))]
        while len(chosen) < _MMR_K:
            rest = [c for c in cands if c not in chosen]
            best = min(
                rest,
                key=lambda c: (
                    -(
                        rel[c]
                        - max(_cos_micro(vecs[c], vecs[s]) for s in chosen)
                    ),
                    c,
                ),
            )
            chosen.append(best)
        out.extend(
            (q, rank + 1, c, rel[c]) for rank, c in enumerate(chosen)
        )
    return out


def test_mmr_matches_pure_python_reference(spark):
    got = [
        (r["query_id"], r["rank"], r["vec_id"], r["rel_micro"])
        for r in retrieval_mmr_diversify(spark, SF_CORRECT).collect()
    ]
    assert got == _reference_mmr(SF_CORRECT)


def test_mmr_diversifies_vs_plain_topk(spark):
    """The reason the lane exists: for at least one query, MMR's pick set
    must differ from the plain relevance top-K (otherwise the greedy
    penalty never bound and the lane is top-k with extra steps)."""
    rows = retrieval_mmr_diversify(spark, SF_CORRECT).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == _MMR_K for v in by_q.values())
    diverged = 0
    for picks in by_q.values():
        assert len({r["vec_id"] for r in picks}) == _MMR_K
        # rank-1 is always the global relevance argmax; if every later
        # pick also followed pure relevance the rel_micro sequence down
        # the ranks would be non-increasing — a strict increase means
        # the similarity penalty actually re-ordered the picks
        rels = [r["rel_micro"] for r in sorted(picks, key=lambda r: r["rank"])]
        if rels != sorted(rels, reverse=True):
            diverged += 1
    assert diverged > 0, "MMR never deviated from relevance order"


def test_mmr_corpus_stage_is_broadcast_only(spark):
    """Scale posture: the only corpus-sized join is the candidate cut
    against BROADCAST queries — a BroadcastNestedLoopJoin, never a
    CartesianProduct and never a corpus-x-corpus shuffle join.  Pinned
    on the exposed head (the lane's own explain hides it behind the
    lazy-checkpoint boundary)."""
    import contextlib
    import io

    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.plans.retrieval import (
        _mmr_candidates,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _mmr_candidates(load_table(spark, SF_CORRECT, "embeddings")).explain(
            "formatted"
        )
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def _candidate_sets(df):
    out: dict[int, set] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def test_mmr_ivf_head_structure_and_recall_dial(spark):
    """The production (IVF-probed) head: picks stay well-formed and come
    from its own candidate pool, and the nprobe recall dial behaves as
    measured — monotone non-decreasing, >= 0.25 mean at nprobe=2,
    >= 0.5 at the default 4, >= 0.85 at 8 (fixture quantizer: 10 label
    cells, weakly aligned at the 16-NN horizon — the reason the dial
    must be measured, not assumed)."""
    import statistics

    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.plans.retrieval import (
        _mmr_candidates,
        _mmr_candidates_ivf,
        retrieval_mmr_diversify_ivf,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = _candidate_sets(_mmr_candidates(emb))

    means = []
    for nprobe in (2, 4, 8):
        ivf = _candidate_sets(_mmr_candidates_ivf(emb, nprobe=nprobe))
        means.append(
            statistics.mean(
                len(exact[q] & ivf.get(q, set())) / len(exact[q])
                for q in exact
            )
        )
    assert means == sorted(means), f"recall not monotone in nprobe: {means}"
    assert means[0] >= 0.25 and means[1] >= 0.5 and means[2] >= 0.85, means

    rows = retrieval_mmr_diversify_ivf(spark, SF_CORRECT).collect()
    default_cands = _candidate_sets(_mmr_candidates_ivf(emb))
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(exact)
    for q, picks in by_q.items():
        assert [r["rank"] for r in sorted(picks, key=lambda r: r["rank"])] == [
            1,
            2,
            3,
            4,
            5,
            6,
        ]
        assert {r["vec_id"] for r in picks} <= default_cands[q]


def test_mmr_ivf_head_prunes_corpus_via_cluster_hash_join(spark):
    """Scale posture of the REGISTERED IVF lane (VERDICT r13 next #2):
    the corpus side must enter through an EQUI hash join on the cluster
    key (bucket prune — only probed buckets are scored), never a
    per-query corpus scan.  The only nested-loop is queries × centroids,
    both bounded (|queries| fixed by contract, |centroids| = nlist)."""
    import contextlib
    import io

    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.plans.retrieval import (
        _mmr_candidates_ivf,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _mmr_candidates_ivf(
            load_table(spark, SF_CORRECT, "embeddings")
        ).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # cand join keyed on cluster
    # exactly one nested-loop — the bounded query×centroid probe; count
    # the tree form only (formatted explain repeats nodes in the detail
    # section, so count the numbered detail header instead)
    assert plan.count(") BroadcastNestedLoopJoin") == 1, plan


def test_mmr_ivf_matches_pure_python_reference(spark):
    """Independent replay of the ENTIRE registered IVF lane in plain
    Python from the parquet fixture (third implementation besides the
    Spark plan and the recursive-CTE oracle): per-label mean centroids,
    top-nprobe probe (rounded cosine, cluster tie-break), exact cosine
    inside probed buckets, top-N cut, then the same greedy MMR."""
    from species_range_data_pipeline_spark.plans.retrieval import (
        _MMR_IVF_NPROBE,
        retrieval_mmr_diversify_ivf,
    )

    t = pq.read_table(f"{SF_CORRECT}/embeddings.parquet")
    vecs, labels = {}, {}
    for i, e, lb in zip(
        t["vec_id"].to_pylist(),
        t["embedding"].to_pylist(),
        t["label"].to_pylist(),
    ):
        vecs[int(i)] = list(map(float, e))
        labels[int(i)] = int(lb)
    dims = len(next(iter(vecs.values())))
    # per-label mean centroid, fp64 accumulation in vec order is NOT
    # required: avg is order-sensitive in principle, but the engines
    # agree after round(6) on the probe cosine (the ann_ivf_topk
    # precedent); the reference uses plain sum/n
    by_label: dict[int, list] = {}
    for v, lb in labels.items():
        by_label.setdefault(lb, []).append(v)
    cents = {
        lb: [
            sum(vecs[v][d] for v in members) / len(members)
            for d in range(dims)
        ]
        for lb, members in by_label.items()
    }

    def _cos6(a, b):
        dot = n2a = n2b = 0.0
        for x, y in zip(a, b):
            dot += x * y
            n2a += x * x
            n2b += y * y
        v = dot / (math.sqrt(n2a) * math.sqrt(n2b)) * 1e6
        r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
        return r / 1e6

    queries = sorted(v for v in vecs if v % 100 == 0)
    expected = []
    for q in queries:
        probed = sorted(
            cents, key=lambda lb: (-_cos6(vecs[q], cents[lb]), lb)
        )[:_MMR_IVF_NPROBE]
        pool = [
            c
            for c in vecs
            if c % 100 != 0 and labels[c] in probed
        ]
        rel = {c: _cos_micro(vecs[c], vecs[q]) for c in pool}
        cands = sorted(rel, key=lambda c: (-rel[c], c))[:_MMR_TOPN]
        chosen = [cands[0]]
        while len(chosen) < min(_MMR_K, len(cands)):
            rest = [c for c in cands if c not in chosen]
            best = min(
                rest,
                key=lambda c: (
                    -(
                        rel[c]
                        - max(_cos_micro(vecs[c], vecs[s]) for s in chosen)
                    ),
                    c,
                ),
            )
            chosen.append(best)
        expected.extend(
            (q, rank + 1, c, rel[c]) for rank, c in enumerate(chosen)
        )

    got = [
        (r["query_id"], r["rank"], r["vec_id"], r["rel_micro"])
        for r in retrieval_mmr_diversify_ivf(spark, SF_CORRECT).collect()
    ]
    assert got == expected


# ---- kernel property test (no Spark: the raw cogroup function) ----

from hypothesis import given, settings
from hypothesis import strategies as st


def _py_greedy(rel: dict, sims: dict, k: int):
    """Straight-line reference greedy (independent of the kernel's
    min-key formulation)."""
    order = sorted(rel, key=lambda v: (-rel[v], v))
    chosen = [order[0]]
    while len(chosen) < min(k, len(order)):
        best, best_key = None, None
        for c in order:
            if c in chosen:
                continue
            score = rel[c] - max(sims[(c, s)] for s in chosen)
            key = (-score, c)
            if best_key is None or key < best_key:
                best, best_key = c, key
        chosen.append(best)
    return chosen


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=10).flatmap(
        lambda n: st.tuples(
            # rel scores from a TINY value pool so ties are the norm,
            # not the exception (the adversarial case for greedy order)
            st.lists(
                st.integers(min_value=-3, max_value=3),
                min_size=n,
                max_size=n,
            ),
            st.lists(
                st.integers(min_value=-3, max_value=3),
                min_size=n * (n - 1),
                max_size=n * (n - 1),
            ),
        )
    )
)
def test_mmr_kernel_matches_reference_under_ties(data):
    """The cogroup kernel's greedy must equal an independent reference
    on heavy-tie integer inputs — ties in both rel and the penalized
    score MUST break by vec_id, the contract the recursive-CTE oracle
    and the JVM twin both implement."""
    import pandas as pd

    from species_range_data_pipeline_spark.plans.retrieval import (
        _MMR_K,
        _mmr_greedy_kernel,
    )

    rels, simvals = data
    n = len(rels)
    ids = list(range(1, n + 1))
    rel = dict(zip(ids, rels))
    pairs = [(a, b) for a in ids for b in ids if a != b]
    sims = dict(zip(pairs, simvals))
    # symmetrize: cosine sims are symmetric in production and in the
    # pair_sims frame (both directions materialized with equal values)
    for a, b in pairs:
        sims[(b, a)] = sims[(a, b)]

    cdf = pd.DataFrame(
        {"query_id": [7] * n, "vec_id": ids, "rel_micro": rels}
    )
    pdf = pd.DataFrame(
        {
            "query_id": [7] * len(pairs),
            "a_id": [a for a, _ in pairs],
            "b_id": [b for _, b in pairs],
            "sim_micro": [sims[p] for p in pairs],
        }
    )
    out = _mmr_greedy_kernel(cdf, pdf)
    expected = _py_greedy(rel, sims, _MMR_K)
    assert list(out["vec_id"]) == expected
    assert list(out["rank"]) == list(range(1, len(expected) + 1))
    assert list(out["rel_micro"]) == [rel[c] for c in expected]


def test_mmr_exact_head_query_broadcast_is_bounded(spark, monkeypatch):
    """VERDICT r14 #3: the exact head's broadcast query set is HARD-
    CAPPED at ``_MMR_MAX_QUERIES`` via a distributed top-N, so the
    broadcast payload and scored frame are linear in the corpus by
    construction.  Shrink the cap to 2 and the head must score exactly
    the 2 lowest query ids; the plan must carry the TakeOrderedAndProject
    cut (never a single-partition global sort)."""
    import contextlib
    import io

    from species_range_data_pipeline_spark import plans
    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.plans import retrieval
    from species_range_data_pipeline_spark.plans.retrieval import (
        _mmr_candidates,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    all_q = sorted(
        r["vec_id"] for r in emb.where("vec_id % 100 = 0").collect()
    )
    assert len(all_q) < retrieval._MMR_MAX_QUERIES, (
        "fixture must stay under the cap or registered output changes"
    )

    monkeypatch.setattr(retrieval, "_MMR_MAX_QUERIES", 2)
    capped = _mmr_candidates(emb)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        capped.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan
    got_q = {r["query_id"] for r in capped.collect()}
    assert got_q == set(all_q[:2])


def test_mmr_ivf_cached_quantizer_scanfree_and_identical(spark):
    """VERDICT r14 #4: the registered IVF lane trains the coarse
    quantizer once per (session, fixture) and replays it as a
    LocalRelation — warm calls must be byte-identical to the cold call,
    and the warm candidate head's plan must carry the centroid table as
    a local scan (no quantizer aggregation jobs), with strictly fewer
    parquet scans than the inline-trained head."""
    import contextlib
    import io

    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.plans.retrieval import (
        _IVF_CENT_CACHE,
        _ivf_centroids_cached,
        _mmr_candidates_ivf,
        retrieval_mmr_diversify_ivf,
    )

    cold = [
        tuple(r) for r in retrieval_mmr_diversify_ivf(spark, SF_CORRECT).collect()
    ]
    assert _IVF_CENT_CACHE, "first registered call must populate the cache"
    warm = [
        tuple(r) for r in retrieval_mmr_diversify_ivf(spark, SF_CORRECT).collect()
    ]
    assert cold == warm

    emb = load_table(spark, SF_CORRECT, "embeddings")
    cent = _ivf_centroids_cached(spark, SF_CORRECT, emb)

    def _plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    warm_plan = _plan_of(_mmr_candidates_ivf(emb, cent=cent))
    inline_plan = _plan_of(_mmr_candidates_ivf(emb))
    # the replayed quantizer enters as driver-local data (classic-mode
    # createDataFrame renders it Scan ExistingRDD; connect would render
    # LocalTableScan) — either way it must NOT be a parquet re-scan +
    # re-aggregation of embeddings, so the warm head carries strictly
    # fewer parquet scans than the inline-trained head
    assert (
        "Scan ExistingRDD" in warm_plan or "LocalTableScan" in warm_plan
    ), warm_plan
    assert warm_plan.count("Scan parquet") < inline_plan.count("Scan parquet")


def test_mmr_exact_lane_raises_when_cap_binds(spark, monkeypatch):
    """ADVICE r15: the exact head's ``limit(_MMR_MAX_QUERIES)`` would
    silently drop queries past the cap for a direct caller of
    ``retrieval_mmr_diversify`` — the lane must refuse loudly and route
    the caller to ``retrieval_mmr_auto`` instead of returning
    incomplete results."""
    import pytest

    from species_range_data_pipeline_spark.plans import retrieval

    monkeypatch.setattr(retrieval, "_MMR_MAX_QUERIES", 2)
    with pytest.raises(ValueError, match="retrieval_mmr_auto"):
        retrieval_mmr_diversify(spark, SF_CORRECT)


def test_mmr_auto_dispatches_exact_below_cap_ivf_above(spark, monkeypatch):
    """``retrieval_mmr_auto`` (VERDICT r14 #3): at fixture scale the
    query count sits under ``_MMR_MAX_QUERIES``, so the auto lane must
    be row-identical to the exact lane (and so shares its oracle);
    shrinking the cap below the fixture query count must flip the
    dispatch to the IVF head, row-identical to the registered IVF
    lane."""
    from species_range_data_pipeline_spark.plans import retrieval
    from species_range_data_pipeline_spark.plans.retrieval import (
        retrieval_mmr_auto,
        retrieval_mmr_diversify_ivf,
    )

    exact = [
        tuple(r) for r in retrieval_mmr_diversify(spark, SF_CORRECT).collect()
    ]
    auto = [
        tuple(r) for r in retrieval_mmr_auto(spark, SF_CORRECT).collect()
    ]
    assert auto == exact

    ivf = [
        tuple(r)
        for r in retrieval_mmr_diversify_ivf(spark, SF_CORRECT).collect()
    ]
    monkeypatch.setattr(retrieval, "_MMR_MAX_QUERIES", 2)
    routed = [
        tuple(r) for r in retrieval_mmr_auto(spark, SF_CORRECT).collect()
    ]
    assert routed == ivf
    assert ivf != exact  # the dispatch is a real semantic boundary
    monkeypatch.setattr(retrieval, "_MMR_MAX_QUERIES", 1024)

    # below the cap the returned PLAN is byte-identical to the exact
    # lane (the dissolve_auto discipline: dispatch adds a sizing job,
    # never a plan difference), modulo auto-incremented expression ids
    import re

    def _norm(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+", "#", s)  # expression ids
        # lambda-variable names carry a session-global counter too
        # (lambda x_158# vs x_42#) — normalize it the same way
        return re.sub(r"\b(lambda [a-z]+)_\d+", r"\1_", s)

    assert _norm(retrieval_mmr_auto(spark, SF_CORRECT)) == _norm(
        retrieval_mmr_diversify(spark, SF_CORRECT)
    )


def test_mmr_ivf_warm_call_drops_quantizer_jobs(spark):
    """The amortization claim as a job-count pin (VERDICT r14 #4 /
    0ba482d:BASELINE.md r15 note): with the session cache cleared, the first
    registered IVF call pays the quantizer-build jobs; the second call
    must replay the cached quantizer and run STRICTLY fewer jobs (the
    build is 3 of the cold lane's jobs) with identical rows."""
    from species_range_data_pipeline_spark.plans import retrieval

    sc = spark.sparkContext
    retrieval._IVF_CENT_CACHE.clear()
    try:
        sc.setJobGroup("ivf_cold", "cold ivf lane")
        cold_rows = [
            tuple(r)
            for r in retrieval.retrieval_mmr_diversify_ivf(
                spark, SF_CORRECT
            ).collect()
        ]
        sc.setJobGroup("ivf_warm", "warm ivf lane")
        warm_rows = [
            tuple(r)
            for r in retrieval.retrieval_mmr_diversify_ivf(
                spark, SF_CORRECT
            ).collect()
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert warm_rows == cold_rows
    tracker = sc.statusTracker()
    cold_jobs = len(tracker.getJobIdsForGroup("ivf_cold"))
    warm_jobs = len(tracker.getJobIdsForGroup("ivf_warm"))
    assert cold_jobs - warm_jobs >= 2, (cold_jobs, warm_jobs)


def test_mmr_ivf_kmeans_quantizer_beats_label_quantizer(spark):
    """SCALE.md rule 47's r15 nlist arm, enforced at fixture scale: the
    production posture claims the IVF head's recall dial is much
    cheaper per point of recall once the quantizer is k-means-trained
    (geometry-aligned cells) instead of the fixture's semantic-label
    stand-in.  Pin: re-quantizing the corpus with k-means
    (operators/clustering.kmeans_assign, deterministic first-k init)
    and running the SAME ``_mmr_candidates_ivf`` head at the SAME
    nprobe must give mean candidate recall vs the exact head at least
    1.3x the label quantizer's and >= 0.7 absolute.  Measured on the
    un-cloned sf0.01 fixture: 0.7625 vs 0.55 (1.39x) — lower than the
    sweep's 1.00 because the sweep's 10x cloned corpus structurally
    inflates recall (rule 47's caveat); the ORDERING is the claim."""
    import statistics

    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.operators.clustering import (
        kmeans_assign,
    )
    from species_range_data_pipeline_spark.plans.retrieval import (
        _mmr_candidates,
        _mmr_candidates_ivf,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = _candidate_sets(_mmr_candidates(emb))

    def _mean_recall(frame):
        ivf = _candidate_sets(_mmr_candidates_ivf(frame))
        return statistics.mean(
            len(exact[q] & ivf.get(q, set())) / len(exact[q]) for q in exact
        )

    label_recall = _mean_recall(emb)

    assign, _ = kmeans_assign(emb, k=10, iters=3)
    relabeled = (
        emb.drop("label")
        .join(
            assign.selectExpr(
                "id AS vec_id", "CAST(cluster AS BIGINT) AS label"
            ),
            "vec_id",
        )
        .select("vec_id", "embedding", "label")
    )
    kmeans_recall = _mean_recall(relabeled)

    assert kmeans_recall >= 0.7, (kmeans_recall, label_recall)
    assert kmeans_recall >= 1.3 * label_recall, (kmeans_recall, label_recall)
