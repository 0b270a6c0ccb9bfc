"""Forced-broadcast boundedness policy (r15; SCALE.md rule 59).

The bug class VERDICT r13/r14 flagged twice (`text_decontaminate_purge`
broadcasting a 10%-of-corpus eval split, the exact MMR head
broadcasting a 1%-of-corpus query set) generalizes: a FORCED
``F.broadcast`` hint removes the optimizer's freedom to degrade to a
shuffle join, so it is only sound on a frame whose size is bounded BY
CONSTRUCTION — a fixed dimension (nation=25, region=5), a global
aggregate (one row), a k-row literal/centroid/query head, or a
fixed-domain histogram.  SF-proportional frames (raw TPC-H tables and
their filtered fractions, per-user/per-part/per-supplier aggregates,
graph edge sets) must carry NO hint: at fixture scale the
auto-broadcast threshold reproduces the same broadcast plan, and
beyond it the optimizer shuffle-joins instead of OOMing the driver.

This test makes the policy structural: every ``F.broadcast(`` call
site in the package is source-scanned and its build-side identifier
must appear in the allowlist below WITH a boundedness reason.  Adding
a new forced broadcast without declaring why its side is bounded (or
re-adding one of the removed SF-proportional hints) fails the suite.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "species_range_data_pipeline_spark"

#: module (relative to the package) -> {build-side identifier: why it is
#: bounded by construction}.  Identifiers are the leading name of the
#: F.broadcast(...) argument expression.
ALLOWED: dict[str, dict[str, str]] = {
    "plans/geo.py": {
        "stations": "fixed station dimension (3 literal rows)",
        "boxes": "per-species bbox aggregate; species is a fixed domain",
        "b": "per-species dissolved frame; species is a fixed domain",
    },
    "plans/relational.py": {
        "nation": "fixed dim (25 rows)",
        "region": "fixed dim (5 rows)",
    },
    # r18: dfreq/unigrams/prefix hints removed with their second corpus
    # lineages — those denominators are now window sums over the
    # already-aggregated frames (no join, no broadcast).
    "plans/text.py": {
        "n_total": "global count (1 row)",
        "stats": "global corpus stats (1 row)",
        # r19 (VERDICT r18 #3/#4): the de-skewed df join-backs
        "dfreq": "per-term df over _BM25_TERMS (<=5 rows by construction)",
        "probe": "tf rows of the <=20 requested docs (doc_id < 20 cut; "
                 "bounded by the query's own output contract)",
        "ev": "eval gram set; bounded when eval_docs is an external "
              "benchmark (the documented premise); fixture split is the "
              "documented stand-in",
    },
    "plans/packing.py": {
        "offsets": "per-(source, shard) aggregate; fixed domains",
        "min_n": "global min (1 row)",
        "rates": "per-source rates; source domain fixed",
        "target": "global target (1 row)",
        "plan": "per-source plan; source domain fixed",
    },
    "sources/delta_log.py": {
        "pv_df": "one row per live data file (log-sized; the log IS the"
                 " driver-held metadata — a million-file table is a"
                 " million small rows, never data-sized)",
    },
    "sources/iceberg_log.py": {
        "dels": "position-delete rows: log-scoped by the MoR contract"
                " (writers keep them small; compaction folds them away)",
        "dels_df": "equality-delete rows: log-scoped by the same MoR"
                   " contract",
        "seq_df": "one (file, sequence-number) row per surviving data"
                  " file — manifest-sized",
        "pv_df": "one (basename, partition values) row per data file —"
                 " manifest-sized (migrated-table restore)",
    },
    "streaming/events.py": {
        "dim": "stream-side dimension enrichment: the caller's lookup"
               " dim (user/station attributes), fixed-domain by the"
               " enrich contract — the streaming form of the fixed-dim"
               " P3 join",
    },
    "plans/vectors.py": {
        "queries": "fixed query head (vec_id < 5)",
        "cent": "nlist coarse centroids",
    },
    "plans/quality.py": {
        "fences": "per-event-type fences; type domain fixed",
        "k": "global scalar (1 row)",
    },
    "plans/tpch_extra.py": {
        "region": "fixed dim (5 rows)",
        "nation": "fixed dim (25 rows)",
        "nat_max": "per-nation aggregate (<=25 rows)",
        "euro_nations": "nation join region (<=25 rows)",
        "asia_cust_nations": "nation join region (<=25 rows)",
        "supp_nation": "nation projection (25 rows)",
        "total": "global sum (1 row)",
        "max_rev": "global max (1 row)",
        "avg_bal": "global avg (1 row)",
    },
    "plans/graph.py": {
        "ranks": "pagerank node state; documented billion-node escape "
                 "(swap for co-partitioned shuffle join) in the lane "
                 "docstring",
        "node_state": "same as ranks",
    },
    "plans/events.py": {
        "types": "event-type dimension; fixed domain",
    },
    "plans/advanced.py": {
        "bands": "literal price bands",
        "nation_avg": "per-nation aggregate (<=25 rows)",
        "nation": "fixed dim (25 rows)",
        "n1": "nation projection (25 rows)",
        "n2": "nation projection (25 rows)",
        "region": "fixed dim (5 rows)",
        "buckets": "per-priority-bucket aggregate; fixed domain",
    },
    "plans/retrieval.py": {
        "stats": "global corpus stats (1 row)",
        "dfreq": "per-term df over _BM25_TERMS (<=5 rows by construction)",
        "qvec": "single query vector (1 row)",
        "qs": "query head hard-capped at _MMR_MAX_QUERIES",
        "cent": "nlist coarse centroids",
        "b": "MMR pair-sims build side: candidate frame hard-capped at "
             "_MMR_MAX_QUERIES x _MMR_TOPN rows by construction",
    },
    "operators/ann_index.py": {
        "cent": "nlist coarse centroids",
    },
    "operators/pq.py": {
        "queries_df": "fixed query head (len(q_ids) rows)",
    },
    "operators/clustering.py": {
        "norm_df": "k centroid norms",
    },
}

_CALL = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)")


def _sites() -> dict[str, set[str]]:
    found: dict[str, set[str]] = {}
    for sub in ("plans", "operators", "sources", "pipeline", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            rel = f"{sub}/{path.name}"
            names = set(_CALL.findall(path.read_text()))
            if names:
                found[rel] = names
    return found


def test_every_forced_broadcast_is_declared_bounded():
    found = _sites()
    undeclared = {
        rel: sorted(names - set(ALLOWED.get(rel, {})))
        for rel, names in found.items()
        if names - set(ALLOWED.get(rel, {}))
    }
    assert not undeclared, (
        "forced F.broadcast on an undeclared build side — either the "
        "side is SF-proportional (remove the hint, rule 59) or it is "
        f"bounded (add it to ALLOWED with the reason): {undeclared}"
    )


def test_allowlist_carries_no_dead_entries():
    """Every allowlist entry must correspond to a live call site, so
    removed hints cannot linger as stale justifications."""
    found = _sites()
    dead = {
        rel: sorted(set(names) - found.get(rel, set()))
        for rel, names in ALLOWED.items()
        if set(names) - found.get(rel, set())
    }
    assert not dead, f"stale ALLOWED entries with no call site: {dead}"


def test_no_sf_proportional_table_is_force_broadcast():
    """The concrete regression guard for the removed class: no
    F.broadcast whose leading identifier is one of the SF-proportional
    TPC-H tables or their conventional local names."""
    banned = {
        "customer", "supplier", "part", "orders", "lineitem",
        "cust", "supp", "li", "edges", "first_seen", "parents",
    }
    offenders = {
        rel: sorted(names & banned)
        for rel, names in _sites().items()
        if names & banned
    }
    assert not offenders, offenders
