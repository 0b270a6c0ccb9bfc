"""Aggregates every plan module's QUERIES/ORACLES for the driver contract."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULE_NAMES = [
    "relational",
    "tpch_extra",
    "advanced",
    "stats",
    "mining",
    "quality",
    "scalar",
    "text",
    "bpe",
    "packing",
    "retrieval",
    "vectors",
    "events",
    "media",
    "geo",
    "graph",
]

# The driver's correctness gate samples the FIRST 50 queries in dict
# iteration order.  The window is curated here and ROTATES each round
# (VERDICT r5 #1): driver-green evidence accumulates across rounds toward
# all registered queries, so already-green slots are swapped for queries
# that have never had a driver row.  Invariants (pinned by
# tests/test_registry.py): exactly 50 names, every plan module (all 16)
# represented, every name resolves, every name oracle-backed.
#
# From round 13 the window is GENERATED, not hand-curated (VERDICT r12
# next #7): ``python scripts/build_next_window.py`` computes it from the
# committed CORRECTNESS_r*.json union (flagship sentinel first, then
# never-windowed queries, then stalest-first fill, then a module-coverage
# fix-up), and tests/test_registry.py::test_priority_matches_window_builder
# pins this block to the script's output for the committed artifacts.
# _WINDOW_BUILT_FROM records the newest artifact round consumed; the test
# also asserts it equals the newest committed round, so a new round's
# session MUST regenerate this block (run the script, paste its output
# here, done) before the suite goes green.
#
# Round-17 window (thirteenth rotation; built from CORRECTNESS_r01..r16):
# first driver rows for the six r17 lakehouse-interop lanes —
# iceberg_read_deletes (v2 position deletes), delta_read_dv (deletion
# vectors), delta_read_changes + iceberg_read_changes (foreign-layout
# CDF twins), stream_delta_tail + stream_iceberg_tail (foreign-layout
# streaming sources) — then the ENTIRE r12-era tranche
# (VERDICT r16 next #1 — 17 queries incl. stream_tcp_restart; after
# this round the freshness floor moves to r13), then the stalest r13
# rows with module fillers resolved within them.
# Round-18 window (fourteenth rotation; built from CORRECTNESS_r01..r17):
# first driver rows for the eleven r18 lakehouse lanes —
# delta_read_column_mapping + delta_read_column_mapping_id (name- and
# id-mode mapping, field-id verified), delta_read_v2_checkpoint
# (uuid checkpoints + sidecars), delta_write_roundtrip and
# iceberg_write_roundtrip (the WRITERS: spec commits/snapshots + stats,
# read back through the repo's own readers), delta_dml_cow +
# iceberg_dml_mor (copy-on-write DELETE/UPDATE and merge-on-read
# position-delete DELETE over self-written tables),
# lakehouse_compaction (Delta OPTIMIZE + Iceberg compaction, masks
# materialized, zero logical change), iceberg_read_eq_deletes
# (equality deletes, sequence-scoped), stream_delta_cdf_tail and
# stream_iceberg_cdf_tail (streaming change data feeds, both layouts)
# — then the ENTIRE r13-era freshness tranche (VERDICT r17 next #1 —
# 23 queries; after this round the floor moves to r14), then the
# stalest r14 rows with module fillers resolved within them.
#
# r19 rotation (the same mechanical protocol): all r18 lakehouse
# first-rows went green, so the floor is now r14 — the window is the
# flagship sentinel plus the stalest-first r14/r15 tranche with the
# module fillers the builder resolved (media/bpe/scalar).
# r20 rotation (built from CORRECTNESS_r01..r19): the r14 tranche went
# green in r19, so the floor moves to r15; the r16-r18 rows are the
# builder's module fillers and stalest-first tail.
_WINDOW_BUILT_FROM = 19  # newest CORRECTNESS artifact consumed
_PRIORITY = [
    "flagship_threshold_rollup",  # r19 (relational)
    "agg_distinct",  # r15 (relational)
    "agg_entropy_gini",  # r15 (stats)
    "agg_grouping_sets",  # r15 (advanced)
    "agg_having",  # r15 (relational)
    "agg_percentiles",  # r15 (advanced)
    "geo_polygonize_components",  # r15 (geo)
    "geo_spatial_join_bin",  # r15 (geo)
    "join_asof",  # r15 (advanced)
    "join_interval_overlap",  # r15 (relational)
    "join_lateral_topk",  # r15 (relational)
    "join_left_counts",  # r15 (relational)
    "join_range_bands",  # r15 (advanced)
    "merge_upsert",  # r15 (stats)
    "pivot_wide_status",  # r15 (advanced)
    "q21_suppliers_kept_waiting",  # r15 (tpch_extra)
    "q2_top_supplier_per_nation",  # r15 (tpch_extra)
    "q9_product_type_profit",  # r15 (tpch_extra)
    "sample_stratified",  # r15 (quality)
    "setop_union_distinct",  # r15 (relational)
    "sky_pareto_front",  # r15 (mining)
    "sort_nulls_ordering",  # r15 (relational)
    "stream_dedup_replayed",  # r15 (events)
    "stream_interval_join",  # r15 (events)
    "stream_manifest_tail",  # r15 (events)
    "stream_ohlc_flush",  # r15 (events)
    "stream_session_flush",  # r15 (events)
    "stream_stateful_totals",  # r15 (events)
    "subq_above_nation_avg",  # r15 (advanced)
    "subq_exists_late_lines",  # r15 (advanced)
    "text_decontaminate_purge_external",  # r15 (text)
    "warc_ingest_roundtrip",  # r15 (text)
    "webdataset_roundtrip",  # r15 (text)
    "window_anomaly_zscore",  # r15 (advanced)
    "window_rank_dense",  # r15 (relational)
    "hier_rollup",  # r16 (graph)
    "retrieval_rrf_fusion",  # r16 (retrieval)
    "multimodal_ahash_dups",  # r17 (media)
    "bpe_train_merges",  # r18 (bpe)
    "basket_brand_pairs",  # r16 (mining)
    "date_funcs",  # r16 (scalar)
    "dedup_ngram_jaccard",  # r16 (text)
    "delta_read_snapshot",  # r16 (stats)
    "doc_pack_sequences_sharded",  # r16 (packing)
    "dq_checks",  # r16 (quality)
    "emb_dedup_components_lsh",  # r16 (vectors)
    "emb_near_dup_bruteforce",  # r16 (vectors)
    "emb_norms",  # r16 (vectors)
    "ev_gapfill",  # r16 (events)
    "ev_ohlc_bars",  # r16 (events)
]

# Queries whose oracles are pure VALUES restatements of expected OUTPUT
# (no fixture-table computation beyond the scale-key count) — i.e. rows
# captured from the engine's own verified output (the r6/r7 graduation
# of the rows-only set).  The driver hash-check on these detects
# drift/nondeterminism, NOT independent correctness — that burden stays
# on the per-query golden tests (numpy kmeans/PCA, pure-Python BPE/FFD,
# zlib compression, HLL/CMS/bottom-k error bounds, planted-pair media
# fixtures).  tests/test_registry.py maps every name here to its golden
# and asserts both directions (no untagged self-pin, no tag without a
# golden).  Everything NOT listed is a cross-engine DuckDB restatement
# of the computation itself.
SELF_PINNED = frozenset({
    "bpe_encode_tokens",
    "bpe_train_merges",
    "doc_pack_ffd",
    "emb_dedup_components_lsh",
    "emb_kmeans",
    "emb_near_dup_lsh",
    "emb_pca_project",
    "emb_pq_topk",
    "multimodal_ahash_dups",
    "multimodal_decode_stats",
    "sketch_cms_brand_counts",
    "sketch_hll_distinct",
    "sketch_quantile_bottomk",
    "subtitle_cue_stats",
    "text_compression_ratio",
})


def _modules():
    import importlib

    mods = []
    for name in _MODULE_NAMES:
        try:
            mods.append(importlib.import_module(f"{__package__}.{name}"))
        except ModuleNotFoundError:
            continue  # module not built yet; registry stays partial
    return mods


def _prioritize(d: dict) -> dict:
    """Reorder so _PRIORITY keys lead (in that order), rest keep module order."""
    head = {k: d[k] for k in _PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r}")
            queries[name] = fn
    return _prioritize(queries)


def all_oracles() -> dict[str, str]:
    oracles: dict[str, str] = {}
    for mod in _modules():
        oracles.update(getattr(mod, "ORACLES", {}))
    return _prioritize(oracles)
