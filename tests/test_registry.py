"""Registry-contract pins: driver window coverage + rows-only determinism.

The driver's correctness gate hash-checks the FIRST 50 queries in
``registry.all_queries()`` iteration order, so the window composition is a
load-bearing contract: it must span every plan module or whole operator
families produce zero driver-visible evidence (the round-4 finding).
"""

from __future__ import annotations

import importlib

import pytest

from species_range_data_pipeline_spark.plans import registry

from .conftest import SF_CORRECT


def _module_of() -> dict[str, str]:
    mod_of: dict[str, str] = {}
    for m in registry._MODULE_NAMES:
        mod = importlib.import_module(
            f"species_range_data_pipeline_spark.plans.{m}"
        )
        for q in getattr(mod, "QUERIES", {}):
            mod_of[q] = m
    return mod_of


def test_priority_names_all_exist():
    queries = registry.all_queries()
    missing = [p for p in registry._PRIORITY if p not in queries]
    assert missing == []


def test_priority_is_exactly_the_driver_window():
    """The curation assumes the driver samples the FIRST 50 (VERDICT r5
    'what's wrong' #2): if _PRIORITY drifts from that size, the evidence
    window silently shifts.  Also pin no-duplicates."""
    assert len(registry._PRIORITY) == 50
    assert len(set(registry._PRIORITY)) == 50
    assert list(registry.all_queries())[:50] == registry._PRIORITY


def test_priority_matches_window_builder():
    """The window is generated, not hand-curated (VERDICT r12 next #7).

    ``scripts/build_next_window.py`` derives the 50-slot window from the
    committed CORRECTNESS_r*.json evidence union; this pin asserts (a)
    ``_PRIORITY`` is exactly the script's output for the artifacts up to
    ``_WINDOW_BUILT_FROM``, and (b) ``_WINDOW_BUILT_FROM`` is the newest
    committed artifact round — so when the driver lands a new round's
    artifact, the next session must regenerate the block (run the
    script, paste) before the suite is green.  Freshness can no longer
    drift by hand-editing.
    """
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "scripts"))
    try:
        import build_next_window as bnw
    finally:
        sys.path.pop(0)

    rounds = bnw.committed_rounds(str(repo))
    assert rounds, "no CORRECTNESS artifacts committed"
    assert registry._WINDOW_BUILT_FROM == rounds[-1], (
        f"window built from r{registry._WINDOW_BUILT_FROM} but newest "
        f"committed artifact is r{rounds[-1]} — regenerate _PRIORITY with "
        "scripts/build_next_window.py"
    )
    newest = bnw.newest_green(str(repo), registry._WINDOW_BUILT_FROM)
    mod_of, eligible = bnw.registry_inputs()
    assert registry._PRIORITY == bnw.build_window(newest, mod_of, eligible)


def test_first50_window_spans_every_module():
    first50 = list(registry.all_queries())[:50]
    mod_of = _module_of()
    covered = {mod_of[q] for q in first50}
    assert covered == set(registry._MODULE_NAMES)


def test_oracles_subset_of_queries_and_order_consistent():
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    assert set(oracles) <= set(queries)
    # every window query is hash-checkable: the r5 rows-only trio now
    # carries scale-keyed VALUES oracles, so the window is 50/50 oracled
    first50 = list(queries)[:50]
    rows_only_in_window = [q for q in first50 if q not in oracles]
    assert rows_only_in_window == []


ROWS_ONLY = sorted(set(registry.all_queries()) - set(registry.all_oracles()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_nonempty_and_deterministic(spark, name):
    """Driver insurance for rows-only queries (VERDICT r4 item #7).

    The driver records a rows-only check for queries without an oracle; a
    nondeterministic or empty result would flap across rounds.  Run each
    twice — the second time in a fresh ``newSession`` (clean temp-view /
    conf state) and with a different shuffle-partition count so
    partition-layout-dependent nondeterminism surfaces — and require
    identical sorted rows.
    """
    queries = registry.all_queries()
    fn = queries[name]

    first = fn(spark, SF_CORRECT)
    rows1 = sorted(map(str, first.collect()))
    assert len(rows1) > 0

    other = spark.newSession()
    prev = other.conf.get("spark.sql.shuffle.partitions")
    other.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sorted(map(str, fn(other, SF_CORRECT).collect()))
    finally:
        other.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2


def test_oracled_query_schemas_are_driver_sortable(registry_plans):
    """The driver's canonicalizer pandas-sorts across ALL output columns
    before hashing; a top-level array/map/struct column dies with
    ``unhashable type`` (the round-6 ``emb_label_centroids`` ERR).  Any
    oracle-backed query can enter a future rotation window, so every one
    must resolve to scalar-only top-level columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name in registry.all_oracles():
        schema = registry_plans[name][0]
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append((name, bad))
    assert offenders == []


# Scale-keyed VALUES oracles return rows ONLY for the pinned fixture
# cardinalities; at any other scale the oracle is empty and the parity
# failure reads as a confusing row-count mismatch.  Pin here which scales
# each one supports so a fixture change fails with an explicit message.
SCALE_KEYED_ORACLES = {
    "bpe_encode_tokens": ("documents", {500, 5000}),
    "emb_pq_topk": ("embeddings", {500, 2000}),
    "text_compression_ratio": ("documents", {500, 5000}),
    "sketch_quantile_bottomk": ("events", {10_000, 100_000}),
    # plans/pinned.py (round-7 graduation of the last rows-only queries)
    "emb_dedup_components_lsh": ("embeddings", {500, 2000}),
    "emb_kmeans": ("embeddings", {500, 2000}),
    "emb_near_dup_lsh": ("embeddings", {500, 2000}),
    "emb_pca_project": ("embeddings", {500, 2000}),
    "sketch_hll_distinct": ("customer", {1500, 15_000}),
    "sketch_cms_brand_counts": ("lineitem", {60_000, 600_000}),
    "bpe_train_merges": ("documents", {500, 5000}),
    "doc_pack_ffd": ("documents", {500, 5000}),
}


@pytest.mark.parametrize("name", sorted(SCALE_KEYED_ORACLES))
def test_scale_keyed_oracles_pin_the_correctness_scale(duck, name):
    table, pinned = SCALE_KEYED_ORACLES[name]
    n = duck.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    assert n in pinned, (
        f"{name}: oracle pins {table} cardinalities {sorted(pinned)} but the "
        f"sf0.01 fixture now has {n} rows — re-derive the VALUES rows for "
        f"this scale (see the oracle's docstring for the capture recipe)"
    )


# ADVICE r7: self-pinned VALUES oracles (rows captured from the engine's
# own output) are a weaker evidence class than cross-engine DuckDB
# restatements — the driver gate on them detects drift, not correctness.
# Keep that class visible: every self-pinned query maps to the
# INDEPENDENT golden test that carries its correctness burden, and the
# tag set cannot drift from the oracle text in either direction.
SELF_PINNED_GOLDENS = {
    "bpe_encode_tokens": "tests/test_bpe.py::test_encode_matches_reference_and_roundtrips",
    "bpe_train_merges": "tests/test_bpe.py::test_spark_bpe_matches_reference_on_fixture_corpus",
    "doc_pack_ffd": "tests/test_packing.py::test_doc_pack_ffd_matches_reference_and_bounds",
    "emb_kmeans": "tests/test_clustering.py::test_kmeans_matches_numpy_reference",
    "emb_dedup_components_lsh": "tests/test_similarity.py::test_lsh_components_match_union_find_on_recalled_pairs",
    "emb_near_dup_lsh": "tests/test_similarity.py::test_lsh_near_dup_precision_and_recall",
    "emb_pca_project": "tests/test_clustering.py::test_pca_matches_numpy_reference",
    "emb_pq_topk": "tests/test_similarity.py::test_pq_refined_recall_vs_exact",
    "multimodal_ahash_dups": "tests/test_media_queries.py::test_ahash_dups_finds_planted_pairs",
    "multimodal_decode_stats": "tests/test_codecs.py::test_png_roundtrip_all_color_types",
    "sketch_cms_brand_counts": "tests/test_plans.py::test_cms_estimates_bound_exact_counts",
    "sketch_hll_distinct": "tests/test_plans.py::test_hll_estimate_within_tolerance",
    "sketch_quantile_bottomk": "tests/test_plans.py::test_bottomk_quantile_sketch_rank_error_bounded",
    "subtitle_cue_stats": "tests/test_subtitles.py::test_srt_cues_and_markup",
    "text_compression_ratio": "tests/test_quality_signals.py::test_compression_ratio_matches_direct_zlib",
}


def test_self_pinned_set_matches_oracle_shape():
    """A self-pin is detectable from the SQL itself: a pure VALUES
    restatement of output rows, referencing fixture tables only through
    the scale-key ``SELECT count(*) FROM <table>`` subquery.  Assert the
    registry tag set equals exactly that detected set, so a future
    self-pinned oracle cannot ship untagged (ADVICE r7 #1) and a
    graduated-to-cross-engine oracle cannot stay tagged."""
    import re

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    detected = set()
    for name, sql in registry.all_oracles().items():
        if "VALUES" not in sql:
            continue
        body = re.sub(r"SELECT count\(\*\) FROM \w+", "", sql)
        if not any(re.search(rf"\b{t}\b", body) for t in tables):
            detected.add(name)
    assert detected == set(registry.SELF_PINNED)


def test_every_self_pinned_query_has_an_independent_golden():
    import ast
    from pathlib import Path

    assert set(SELF_PINNED_GOLDENS) == set(registry.SELF_PINNED)
    root = Path(__file__).resolve().parent.parent
    for name, ref in SELF_PINNED_GOLDENS.items():
        path, test_name = ref.split("::")
        tree = ast.parse((root / path).read_text())
        fns = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
        assert test_name in fns, f"{name}: golden {ref} no longer exists"


def test_pandas_udf_lanes_declare_their_kind_by_type_hints(spark):
    """The scalar and grouped-aggregate pandas UDFs take their kind from
    type hints: building their lanes raises no ``PandasUDFType``
    deprecation warning."""
    import warnings

    queries = registry.all_queries()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for name in ("delta_read_dv", "window_udaf_ewma", "emb_label_centroids"):
            queries[name](spark, SF_CORRECT)
    deprecated = [str(w.message) for w in caught if "pandas UDF type" in str(w.message)]
    assert deprecated == []
