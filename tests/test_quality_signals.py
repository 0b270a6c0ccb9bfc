"""Quality-signal operators without a SQL oracle: the zlib
compression-ratio kernel is pinned by information-theoretic invariants
and a direct stdlib recomputation."""

from __future__ import annotations

import zlib

import pytest

from species_range_data_pipeline_spark.plans.quality import (
    text_compression_ratio,
)

from .conftest import SF_CORRECT


def test_compression_ratio_matches_direct_zlib(spark):
    rows = {r.lang: r for r in text_compression_ratio(spark, SF_CORRECT).collect()}
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").collect()
    by_lang: dict[str, list[float]] = {}
    for d in docs:
        b = d.text.encode("utf-8")
        by_lang.setdefault(d.lang, []).append(
            round(len(zlib.compress(b, 6)) / max(1, len(b)), 6)
        )
    assert set(rows) == set(by_lang)
    for lang, ratios in by_lang.items():
        assert rows[lang].n_docs == len(ratios)
        assert rows[lang].avg_ratio == pytest.approx(
            round(sum(ratios) / len(ratios), 4), abs=1e-4
        )
        assert rows[lang].min_ratio == pytest.approx(min(ratios), abs=1e-4)
        assert rows[lang].max_ratio == pytest.approx(max(ratios), abs=1e-4)


def test_ratio_orders_repetitive_below_random(spark):
    """The signal must separate what it exists to separate."""
    from species_range_data_pipeline_spark.plans import quality  # noqa: F401
    import numpy as np

    rng = np.random.RandomState(0)
    rep = ("lorem ipsum " * 200).encode()
    rnd = bytes(rng.randint(32, 127, len(rep), dtype=np.uint8))
    r_rep = len(zlib.compress(rep, 6)) / len(rep)
    r_rnd = len(zlib.compress(rnd, 6)) / len(rnd)
    assert r_rep < 0.05 < 0.5 < r_rnd


def test_funnel_pass_equals_shared_predicate(spark):
    """doc_quality_funnel's 'pass' bucket must agree with the shared
    quality_pass_condition used by the capstone and streaming ingest."""
    from species_range_data_pipeline_spark.plans.quality import (
        doc_quality_funnel,
        quality_pass_condition,
    )

    rows = {r.stage: r.n_docs for r in doc_quality_funnel(spark, SF_CORRECT).collect()}
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    assert rows.get("pass", 0) == docs.where(quality_pass_condition()).count()


def test_token_budget_cut_splits_a_tied_score_bucket(spark):
    """A synthetic corpus whose budget lands MID-bucket: ties at the
    crossing score must be cut by doc_id prefix order, not whole-bucket."""
    from species_range_data_pipeline_spark.plans.quality import (
        curation_token_budget,
    )
    import tempfile

    # one language, scores 30/20/20/20/10 with token counts 5/3/3/3/12
    # (n_chars is the quality score; the token count is independent).
    # Total 26 tokens -> budget floor(0.4*26)=10: doc1 (cum 5) and doc2
    # (cum 8) are kept, the three-way score-20 tie crosses the budget at
    # doc3 (cum 11 > 10), so the bucket splits by doc_id.
    rows = [
        (1, "xx", 30, "word " * 5),
        (2, "xx", 20, "word " * 3),
        (3, "xx", 20, "word " * 3),
        (4, "xx", 20, "word " * 3),
        (5, "xx", 10, "word " * 12),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars int, text string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = [tuple(r) for r in curation_token_budget(spark, d).collect()]
    # (lang, n_total, n_kept, budget_tokens, tokens_used, id_checksum)
    assert got == [("xx", 5, 2, 10, 8, 3)]


def test_keep_best_winner_null_and_overflow_semantics(spark):
    """The keep-best argmin must realize n_chars DESC **NULLS LAST**
    (ADVICE r12): a bare ``-n_chars`` makes a NULL neg_chars sort FIRST
    in struct comparison and win, inverting the window semantics; int
    negation also overflows at INT_MIN.  Pin both: the NULL-n_chars row
    loses to any real length, and INT_MIN survives negation."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.plans.quality import (
        _keep_best_winner,
    )

    rows = [
        (1, None, "en"),   # NULL length: must LOSE
        (2, 10, "de"),     # longest real: must WIN
        (3, 5, "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, n_chars int, lang string")
    got = df.agg(_keep_best_winner().alias("w")).select("w.doc_id").first()[0]
    assert got == 2

    int_min = -(2**31)
    df2 = spark.createDataFrame(
        [(1, int_min, "en"), (2, None, "de")],
        "doc_id int, n_chars int, lang string",
    )
    got2 = df2.agg(_keep_best_winner().alias("w")).select(
        "w.doc_id", "w.lang"
    ).first()
    assert tuple(got2) == (1, "en")  # INT_MIN beats NULL, no overflow
