"""Scale-path similarity operators vs their exact baselines.

- near_dup_lsh: precision must be exactly 1.0 (pairs are re-scored), recall
  measured against the brute-force emb_near_dup_bruteforce plan (DuckDB-oracle-checked
  itself, so this transitively anchors the LSH path).
"""

from __future__ import annotations
import pytest

from species_range_data_pipeline_spark.catalog import load_table
from species_range_data_pipeline_spark.operators.similarity import (
    near_dup_lsh,
)
from species_range_data_pipeline_spark.plans.vectors import (
    cosine_topk,
    emb_near_dup_bruteforce,
)

from .conftest import SF_CORRECT


def test_lsh_near_dup_precision_and_recall(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    got = {
        (r.vec_a, r.vec_b): r.cos_sim for r in near_dup_lsh(emb, 0.4).collect()
    }
    want = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in emb_near_dup_bruteforce(spark, SF_CORRECT).collect()
    }
    assert want, "fixture has no near-dup pairs; test is vacuous"
    # precision: every LSH pair is a true pair with the exact score
    for pair, sim in got.items():
        assert pair in want and want[pair] == sim, pair
    # recall: seeded hyperplanes; pin the floor so regressions surface
    recall = len(got) / len(want)
    assert recall >= 0.9, f"recall {recall:.2f} below floor"


@pytest.mark.slow  # r19 slow tier: union-find reference sweep; precision/recall + oracle lanes stay default
def test_lsh_components_match_union_find_on_recalled_pairs(spark):
    """Independent golden for the production SemDeDup lane
    (emb_dedup_components_lsh, VERDICT r11 next #4): the Spark
    large-star/small-star component tail over the LSH pair set must
    equal a pure-Python union-find over the SAME pairs (component
    correctness on the recalled subgraph), and the lane's clusters must
    cover >= 90% of the brute-force twin's clustered vectors (the
    recall the banding admits)."""
    from species_range_data_pipeline_spark.plans.vectors import (
        emb_dedup_components,
        emb_dedup_components_lsh,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    pairs = [
        (r.vec_a, r.vec_b) for r in near_dup_lsh(emb, 0.4).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ref: dict[int, list[int]] = {}
    for v in parent:
        ref.setdefault(find(v), []).append(v)
    want = {
        (root, len(ms), ",".join(str(m) for m in sorted(ms)))
        for root, ms in ref.items()
    }
    got = {
        (r.cluster_id, r.n_members, r.members)
        for r in emb_dedup_components_lsh(spark, SF_CORRECT).collect()
    }
    assert got == want
    # coverage vs the brute-force twin: near-total at the fixture scale
    brute_members = set()
    for r in emb_dedup_components(spark, SF_CORRECT).collect():
        brute_members.update(int(m) for m in r.members.split(","))
    lsh_members = {int(m) for row in got for m in row[2].split(",")}
    assert lsh_members <= brute_members  # precision 1.0: no false pairs
    coverage = len(lsh_members) / len(brute_members)
    assert coverage >= 0.9, f"clustered-vector coverage {coverage:.2f}"


def test_map_in_arrow_norms_match_jvm(spark):
    """The mapInArrow lane computes the same norms as the JVM fold
    expression (plans/vectors.emb_norms) on the fixture embeddings."""
    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.operators.similarity import (
        norms_map_in_arrow,
    )
    from species_range_data_pipeline_spark.plans.vectors import emb_norms

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {r.vec_id: r.l2_norm for r in norms_map_in_arrow(emb).collect()}
    want = {r.vec_id: r.l2_norm for r in emb_norms(spark, SF_SMOKE).collect()}
    assert got == want and len(got) > 0


def test_arrow_norm_kernel_handles_sliced_batches():
    """A sliced RecordBatch carries a nonzero offset on the list column;
    ``.values`` ignores it (full child buffer) while ``flatten()`` honors
    it.  The kernel must produce norms aligned with the SLICED vec_ids."""
    import math

    import pyarrow as pa

    from species_range_data_pipeline_spark.operators.similarity import (
        _norms_batch_kernel,
    )

    full = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2, 3, 4], type=pa.int64()),
            pa.array(
                [[3.0, 4.0], [6.0, 8.0], [5.0, 12.0], [8.0, 15.0]],
                type=pa.list_(pa.float32()),
            ),
        ],
        ["vec_id", "embedding"],
    )
    out = _norms_batch_kernel(full.slice(2))  # rows 3 and 4 only
    assert out.column("vec_id").to_pylist() == [3, 4]
    norms = out.column("l2_norm").to_pylist()
    assert math.isclose(norms[0], 13.0) and math.isclose(norms[1], 17.0)


def test_persisted_ivf_index_prunes_and_recalls(spark, tmp_path):
    """build_ivf_index persists cluster-sorted vector files whose zone
    maps let a probe open ONLY its bucket's files; search recall vs the
    brute-force top-k stays high on the fixture."""
    from species_range_data_pipeline_spark.catalog import load_table
    from species_range_data_pipeline_spark.operators.ann_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from species_range_data_pipeline_spark.sources.manifest_table import (
        manifest_scan_files,
    )

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, k=8, iters=4)

    # the cluster-sorted layout makes single-cluster reads open a strict
    # subset of the files
    all_files = manifest_scan_files(f"{idx}/vectors")
    one = manifest_scan_files(
        f"{idx}/vectors", filters=[("cluster", ">=", 0), ("cluster", "<=", 0)]
    )
    assert len(all_files) > 1 and len(one) < len(all_files)

    queries = emb.where("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS qvec"
    )
    got = search_ivf_index(
        spark, idx, queries, topk=5, nprobe=3, exclude_self=True
    )
    res = {(r.query_id, r.cand_id) for r in got.collect()}
    assert len(res) == 8 * 5

    # brute-force ground truth
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.operators.ann_index import (
        _as_double,
        _cosine,
    )

    cand = emb.selectExpr("vec_id AS cand_id", "embedding AS cvec")
    brute = (
        queries.crossJoin(cand)
        .where("cand_id != query_id")
        .select(
            "query_id",
            "cand_id",
            F.round(
                _cosine(_as_double(F.col("qvec")), _as_double(F.col("cvec"))), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "cand_id")
    truth = {
        (r.query_id, r.cand_id)
        for r in brute.withColumn("rnk", F.row_number().over(w))
        .where("rnk <= 5")
        .collect()
    }
    recall = len(res & truth) / len(truth)
    assert recall >= 0.6, recall


def test_pq_codes_shape_and_determinism(spark):
    """Encode is the persisted index state: every vector gets exactly m
    codes in [0, k); the whole train+encode pipeline is deterministic."""
    import numpy as np

    from species_range_data_pipeline_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    sample_rows = emb.orderBy("vec_id").limit(512).select("embedding").collect()
    sample = np.array([r[0] for r in sample_rows], dtype=np.float64)
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    b1 = train_pq_codebooks(sample, m=8, k=16)
    b2 = train_pq_codebooks(sample, m=8, k=16)
    assert (b1 == b2).all() and b1.shape == (8, 16, 8)

    codes = pq_encode(emb, b1).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes)


def test_pq_refined_recall_vs_exact(spark):
    """The emb_pq_topk contract: ADC shortlist + exact re-rank recovers
    >= 80% of the true top-3 at sf0.01 (measured 0.867, deterministic
    pipeline so the bound cannot flake), and >= 50% even on the 50-row
    near-orthogonal sf0.001 worst case (measured 0.533).  Raw ADC
    without refine must still rank SOMETHING for every query."""
    from species_range_data_pipeline_spark.operators.pq import pq_topk
    from species_range_data_pipeline_spark.plans.vectors import emb_pq_topk

    from .conftest import SF_SMOKE

    for sf, bound in [(SF_CORRECT, 0.8), (SF_SMOKE, 0.5)]:
        exact: dict[int, set[int]] = {}
        for r in cosine_topk(spark, sf).collect():
            exact.setdefault(r.query_id, set()).add(r.cand_id)
        approx: dict[int, set[int]] = {}
        for r in emb_pq_topk(spark, sf).collect():
            approx.setdefault(r.query_id, set()).add(r.cand_id)
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        tot = sum(len(v) for v in exact.values())
        assert hits / tot >= bound, (sf, hits, tot)
        assert set(approx) == set(exact)  # every query answered

    raw = pq_topk(
        load_table(spark, SF_CORRECT, "embeddings"), [0, 1, 2, 3, 4], k=3
    ).collect()
    assert {r.query_id for r in raw} == {0, 1, 2, 3, 4}
    assert all(r.rnk <= 3 for r in raw)
