"""Scale-path similarity operators over embedding columns.

- ``near_dup_lsh``: random-hyperplane LSH (SimHash for vectors).  The
  brute-force all-pairs cosine (plans/vectors.py emb_near_dup) is O(n^2)
  comparisons — at 100 TB that plan is unrunnable.  Here each vector gets a
  k-bit signature (sign of dot with k fixed random hyperplanes); signatures
  are banded like MinHash-LSH, vectors sharing any band bucket become
  candidates, and ONLY candidates are exactly re-scored.  Collision
  probability per bit is 1 - theta/pi (theta = angle between vectors), so
  near-duplicates collide in some band with high probability while the
  expected candidate count stays near-linear.  Precision is exact (re-score
  filter); recall is tunable via (n_planes, bands).
- ``norms_map_in_arrow``: L2 norms through ``mapInArrow``, one vectorized
  numpy call per Arrow batch.

The hyperplanes are seeded, generated once on the driver, and inlined as
literal arrays — every executor evaluates the same signature with zero
side-channel state (no broadcast variable, restart-safe).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine, dot
from ..functions.materialize import materialize_once


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """(n_planes, dim) standard-normal hyperplanes, deterministic by seed."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _plane_lit(plane: np.ndarray) -> Column:
    return F.array(*[F.lit(float(x)) for x in plane])


#: Hot-bucket fan-out cap (the plans/text.py `_LSH_BUCKET_CAP` discipline
#: applied to the embedding side, r12).  Higher than the text cap because
#: the fixture's 2-bit bands make ~n/4-sized buckets BY PARAMETERIZATION
#: (the docstring below says when to widen bands instead): the sf0.1
#: fixture's largest bucket measures 650, so 4000 keeps >6x headroom for
#: the VALUES pins (tests/test_dedup_adversarial.py guards the margin)
#: while bounding any one shard's pair fan-out at C(4000,2) ~ 8e6 — a
#: mass-duplicated embedding column cannot go quadratic past it.
_EMB_BUCKET_CAP = 4000


def near_dup_candidates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    cap: int = _EMB_BUCKET_CAP,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing >=1 LSH band bucket.

    Banding math: per-bit collision probability is 1 - theta/pi, so a band
    of r bits collides with p_band = (1 - theta/pi)^r and recall over B
    bands is 1 - (1 - p_band)^B.  The defaults (16 planes, 8 bands of 2)
    give ~0.98 recall at cos 0.4 (theta ~66 deg — a WORST case: candidate
    volume is high because 2-bit buckets are coarse).  For true near-dup
    thresholds (cos >= 0.9, theta <= 26 deg) use 4-8 bits per band: recall
    stays >=0.99 while candidates collapse to near-linear.

    One pass computes all signature bits (JVM fold per plane), one explode
    fans each vector to its ``bands`` buckets, one groupBy builds the
    buckets; pair generation is bucket-local (same shape as the MinHash LSH
    in plans/text.py, so the same 100 TB argument applies: cost is
    O(sum bucket^2), bounded by band selectivity for the tuned
    parameterization).  Buckets beyond ``cap`` hash-sub-shard (the
    plans/text.py r12 hardening): a mass-duplicated embedding cannot blow
    up the collect_list row or the C(k,2) explode, and degrades to ~one
    survivor per ~cap-sized shard downstream instead of escaping dedup.
    The sizes agg and the pair branch share ONE materialization of the
    narrow (id, 16-bit) signature via a lazy localCheckpoint — at 100 TB
    re-deriving signatures would re-scan the wide embedding column twice.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    v = as_double(vec_col)
    bits = [
        (dot(v, _plane_lit(planes[p])) >= 0).cast("int").alias(f"b{p}")
        for p in range(n_planes)
    ]
    sig = materialize_once(
        emb.select(F.col(id_col).alias("id"), *bits)
    )
    per_band = n_planes // bands
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.concat_ws(
                "#", *[f"b{b * per_band + j}" for j in range(per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    sizes = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    shard = F.when(
        F.col("n") > cap,
        F.pmod(F.xxhash64("id"), F.ceil(F.col("n") / cap)).cast("int"),
    ).otherwise(F.lit(0))
    buckets = (
        banded.join(sizes, ["band", "bucket"])
        .select("id", "band", "bucket", shard.alias("shard"))
        .groupBy("band", "bucket", "shard")
        .agg(F.collect_list("id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    return (
        buckets.select("ids", F.explode("ids").alias("id_a"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    cap: int = _EMB_BUCKET_CAP,
) -> DataFrame:
    """LSH candidates -> exact cosine re-score -> pairs >= threshold.

    Output schema matches the brute-force emb_near_dup (vec_a, vec_b,
    cos_sim); every returned pair is exact (precision 1.0 by construction),
    recall is whatever the banding admits — tests measure it against the
    brute-force plan."""
    cand = near_dup_candidates(
        emb, id_col, vec_col, dim, n_planes, bands, seed, cap=cap
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(cosine(as_double("va"), as_double("vb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def norms_map_in_arrow(emb):
    """L2 norms via ``mapInArrow`` — the lowest-overhead Python lane.

    Unlike mapInPandas (Arrow -> pandas Series of numpy arrays, one object
    per row), mapInArrow hands the raw ``pyarrow.RecordBatch``: the
    embedding column is one contiguous FixedSize/ListArray buffer, reshaped
    and reduced with a single vectorized numpy call — zero per-row Python
    objects.  Interop ranking on this engine: JVM fold expressions
    (plans/vectors.py) > mapInArrow (here) > mapInPandas (BLAS variant
    above) > row UDFs (never).  Used when the kernel needs numpy but the
    grouping machinery of applyInPandas doesn't apply.
    """
    def fn(batches):
        for batch in batches:
            yield _norms_batch_kernel(batch)

    return emb.select("vec_id", "embedding").mapInArrow(
        fn, "vec_id long, l2_norm double"
    )


def _norms_batch_kernel(batch):
    """Per-batch norm kernel, module-level so the sliced-batch case is unit
    testable.  ``flatten()`` is slice-offset-aware; ``.values`` would return
    the FULL child buffer of a sliced ListArray and misalign norms with
    vec_ids."""
    import numpy as np
    import pyarrow as pa

    vec_id = batch.column("vec_id")
    col = batch.column("embedding")
    arr = col.flatten().to_numpy(zero_copy_only=False)
    n = len(col)
    mat = arr.reshape(n, -1) if n else arr.reshape(0, 1)
    norms = np.sqrt((mat.astype("float64") ** 2).sum(axis=1))
    return pa.RecordBatch.from_arrays(
        [vec_id, pa.array(np.round(norms, 6), type=pa.float64())],
        ["vec_id", "l2_norm"],
    )
