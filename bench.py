"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes fully via the `noop` sink (no driver-side collect skew);
value = sum of per-query wall seconds.

stdout carries the compact summary only (medians + totals + streaming);
the full dump with cold/min spreads is written to ./BENCH_LOCAL.json so a
truncated stdout capture never destroys the round's perf evidence.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from species_range_data_pipeline_spark.plans import registry  # noqa: E402
from species_range_data_pipeline_spark.session import get_spark  # noqa: E402

# Headline set: the flagship shape + one representative per operator family
# that exists at bench time (registry is partial early in the build).
HEADLINE = [
    "flagship_threshold_rollup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "q10_returned_revenue",
    "window_topk_per_group",
    "agg_distinct",
    "agg_cube",
    "join_anti_idempotent",
    "join_asof",
    "dedup_minhash_lsh",
    "text_quality",
    "cosine_topk",
    "ev_sessionization",
    "geo_dissolve_area",
    # new families (round-1 continuation): EXISTS/NOT-EXISTS chains, CDC
    # merge, time-series gap fill
    "q21_suppliers_kept_waiting",
    "merge_upsert",
    "ev_gapfill",
    # mining/graph family representatives
    "basket_brand_pairs",
    "graph_pagerank",
    # MV maintenance + bigram LM (window-over-exploded-tokens shape)
    "mv_incremental_refresh",
    "text_bigram_lm",
    # LLM-pipeline decontamination (hashed-gram join) and the tile-binned
    # spatial join family
    "text_decontaminate",
    "geo_spatial_join_bin",
    # training-batch assembly (window-packing shape over documents), the
    # fused filter->dedup->pack capstone, and hybrid RRF retrieval
    "doc_pack_sequences",
    "corpus_pipeline_summary",
    "retrieval_rrf_fusion",
    # substring-level dedup (detect + cut): hashed-gram shuffle, per-doc
    # ordered window, order-pinned reassembly
    "dedup_substring_cut",
    # r4 additions: paragraph-level cross-doc dedup (chunk window +
    # reassembly) and the temporal bin-and-refine interval join
    "dedup_paragraphs",
    "join_interval_overlap",
    # r7 additions: PQ/ADC ANN (codebook train + encode + lookup),
    # SimHash near-dup, the metric-units dissolve->reproject lane, and
    # the multimodal decode rollup (mapInPandas codec path)
    "emb_pq_topk",
    "dedup_simhash",
    "geo_dissolve_area_m2",
    "multimodal_decode_stats",
    # r8 additions: the corpus-curation cut lane (token-budget selection
    # and per-domain caps — window + same-key groupBy, one exchange each)
    "curation_token_budget",
    "curation_domain_cap",
    # r11 addition (VERDICT r10 next #6): one streaming lane in the
    # control-normalized headline frame — the cheapest, most stable of
    # the stream_* family (4-microbatch availableNow drain into a
    # memory sink), so streaming-engine regressions surface alongside
    # the batch rows instead of only in the separate medallion number.
    "stream_tumbling_counts",
    # r13 additions: the deterministic global training shuffle (one
    # exchange, the shard writer's own repartition) and MMR diversified
    # retrieval (broadcast candidate cut + K-1 lazy-checkpointed greedy
    # rounds — the job-count-heavy lane shape, like pagerank).
    "dataset_shuffle_shards",
    "retrieval_mmr_diversify",
    # r14 additions (VERDICT r13 next #2/#3): the IVF-headed MMR — the
    # registered 100-TB candidate path (centroid probe + cluster-keyed
    # hash join instead of the exact head's full-corpus broadcast scan)
    # — and the manifest-fed incremental dedup, whose FIRST pass per
    # session pays the signature-ingest half (cold column) while warm
    # passes read the committed manifest (the nightly production shape:
    # ingest amortized, dedup reads signatures only).
    "retrieval_mmr_diversify_ivf",
    "dedup_incremental_minhash_manifest",
    # r15 addition (VERDICT r14 next #3): the size-dispatched MMR lane —
    # exact branch at fixture scale (query count under the broadcast
    # cap), so its warm cost should track retrieval_mmr_diversify plus
    # the one aggregation-only sizing job.
    "retrieval_mmr_auto",
]


def bench_streaming_medallion(spark, sf_dir: str) -> dict:
    """End-to-end medallion hop: events parquet --(file stream)--> bronze
    manifest table --(manifest_stream tail)--> watermarked tumbling-window
    aggregate --> gold (memory sink).  Returns wall seconds + events/sec
    so the streaming stack has a tracked perf number (the pytest suite
    checks semantics only).  Run twice, min reported, like the batch set."""
    import shutil
    import tempfile

    from species_range_data_pipeline_spark.sources.manifest_stream import (
        register_manifest_stream_source,
    )
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_stream_manifest,
    )
    from species_range_data_pipeline_spark.streaming.events import (
        read_event_stream,
        windowed_counts,
    )

    register_manifest_stream_source(spark)
    # the fixture is a single parquet file; the file-stream source needs a
    # directory of arrivals — stage into 8 files (setup, untimed) so the
    # bronze hop runs several real microbatches
    stage = tempfile.mkdtemp(prefix="bench_medallion_events_")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = events.count()
    events.repartition(8).write.mode("overwrite").parquet(f"{stage}/events")
    runs: list[float] = []
    windows = 0
    for trial in range(2):
        tmp = tempfile.mkdtemp(prefix="bench_medallion_")
        try:
            t0 = time.perf_counter()
            bronze = f"{tmp}/bronze"
            ev = read_event_stream(
                spark, f"{stage}/events", max_files_per_trigger=4
            )
            q1 = write_stream_manifest(ev, bronze, f"{tmp}/ck1")
            q1.processAllAvailable()
            q1.stop()
            tail = (
                spark.readStream.format("manifest_stream")
                .option("path", bronze)
                .load()
            )
            name = f"bench_medallion_gold_{trial}"
            q2 = (
                windowed_counts(tail)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", f"{tmp}/ck2")
                .trigger(availableNow=True)
                .start()
            )
            q2.awaitTermination(600)
            windows = spark.table(name).count()
            runs.append(time.perf_counter() - t0)
        except Exception as e:  # must not kill the batch bench output
            print(f"bench: streaming_medallion FAILED: {e}", file=sys.stderr)
            shutil.rmtree(stage, ignore_errors=True)
            return {}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    wall = min(runs)
    return {
        "streaming_medallion_sec": round(wall, 3),
        "streaming_medallion_cold_sec": round(runs[0], 3),
        "streaming_events_per_sec": round(n_events / wall),
        "streaming_gold_windows": int(windows),
    }


def bench_stream_noop_drain(spark) -> float:
    """The streaming-floor probe (r14, VERDICT r13 next #1): one
    availableNow drain with the SAME machinery as the stream_* lanes —
    a 4-file parquet stage, ``maxFilesPerTrigger=1`` (so 4 genuine
    microbatches with offset/commit-log writes), complete-mode memory
    sink — over a 4-row no-op frame, i.e. zero data work.  Its wall
    time IS the microbatch/checkpoint floor the stream lanes are
    dominated by, measured in the same session on the same box.

    Why this exists: the r13 gate breach showed ``stream_sec /
    graph_pagerank`` is not box-speed-invariant — the numerator is
    floor-dominated and the denominator compute-dominated, so a fast
    box inflates the ratio with no regression anywhere (r14 A/B:
    pagerank swung 1.67→2.72 s across sessions while the stream lane's
    steady median sat at 7.6 s both times).  Dividing floor by floor
    cancels the box's scheduler/fsync speed instead.
    """
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bench_stream_floor_")
    try:
        t0 = time.perf_counter()
        spark.range(4).repartition(4).write.parquet(f"{tmp}/in")
        name = f"bench_noop_drain_{int(t0 * 1000) % 1_000_000_000}"
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):  # ADVICE r14: a hung drain must
            q.stop()                     # fail, not publish ~600s as the
            raise RuntimeError(          # streaming floor
                "noop drain did not terminate within 600s"
            )
        spark.table(name).collect()
        return round(time.perf_counter() - t0, 3)
    except Exception as e:  # must not kill the batch bench output
        print(f"bench: stream_noop_drain FAILED: {e}", file=sys.stderr)
        return 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    # Warm up infrastructure so per-query numbers measure the plan, not
    # first-touch initialization: parquet footers for every fixture table,
    # and the Python worker pool + Arrow lanes (geo/dedup plans pay a
    # multi-second daemon spawn on first applyInPandas otherwise).
    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings", "nation", "region", "supplier", "part"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    warm = spark.range(64).selectExpr("id", "id % 32 as g")
    warm.groupBy("g").applyInPandas(
        lambda pdf: pdf.head(1), "id long, g bigint"
    ).count()

    # Streaming runs FIRST (right after warm-up): measured last, after
    # ~170 batch executions, the same medallion read 12.6k ev/s in one
    # run and 29.5k standalone — JVM session history (codegen cache, GC
    # pressure) degrades it and min-of-2 cannot save a reading whose
    # both trials are late in the session.
    streaming = bench_streaming_medallion(spark, sf_dir)
    # streaming-floor probe: cold pass discarded (one-time stream-engine
    # init reads ~3x steady), median of 3 steady passes published
    bench_stream_noop_drain(spark)
    _floor_passes = [bench_stream_noop_drain(spark) for _ in range(3)]
    stream_floor = (
        round(statistics.median(_floor_passes), 3)
        if all(_floor_passes)
        else 0.0
    )

    # Cold pass + warm passes per query.  Round-4 showed a one-shot
    # reading measures session history (GC / Python-worker-pool churn),
    # not the plan; round-6 showed min-of-2 still has ~±2x noise on
    # sub-second queries (text_quality 1.65->0.54s and text_bigram_lm
    # 0.62->1.24s with ZERO code changes).  So: queries whose first warm
    # pass lands under 2s get 4 warm passes and report the MEDIAN
    # ("queries", the headline number); slower queries keep one warm
    # pass.  The cold pass and the per-query min ride alongside so the
    # spread is auditable.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    mins: dict[str, float] = {}
    _SHORT_QUERY_SEC = 2.0
    _SHORT_WARM_PASSES = 4

    jobs: dict[str, int] = {}

    def _run_once(fn) -> float | None:
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # one broken query must not kill the run
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            return None
        return time.perf_counter() - t0

    def _all_job_ids() -> set[int]:
        """Job ids across ALL job groups from the app status store.
        statusTracker().getJobIdsForGroup(None) only sees the default
        group (ADVICE r11): streaming lanes run jobs from
        streaming-engine threads that carry their own group, so their
        counts undercounted.  Bounded by spark.ui.retainedJobs (1000) —
        far above any single headline pass; id-set diffing makes
        eviction of OLD ids harmless.

        The status-store path reaches through private internals
        (``_jsc``, scala CollectionConverters) that are not stable API
        (ADVICE r12): fall back to the public
        ``statusTracker().getJobIdsForGroup(None)`` — default-group-only
        (streaming lanes undercount again) but it degrades the column
        instead of crashing the bench on a Spark upgrade."""
        try:
            seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
            jlist = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                seq
            )
            return {j.jobId() for j in jlist}
        except Exception:
            return set(
                spark.sparkContext.statusTracker().getJobIdsForGroup(None)
            )

    def _run_once_counted(fn) -> float | None:
        """One pass with its Spark JOB count recorded (SCALE.md rule 45:
        on a box whose per-job scheduler overhead drifts, a row is only
        judgeable against a control of similar job count — so the count
        is published with the timing)."""
        before = _all_job_ids()
        dt = _run_once(fn)
        if dt is not None:
            jobs[name] = len(_all_job_ids() - before)
        return dt

    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        first = _run_once(fn)
        warm = [_run_once_counted(fn)] if first is not None else [None]
        if warm[0] is not None:
            # always take a second warm pass before deciding: one noisy
            # first warm pass over the threshold would otherwise deny a
            # genuinely-fast query its median (observed: a ~1.6s query
            # published a single 2.8s pass as med=min)
            warm.append(_run_once(fn))
        if (
            all(w is not None for w in warm)
            and min(warm) < _SHORT_QUERY_SEC
        ):
            while len(warm) < _SHORT_WARM_PASSES and warm[-1] is not None:
                warm.append(_run_once(fn))
        elif all(w is not None for w in warm):
            # slow tier: median of exactly 2 warm passes is their MEAN —
            # a single noisy pass shifts the headline by half its error
            # (ADVICE r7).  A third pass makes the median an actual
            # outlier-rejecting middle value; costs one extra pass on
            # the handful of >=2s queries only.
            warm.append(_run_once(fn))
        if first is None or any(w is None for w in warm):
            # a query that errored on ANY pass is dropped, never
            # published with a healthy-looking number from the others
            continue
        # Dispersion retry (r9): host interference can stall the box for
        # tens of seconds, long enough to poison EVERY consecutive warm
        # pass of one query (observed: dedup_paragraphs published 3.87s
        # in-bench vs 1.05s re-measured in isolation minutes later —
        # 8.3x).  When the warm median sits >2x above the warm min the
        # passes disagree with themselves, so take up to 4 extra passes
        # and re-take the median over ALL of them: a transient stall
        # gets outvoted, a real regression reproduces and stands.
        retries = 0
        errored = False
        while (
            statistics.median(warm) > 2 * min(warm) + 0.05 and retries < 4
        ):
            nxt = _run_once(fn)
            if nxt is None:
                errored = True
                break
            warm.append(nxt)
            retries += 1
        if errored:
            # same invariant as above: an errored pass (even a retry
            # pass) drops the query rather than publishing the very
            # high-dispersion median the retry was meant to outvote
            continue
        cold[name] = round(first, 3)
        timings[name] = round(statistics.median(warm), 3)
        mins[name] = round(min([first, *warm]), 3)

    # sf parsed from the dir name (sf0.1 -> 0.1); fall back to the raw string.
    tail = Path(sf_dir).name.removeprefix("sf")
    try:
        sf: float | str = float(tail)
    except ValueError:
        sf = tail

    # Stream rows are judged by ratio, never by absolutes (their cost is
    # microbatch/checkpoint floor): streaming_floor_normalized divides
    # each stream lane by the same-run no-op availableNow drain
    # (identical microbatch machinery, zero data work), floor over
    # floor, box-speed-invariant.  A compute control such as
    # graph_pagerank in the denominator breaks on a fast box.
    streaming_floor_normalized: dict[str, float] = {}
    if stream_floor:
        for name, sec in timings.items():
            if name.startswith("stream_"):
                streaming_floor_normalized[name] = round(
                    sec / stream_floor, 3
                )
        if streaming.get("streaming_medallion_sec"):
            streaming_floor_normalized["streaming_medallion"] = round(
                streaming["streaming_medallion_sec"] / stream_floor, 3
            )

    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_min": mins,
        "queries_cold": cold,
        **streaming,
        "stream_noop_drain_sec": stream_floor,
        "streaming_floor_normalized": streaming_floor_normalized,
        "sf": sf,
    }
    full = dict(summary)
    full["queries_cold"] = cold
    full["queries_min"] = mins
    # per-query Spark job counts (first warm pass): stays out of the
    # stdout summary to keep the driver-parsed line compact
    full["queries_jobs"] = jobs
    # BENCH_r07.json lost its headline medians to the driver's tail
    # capture (the full line outgrew the capture window and the FRONT
    # was cut -> parsed: null).  Two defenses (VERDICT r7 missing #2):
    # the full dump (cold + min spreads) is written to an in-repo
    # artifact, and stdout carries only the compact summary — medians,
    # totals, streaming — which fits any plausible tail window, so the
    # driver-parsed artifact always contains the headline numbers.
    (REPO / "BENCH_LOCAL.json").write_text(json.dumps(full, indent=1) + "\n")
    print(json.dumps(summary))
    # VERDICT r15 #8: the driver records only the TAIL of stdout, and
    # the full summary line above outgrew a 2000-char window (r15 lost
    # its first ~30 warm medians to the cut).  The LAST line is a
    # compact twin — totals + every per-row warm median + the judged
    # streaming gates, separators-tightened (~1.3k chars for 45 rows) —
    # so whatever window the driver keeps, the headline numbers parse.
    compact = {
        "metric": "bench_compact",
        "warm_total": summary["value"],
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "streaming_floor_normalized": streaming_floor_normalized,
        "worst_rows": sorted(
            timings, key=lambda k: timings[k], reverse=True
        )[:5],
        "sf": sf,
    }
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
