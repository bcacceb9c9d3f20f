#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": ...}

Query set: the scan/agg, join-heavy, window, dedup-at-scale and
similarity paths — the shapes whose plans matter at 100 TB. Each timing
includes full execution to collect() (driver-side row counts are tiny).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stream_processing_platform_spark.registry import queries  # noqa: E402
from stream_processing_platform_spark.session import get_spark, scoped_conf  # noqa: E402

BENCH_QUERIES = [
    "q01_pricing_summary",       # scan-heavy grouped aggregation
    "q03_shipping_priority",     # 3-way join + top-k
    "q05_local_supplier_volume", # 6-way star join
    "q_agg_running",             # per-key aggregate (AggregateOperator)
    "q_window_tumbling",         # event-time tumbling window
    "q_window_session",          # sessionization (gaps-and-islands)
    "q_join_interval",           # interval equi-join (JoinOperator)
    "q_flatmap_wordcount",       # flatMap + shuffle-heavy groupBy
    "q_dedup_exact",             # keyed dedup
    # q_percentiles (exact percentile over 3 coarse groups) is NOT here:
    # it buffers ~1/3 of the table per agg buffer — a deliberate
    # correctness baseline, not a shape to advertise at 100 TB. The
    # t-digest sketch below is the scale path for quantiles.
    "q_approx_percentile",       # t-digest sketch quantiles (scale path)
    "q08_market_share",          # 8-way star + per-group conditional ratio
    "q13_customer_distribution", # outer join + count histogram
    "q_quality_filter",          # composite C4/Gopher-style doc filter
    "q_doc_chunking",            # context-window chunk explode (narrow)
    "q_contamination",           # benchmark n-gram containment join
    "q_minhash_lsh_pairs",       # MinHash-LSH near-dup (LLM pipeline)
    "q_simhash_pairs",           # SimHash near-dup
    "q_embedding_near_dup",      # hyperplane-LSH embedding near-dup
    "q_cosine_topk",             # embedding similarity search
    "q_text_quality",            # text scoring battery
]


# Non-headline operators, timed like the headline set.
EXTENDED_QUERIES = [
    "q_ann_pq",
    "q_corpus_mixture",
    "q_doc_commonness",
    "q_top_tokens",
    "q_unpivot_event_counts",
    "q_winnow_dup_pairs",
    "q_event_sequence",
    "q_anomaly_zscore",
    "q_ann_rerank",
    "q_winnow_fingerprints",
    "q02_min_cost_supplier",
    "q_heavy_hitters",
    "q_hierarchical_rollup",
    "q_unigram_logprob",
    "q_zorder_events",
    "q_kmeans_assign",
    "q_gap_fill_linear",
    "q_ohlc_bars",
    "q_bm25_rank",
    "q_lpa_labels",
    "q_json_variant",
    "q_mad_outliers",
    "q_semdedup",
    "q_semdedup_incremental",
    "q_hybrid_rrf",
    "q_mmr_diversify",
    "q_cohort_retention",
    "q_recursive_hierarchy",
    "q_ewma",
    "q_triangle_counts",
    "q_incremental_agg_refresh",
    "q_window_distribution",
    "q_percentiles_distributed",
    "q_snapshot_diff",
    "q_kcore",
    "q_impute_mode",
    "q_window_range_frame",
    "q_kanon_pseudonymize",
    "q_correlation",
    "q_phrase_search",
    "q_winsorize",
    "q_association_rules",
    "q_holt",
    "q_clustering_coeff",
    "q_simhash_pairs",
    "q_substring_dup_spans",
    "q_holt_winters",
    "q_gopher_rules",
    "q_dsir_weights",
    "q_ann_ivf",
    "q_approx_percentile",  # sketch-then-verify EXACT (also in headline)
    "q_quality_classifier",
    "q_unigram_tokenize",
    "q_acf",
    "q_cusum_changepoint",
    "q_weighted_sample",
    "q_seasonal_decompose",
    "q_warc_extract",
    "q_wds_roundtrip",
    "q_domain_stats",
    "q_blocklist_filter",
    "q_url_canonicalize",
    "q_boilerplate_blocks",
    "q_approx_distinct_kmv",
    "q_mixture_temperature",
    "q_badwords_filter",
    "q_wds_multimodal",
    "q_meta_robots_filter",
    "q_chunk_sentences",
    "q_cdx_index",
    "q_robots_rules_filter",
    "q_mp3_probe",
    "q_unicode_nfc",
    "q_script_mix",
    "q_charset_decode",
    "q_robots_txt_parse",
    # q_lang_id_trained stays out: its 6 training jobs run at
    # DataFrame-construction time, so a timed rebuild would spend
    # ~30 s/run on untimed training.
    "q_sitemap_parse",
    "q_crawl_schedule",
    "q_web_funnel",
    "q_outlink_frontier",
    "q_lang_mismatch",
]

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def _median_time(build) -> float:
    """Median wall time of ``build().collect()`` over RUNS runs, after
    one untimed warm-up pass that takes JIT/codegen/file-listing costs
    out of the measurement. The median absorbs single-run jitter. Each
    run REBUILDS the DataFrame: re-collecting the same instance lets
    the DAG scheduler skip completed shuffle map stages (measured 10x
    "speedups" that were just stage reuse); a fresh lineage forces
    every stage to actually run."""
    build().count()
    samples = []
    for _ in range(RUNS):
        df = build()
        t0 = time.time()
        df.collect()
        samples.append(time.time() - t0)
    samples.sort()
    return round(samples[len(samples) // 2], 3)


def _parquet_split(fixture_fn, decode_fn):
    """(stage_fn, read_fn) for a codec query: stage writes its fixture
    payloads as parquet, read decodes them."""

    def stage(spark, sf_dir, out):
        fixture_fn(spark, sf_dir).write.mode("overwrite").parquet(out)

    return stage, lambda spark, out: decode_fn(spark.read.parquet(out))


def _split_entries():
    """``(name, stage_fn, read_fn)`` rows timed in two steps: the stage
    step writes the query's input directory ONCE (un-timed; its cost is
    recorded separately) and only the read step is timed — the part
    whose shape matters at 100 TB, where payload bytes come from
    storage, not an encoder.

    - Codec queries: the in-query fixture ENCODER (a test harness, not
      the engine) dominated their plain timings (q_multimodal_avc_decode
      was mostly the synthetic encoder's motion search;
      q_video_frame_sample's synth+sha2 leg was 1.65 s of 2.9 s).
    - q_http_headers: the declared query memoizes its 16 residue
      classes — semantics-preserving but bench-flattering — so the
      split times parse-per-row over pre-materialized payloads.
    - q_avro_roundtrip: its body re-WRITES the .avro files at
      construction time, which a timed rebuild can't separate from the
      OCF block-decode read. q_stream_avro shares this reader and stays
      correctness-gated."""
    from stream_processing_platform_spark.queries.relational import (
        avro_read_agg_df,
        avro_write_fixture,
    )
    from stream_processing_platform_spark.queries.similarity import (
        avc_deblock_fixture_df,
        avc_decode_df,
        avc_fixture_df,
        flac_decode_df,
        flac_fixture_df,
        g711_decode_df,
        g711_fixture_df,
        video_decode_df,
        video_fixture_df,
    )
    from stream_processing_platform_spark.queries.web import (
        httpr_decode_df,
        httpr_fixture_df,
    )

    codecs = [
        ("q_audio_segments_flac", flac_fixture_df, flac_decode_df),
        ("q_audio_segments_g711", g711_fixture_df, g711_decode_df),
        ("q_multimodal_avc_decode", avc_fixture_df, avc_decode_df),
        ("q_multimodal_avc_deblock", avc_deblock_fixture_df, avc_decode_df),
        ("q_video_frame_sample", video_fixture_df, video_decode_df),
        ("q_http_headers", httpr_fixture_df, httpr_decode_df),
    ]
    return [(name, *_parquet_split(f, d)) for name, f, d in codecs] + [
        ("q_avro_roundtrip", avro_write_fixture, avro_read_agg_df)
    ]


def stream_windowed_agg(spark, sf_dir: str) -> tuple[float, int]:
    """End-to-end Structured Streaming run over the events table: file
    source → watermark → 1 h tumbling window per event_type → memory sink,
    availableNow trigger. This is the reference's headline scenario
    (Kafka→KeyBy→Window→Agg→Kafka, target 5K–30K rec/s; reported 45K) —
    returns (elapsed_sec, input_rows) so the JSON can carry rec/s."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from stream_processing_platform_spark.sources.streaming import file_source
    from stream_processing_platform_spark.streaming.windows import tumbling_agg

    path = os.path.join(sf_dir, "events.parquet")
    static = spark.read.parquet(path)
    n_rows = static.count()
    # The file stream source wants a directory; stage the table into one.
    stage_dir = tempfile.mkdtemp(prefix="spp_bench_stream_src_")
    ckpts: list[str] = []
    try:
        os.symlink(path, os.path.join(stage_dir, "events.parquet"))
        stream = file_source(spark, stage_dir, static.schema)
        if isinstance(static.schema["ts"].dataType, LongType):
            stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # micros parquet loads as TIMESTAMP_NTZ, which watermarks reject;
            # session zone is UTC so the cast preserves the instant
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = tumbling_agg(stream, "ts", "1 hour", ["event_type"], [F.count("*").alias("n")])

        # Stateful ops create one state-store instance per shuffle partition;
        # at this volume (~100k rows, a few hundred window-key states) 32
        # state partitions are pure per-partition overhead. Median-of-3
        # sweep: 2→77k, 4→89k, 8→82k, 16→64k rows/s — 4 wins. Sizing shuffle
        # partitions to the data is the same rule SCALE.md applies
        # everywhere; a real cluster run would raise it with volume.
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
            # warm-up (JIT/codegen/state-store init) then median of 3 timed
            # runs — the same methodology as the batch queries.
            samples: list[float] = []
            for timed in (False, True, True, True):
                ckpts.append(tempfile.mkdtemp(prefix="spp_bench_ckpt_"))
                t0 = time.time()
                q = (
                    agg.writeStream.format("memory")
                    .queryName("bench_stream_" + uuid.uuid4().hex[:8])
                    .outputMode("update")
                    .option("checkpointLocation", ckpts[-1])
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                if timed:
                    samples.append(time.time() - t0)
    finally:
        for d in (stage_dir, *ckpts):
            shutil.rmtree(d, ignore_errors=True)
    samples.sort()
    return samples[len(samples) // 2], n_rows


def _drain_load(max_wait: float = 1500.0) -> float:
    """HARD idleness gate: an official bench row may only be taken on an
    idle machine. Spin-wait until the 1-min load average drops below
    ``SPARK_GRAFT_BENCH_MAX_LOAD`` (default 1.0) and REFUSE (exit 2) if
    it never does within ``max_wait``: rows timed at load 8.5 were pure
    co-tenant noise with zero plan changes, and merely RECORDING
    load_avg in the JSON did not prevent the next one. The 1-min load
    decays ~e× per idle minute, so 25 min of budget covers any
    realistic post-sweep drain. Returns the load at the moment timing
    starts so the emitted JSON line carries its own health signal (set
    SPARK_GRAFT_BENCH_NO_WAIT=1 to skip the gate, e.g. in tests)."""
    load = os.getloadavg()[0]
    if os.environ.get("SPARK_GRAFT_BENCH_NO_WAIT"):
        return load
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "1.0"))
    deadline = time.time() + max_wait
    while load >= max_load and time.time() < deadline:
        time.sleep(5.0)
        load = os.getloadavg()[0]
    if load >= max_load:
        print(
            f"bench.py REFUSING to time on a busy machine: 1-min load "
            f"{load:.1f} >= gate {max_load} after {max_wait:.0f}s of "
            f"waiting. Re-run when idle (or set SPARK_GRAFT_BENCH_NO_WAIT=1 "
            f"for an unofficial row).",
            file=sys.stderr,
        )
        raise SystemExit(2)
    return load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_start = _drain_load()
    spark = get_spark(app_name="spp-spark-bench")
    qs = queries()

    timings = {
        name: _median_time(partial(qs[name], spark, sf_dir)) for name in BENCH_QUERIES
    }

    stream_sec, stream_rows = stream_windowed_agg(spark, sf_dir)
    timings["stream_windowed_agg"] = round(stream_sec, 3)

    total = round(sum(timings.values()), 3)

    # Timed the same way but kept OUT of the headline total so `value`
    # stays comparable across rounds on the fixed 21-query set.
    extended = {
        name: _median_time(partial(qs[name], spark, sf_dir)) for name in EXTENDED_QUERIES
    }
    fixture_encode: dict[str, float] = {}
    for name, stage_fn, read_fn in _split_entries():
        stage = tempfile.mkdtemp(prefix="spp_bench_split_")
        try:
            t0 = time.time()
            stage_fn(spark, sf_dir, stage)
            fixture_encode[name] = round(time.time() - t0, 3)
            extended[name] = _median_time(partial(read_fn, spark, stage))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    # Extended timings live in their own file: the driver tail-captures
    # only ~2 KB of stdout, and keeping 47+ entries inline truncated the
    # JSON head (parsed: null). The one emitted line must stay small.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_EXTENDED.json"), "w") as fh:
        json.dump(
            {
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "methodology": "median-of-3, fresh lineage per run; codec "
                "entries are DECODE-ONLY over pre-materialized fixture "
                "parquet (encode cost reported separately)",
                "extended_queries": extended,
                "codec_fixture_encode_sec": fixture_encode,
            },
            fh,
            indent=1,
        )
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "stream_rows_per_sec": int(stream_rows / stream_sec),
        # Machine-health provenance: 1-min load average when timing
        # started/ended vs cores. Compare rounds only at similar load.
        "load_avg": round(load_start, 1),
        "load_avg_end": round(os.getloadavg()[0], 1),
        # The idleness gate that was in force (rows taken with the gate
        # skipped are unofficial by definition).
        "load_gate": "skipped" if os.environ.get("SPARK_GRAFT_BENCH_NO_WAIT")
        else float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "1.0")),
        # Effective core count: the driver re-runs the bench at a lower
        # $SPARK_GRAFT_CPUS to measure scaling, so report what session.py
        # actually used, not os.cpu_count().
        "cores": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())),
        # Fixed 21-query headline set (comparable to r3+); extended
        # operator timings in BENCH_EXTENDED.json, prose in BENCH_NOTES.md.
        "notes": "extended ops in BENCH_EXTENDED.json",
    }
    line = json.dumps(payload)
    # HARD CAP: driver tail capture is ~2048 bytes; leave headroom.
    assert len(line) < 1800, f"bench JSON line {len(line)}B >= 1800B cap"
    print(line)


if __name__ == "__main__":
    main()
