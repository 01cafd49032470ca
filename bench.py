"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...},
   "queries_steady": {name: sec, ...}, "value_steady": <sec>,
   "sf": <scale factor>}

A failed query keeps its time-to-failure in ``queries``, has null in
``queries_steady`` and is named in ``errors`` (see ``time_queries``).
The additive ``memo`` field gives each query's memo-registry hits and
misses (``session.memo``) for its first call and its steady reruns; a
query with steady hits is ``memo_backed``: its steady time includes
serving a memoized result, not rebuilding it.

Each query is materialized through the noop sink (full column
evaluation, no driver collect) so timings reflect the whole plan.
Queries come straight from the declared catalog — the bench surface
IS the correctness surface.

Two timings per query (round-4 bisect of the `minhash_lsh_near_dups`
"drift"): the FIRST run of a plan pays one-off driver/JVM costs —
Catalyst planning, whole-stage-codegen compilation, JIT — which for
wide expression trees dominate the measurement (6.0 s first run vs a
stable 2.0 s median over the next runs at sf0.1) and jitter with JVM
state, which is what moved 4.9→5.0→5.6 s across rounds with an
unchanged plan.  `queries` keeps the historical one-shot numbers
(comparable to BENCH_r01-r03); `queries_steady` is the median of 3
subsequent runs — the number that tracks throughput at scale, where
compilation amortizes to zero.

Stdout contract hardening (r14, VERDICT r13 #5): the REAL stdout is
reserved at startup for the single JSON result line (fd dup'd before
the JVM launches; fd 1 is then pointed at stderr for the whole run),
and the final line is self-validated with ``json.loads`` before being
written — a stray JVM/log write can no longer invalidate a round's
PERF comparison. ``warmup_s`` (additive field, r14) reports the
untimed warm-up cost (JVM + table cache build) so the cache layout's
price is visible in the output (VERDICT r13 #3/#8).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from kissmetrics_to_database_spark.session import (  # noqa: E402
    cache_tables,
    get_spark,
    memo_counts,
)

# Headline set: scan-heavy agg, star joins (incl. the join-heavy
# TPC-H Q2/Q9/Q18/Q21 so regressions in the expensive plans are
# visible round-over-round), iterative identity CC, near-dup suite,
# similarity search, windows. Chosen to cover every subsystem while
# staying O(n log n) at any SF (no all-pairs ops).
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "row_fingerprint",
    "identity_components",
    "broadcast_lookup_join",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "embedding_topk_bruteforce",
    "embedding_topk_ivf",
    "filtered_ann_topk",
    "lang_id",
    "quality_score",
    "tfidf_top_terms",
    "time_proximity_pairs",
    "sessionization",
    "tumbling_window_hourly",
    "top_spenders_per_type",
    "asof_last_signup",
    "cube_agg",
    "multimodal_byte_features",
    "nearest_centroid_confusion",
    "pack_training_sequences",
    # round-2 corpus-quality + clustering suite
    "gopher_quality",
    "unigram_logprob",
    "span_dedup",
    "source_quota_cap",
    "kmeans_clusters",
    "semantic_dedup",
    "perplexity_buckets",
    # round-2 sketch suite (fixed-size-state operators)
    "cms_heavy_hitters",
    "hll_event_users",
    "bloom_novel_docs",
    "histogram_quantiles",
    # round-2 layout / graph / sampling
    "zorder_layout",
    "event_burst_triangles",
    "weighted_doc_sample",
    "identity_pagerank",
    "embedding_topk_int8",
    # round-2 tokenizer / sequence-assembly / incremental-ingest suite
    "bpe_pair_counts",
    "behavior_sequences",
    "event_transition_matrix",
    "epoch_shuffle",
    "quality_quantile_gate",
    "incremental_ingest_dedup",
    # round-4 collocation / SCD2 / selection / conditioning suite
    "pmi_collocations",
    "kn_continuation_stats",
    "kn_bigram_scores",
    "scd2_from_change_log",
    "scd2_merge_batch",
    "scd2_point_in_time",
    "dsir_logratio_weights",
    "robust_scale",
    "cdc_chunk_dedup",
    "event_rate_anomalies",
    # round-5 additions
    "salted_join_skewed",
    "cdc_dedup_rewrite",
    "bpe_train_merges",
    "video_frame_sample",
    "winnow_containment",
    "pq_encode",
    "html_extract",
    "identity_communities",
    "ewma_rate_anomalies",
    "image_dhash_dedup",
    "image_dhash_near_dups",
    "pq_topk_adc",
    "lsh_recall_eval",
    "burst_exposure_overlap",
    "temporal_split_audit",
    "key_skew_report",
    "ivfpq_topk",
    "bpe_segmentation_stats",
    # round-6 additions
    "bpe_encode_corpus",
    "exact_substring_spans",
    "exact_substring_rewrite",
    "audio_spectral_features",
    "classifier_train_confusion",
    "url_canonicalize",
    "domain_quota_sample",
    "audio_stft_segments",
    "exact_substring_ingest_spans",
    "unigram_tokenizer_stats",
    "corpus_snapshot_diff",
    "audio_silence_segments",
    "image_sharpness_gate",
    "decontamination_spans",
    "audio_mel_bands",
    "image_dup_clusters",
    # round-7 additions
    "unigram_encode_corpus",
    "audio_mfcc",
    "html_main_content",
    "image_phash_near_dups",
    "fim_transform",
    "video_scene_cuts",
    "random_projection_recall",
    "length_bucket_padding",
    "embedding_cosine_near_dups",
    "classifier_calibration_bins",
    # round-8 additions
    "gopher_repetition",
    "ccnet_line_dedup",
    "dup_cluster_representatives",
    "kcenter_coreset",
    "pretraining_mix_audit",
    "classifier_threshold_sweep",
    "mixture_epochs_plan",
    "warc_ingest_extract",
    "encoding_repair_scan",
    "edit_distance_pairs",
    "semantic_decontamination",
    "blocklist_filter",
    "filtered_ann_recall",
    "tokenizer_fertility_by_source",
    "bitext_margin_mining",
    "tombstone_cluster_scrub",
    "dbscan_clusters",
    "lang_id_confusion",
    "matryoshka_recall",
    "phrase_blocklist_spans",
    "multiprobe_lsh_recall",
    "simhash_precision_eval",
    # round-9 additions
    "delta_time_travel",
    "delta_snapshot_by_lang",
    "iceberg_time_travel",
    "iceberg_snapshot_by_source",
    "k_anonymity_audit",
    "hll_user_overlap",
    "avro_scan_aggregate",
    "record_linkage_pairs",
    "linkage_em_params",
    "linkage_blocking_recall",
    "dp_noisy_counts",
    "retention_cohorts",
    "attribution_linear",
    # round-10 additions
    "attribution_position",
    "attribution_time_decay",
    "iceberg_mor_deletes",
    "delta_column_mapping",
    "bitext_margin_mining_ann",
    "bitext_ann_recall",
    "funnel_conversion",
    "dau_mau_stickiness",
    "iceberg_equality_deletes",
    "semantic_decontamination_ann",
    "semantic_decontamination_ann_recall",
    "delta_deletion_vectors",
    "ab_test_lift",
    # round-11 additions
    "delta_cdf_tail",
    "delta_writer_roundtrip",
    "delta_optimize_roundtrip",
    "iceberg_writer_roundtrip",
    "semantic_decontamination_ann_shuffle",
    "semantic_decontamination_ivf",
    "semantic_decontamination_ivf_recall",
    "bitext_margin_mining_ivf",
    "bitext_ivf_recall",
    # round-11 continuation: lakehouse DML + Hudi + quality gate
    "delta_delete_dml",
    "delta_merge_dml",
    "delta_update_dml",
    "delta_data_skipping",
    "iceberg_delete_dml",
    "iceberg_merge_dml",
    "iceberg_update_dml",
    "hudi_snapshot_read",
    "hudi_time_travel",
    "hudi_incremental_pull",
    "data_quality_audit",
    # round 12: Iceberg skipping, MERGE dup-key semantics, Hudi MoR
    "iceberg_data_skipping",
    "delta_merge_dup_key_targets",
    "hudi_mor_read",
    "hudi_mor_time_travel_and_incremental",
    "iceberg_partitioned_write",
    "iceberg_optimize_roundtrip",
    "hudi_writer_roundtrip",
    "hudi_mor_writer_roundtrip",
    "iceberg_transform_partitioned_write",
    "iceberg_schema_evolution_append",
    "delta_dml_on_dv_and_mapped",
    "delta_dv_delete_native",
]


def bench_trainers(spark, sf_dir: str) -> dict:
    """Per-phase timings for the iterative-trainer queries (VERDICT
    r5 item 4): one opaque number per query hides a serving-path
    regression inside trainer scheduling jitter, so this tier times
    TRAIN (artifact production, once — the amortized cost) and SERVE
    (scoring/encoding with the artifact, median of 3 noop-sink runs —
    the 100 TB-relevant number; key regression tracking on serve_s).
    """
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.operators import similarity, text
    from kissmetrics_to_database_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    probes = emb.where(F.col("vec_id") < 2)
    cents = emb.where(F.col("vec_id") < 8)

    def _occ_stats(segmented):
        # materialize before exploding — Generate re-evaluates the
        # interpreted merge fold per output row otherwise (the r6
        # catalog-query fix, mirrored here so serve_s measures the
        # readout, not fold re-evaluation)
        segmented = segmented.localCheckpoint(eager=True)
        occ = (
            segmented.select(F.explode("syms").alias("sym"), "wc")
            .groupBy("sym")
            .agg(F.sum("wc").cast("long").alias("n_occ"))
        )
        total = occ.agg(F.sum("n_occ").cast("double").alias("t"))
        return (
            occ.crossJoin(F.broadcast(total))
            .select(
                "sym", "n_occ",
                F.round(F.col("n_occ") / F.col("t"), 6).alias("share"),
            )
            .orderBy(F.desc("n_occ"), "sym")
            .limit(10)
        )

    # name -> (train() -> artifact, serve(artifact) -> DataFrame)
    cases = {
        "kmeans_clusters": (
            lambda: similarity.kmeans_train_centroids(emb, k=8, iters=2),
            lambda a: similarity.kmeans_lloyd(emb, k=8, iters=2, centroids=a),
        ),
        "pq_encode": (
            lambda: similarity.pq_train_codebooks(emb, m=4, k_codes=8, iters=2),
            lambda a: similarity.pq_encode(emb, m=4, k=8, iters=2, codebooks=a),
        ),
        "pq_topk_adc": (
            lambda: similarity.pq_train_codebooks(emb, m=4, k_codes=8, iters=2),
            lambda a: similarity.pq_topk(
                emb, probes, m=4, k_codes=8, iters=2, k=5, codebooks=a
            ),
        ),
        "ivfpq_topk": (
            lambda: similarity.ivfpq_train_codebooks(
                emb, cents, m=4, k_codes=8, iters=2
            ),
            lambda a: similarity.ivfpq_topk(
                emb, probes, cents, m=4, k_codes=8, iters=2, k=5, nprobe=2,
                codebooks=a,
            ),
        ),
        "bpe_train_merges": (
            lambda: text.bpe_train_merges_local(docs, n_merges=4),
            None,  # train-only artifact (the merge table IS the result)
        ),
        "bpe_segmentation_stats": (
            lambda: text.bpe_train_merges_local(docs, n_merges=4),
            lambda a: _occ_stats(
                text.bpe_apply_merges(docs, [(x[1], x[2]) for x in a])
            ),
        ),
        "bpe_encode_corpus": (
            lambda: text.bpe_train_merges_local(docs, n_merges=256),
            lambda a: text.bpe_encode_corpus(docs, [(x[1], x[2]) for x in a]),
        ),
        "unigram_tokenizer_stats": (
            lambda: text.train_unigram_pieces(docs, n_multi=48, iters=2),
            lambda a: text.unigram_segment_vocab(docs, a),
        ),
        "unigram_encode_corpus": (
            lambda: text.train_unigram_pieces_local(
                docs, n_multi=1024, max_piece_len=6, iters=2
            ),
            lambda a: text.unigram_encode_corpus(docs, a, max_piece_len=6),
        ),
        "classifier_train_confusion": (
            lambda: text.train_hashed_classifier(
                docs.withColumn(
                    "y",
                    F.array_contains(
                        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                        "spark",
                    ).cast("double"),
                ),
                "y", iters=3, lr=10.0,
            ),
            lambda a: text.hashed_classifier_score(docs, a),
        ),
    }
    out = {}
    for name, (train, serve) in cases.items():
        t0 = time.perf_counter()
        artifact = train()
        train_s = round(time.perf_counter() - t0, 3)
        entry = {"train_s": train_s}
        if serve is not None:
            serve(artifact).write.format("noop").mode("overwrite").save()  # warm
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                serve(artifact).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            entry["serve_s"] = round(statistics.median(runs), 3)
        out[name] = entry
    return out


def bench_layout(spark, sf_dir: str) -> dict:
    """IVF at-rest layout A/B (VERDICT r5 item 3): write the
    cell-assigned embedding corpus ``partitionBy(cell)``, then scan it
    twice — all cells vs an nprobe=2 ``read_ivf_cells`` pruned read
    (PartitionFilters, see PLANS.md `op:ivf_layout_prune`). At 100 TB
    the pruned scan touches nprobe cells' FILES only; the A/B records
    that the pruning actually pays even at toy SF."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.operators import layout, similarity
    from kissmetrics_to_database_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    root = tempfile.mkdtemp(prefix="bench_ivf_layout_")
    path = root + "/ivf"
    try:
        t0 = time.perf_counter()
        layout.write_ivf_layout(similarity.ivf_assign(emb, cents), path)
        write_s = round(time.perf_counter() - t0, 3)

        agg = lambda df: df.agg(  # noqa: E731 — force vector column read
            F.count("*"), F.sum(F.element_at("embedding", 1))
        ).collect()
        full = spark.read.parquet(path)
        pruned = layout.read_ivf_cells(spark, path, [0, 1])
        agg(full), agg(pruned)  # warm
        full_t, pruned_t = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            agg(full)
            full_t.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            agg(pruned)
            pruned_t.append(time.perf_counter() - t0)
        n_cells = full.select("cell").distinct().count()
        return {
            "write_s": write_s,
            "n_cells": n_cells,
            "pruned_cells": 2,
            "full_scan_s": round(statistics.median(full_t), 4),
            "pruned_scan_s": round(statistics.median(pruned_t), 4),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_media() -> dict:
    """Media-decode tier (VERDICT r5 item 2): single-core MB/s and
    frames/s for the from-spec JPEG and MJPEG-AVI decode kernels on
    deterministic payloads. Pure-Python (no Spark) — the kernels run
    inside mapInPandas workers, so per-core throughput IS the scale
    number; cluster throughput = this × cores."""
    import numpy as np

    from kissmetrics_to_database_spark.functions import avi, jpeg

    rng = np.random.default_rng(42)
    gray = np.clip(
        np.add.outer(np.linspace(0, 255, 128), np.linspace(0, 255, 128)) / 2
        + rng.normal(0, 8, (128, 128)),
        0, 255,
    ).astype(np.uint8)
    rgb = np.clip(rng.normal(128, 40, (128, 128, 3)), 0, 255).astype(np.uint8)
    mjpeg_frames = [
        jpeg.encode_jpeg(
            np.roll(gray, 3 * i, axis=1).reshape(128, 128, 1), q=4
        )
        for i in range(24)
    ]
    cases = {
        "jpeg_gray_128": (jpeg.decode_jpeg, jpeg.encode_jpeg(gray, q=4), 1),
        "jpeg_rgb_128": (jpeg.decode_jpeg, jpeg.encode_jpeg(rgb, q=4), 1),
        "jpeg_prog_rgb_128": (
            jpeg.decode_jpeg,
            jpeg.encode_jpeg_progressive(rgb, q=4),
            1,
        ),
        "mjpeg_avi_24f": (
            lambda b: [jpeg.decode_jpeg(f) for f in avi.parse_avi(b)["frames"]],
            avi.build_mjpeg_avi(mjpeg_frames, 128, 128),
            24,
        ),
    }
    out = {}
    for name, (fn, payload, frames) in cases.items():
        fn(payload)  # warm (LUT cache, numpy)
        reps, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 1.0:
            fn(payload)
            reps += 1
        dt = (time.perf_counter() - t0) / reps
        out[name] = {
            "mb_per_s": round(len(payload) / dt / 1e6, 3),
            "frames_per_s": round(frames / dt, 2),
        }
    return out


def emit_json_line(obj: dict, fd: int) -> str:
    """Serialize ``obj``, SELF-VALIDATE it round-trips through
    ``json.loads``, and write it as one newline-terminated line to
    ``fd`` (r14, VERDICT r13 #5: the driver's r12 bench was lost to
    an unparseable stdout — `BENCH_r12.json` `parsed: null` — so the
    stdout contract is now enforced, not hoped for). Returns the
    line."""
    line = json.dumps(obj)
    parsed = json.loads(line)  # raises on emitter bugs
    if parsed != obj:
        raise ValueError("bench result does not round-trip JSON")
    if "\n" in line:
        raise ValueError("bench result is not a single line")
    os.write(fd, (line + "\n").encode("utf-8"))
    return line


def _memo_delta(before: dict, after: dict) -> dict[str, int]:
    """Registry hits and misses, over all names, between two
    ``memo_counts()`` snapshots."""
    return {
        kind: sum(c[kind] for c in after.values())
        - sum(c[kind] for c in before.values())
        for kind in ("hits", "misses")
    }


def time_queries(names: list[str], run) -> dict:
    """Time ``run(name)`` for each query: once for ``queries``, then
    the median of 3 more runs for ``queries_steady``.

    One failing query must not destroy the whole run's output (r14;
    the contract is ONE stdout JSON line — a mid-run crash used to
    leave nothing to parse, the exact failure mode the r12 PERF
    comparison died of). A failed query still records its
    time-to-failure in ``queries`` (entries are never removed) and
    its error in the additive ``errors`` field. It has no steady
    time: ``queries_steady`` holds null for it and ``value_steady``
    leaves it out, so a crash never reads as a timing.

    ``memo`` gives each query's memo-registry hits and misses for the
    first call and summed over the steady reruns (null for a failed
    query); steady hits flag the query ``memo_backed``.
    """
    timings: dict[str, float] = {}
    steady: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    memo: dict[str, dict] = {}
    for name in names:
        print(f"bench: {name}", file=sys.stderr, flush=True)
        before = memo_counts()
        t0 = time.perf_counter()
        try:
            run(name)
        except Exception as e:  # noqa: BLE001 — record, keep measuring
            timings[name] = round(time.perf_counter() - t0, 3)
            steady[name] = None
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            memo[name] = {"first": _memo_delta(before, memo_counts()),
                          "steady": None, "memo_backed": False}
            print(f"bench: {name} FAILED: {errors[name]}",
                  file=sys.stderr, flush=True)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        after_first = memo_counts()
        reruns = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(name)
            reruns.append(time.perf_counter() - t0)
        steady[name] = round(statistics.median(reruns), 3)
        steady_memo = _memo_delta(after_first, memo_counts())
        memo[name] = {
            "first": _memo_delta(before, after_first),
            "steady": steady_memo,
            "memo_backed": steady_memo["hits"] > 0,
        }
        # stream each query's numbers as JSONL to stderr so a killed
        # run is salvageable (the final stdout JSON is unchanged)
        print(
            json.dumps(
                {"q": name, "first": timings[name], "steady": steady[name]}
            ),
            file=sys.stderr,
            flush=True,
        )

    out = {
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "value_steady": round(
            sum(v for v in steady.values() if v is not None), 3
        ),
        "memo": memo,
    }
    if errors:
        out["errors"] = errors
    return out


def main() -> None:
    # Reserve the REAL stdout for the one JSON result line and point
    # fd 1 at stderr for everything else — including the JVM, which
    # inherits fd 1 at launch, so no Spark/log write can ever corrupt
    # the driver-parsed stdout again (VERDICT r13 #5). Must happen
    # BEFORE get_spark() forks the JVM.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from kissmetrics_to_database_spark.plans import catalog

    spark = get_spark("bench")
    # Warm-up: JVM + parquet footers, then materialize the tables as
    # a partitioned in-memory cache. The testdata ships one row group
    # per table — Spark's minimum split unit — so cold scans are
    # single-task; the cache stands in for the many-file layout a
    # real lake would have (see session.cache_tables). The warm-up is
    # untimed by design (classic warm-cache benchmarking), but its
    # cost is REPORTED in the output (warmup_s — VERDICT r13 #3/#8:
    # the cache layout shapes timed plans, so its build cost must be
    # visible, not silent).
    t_warm = time.perf_counter()
    catalog.QUERIES["count_tables"](spark, sf_dir).collect()
    cache_tables(spark, sf_dir)
    warmup_s = round(time.perf_counter() - t_warm, 3)

    # SPARK_GRAFT_BENCH_ONLY=a,b,c re-measures a subset with the
    # identical methodology (same warm-up, cache, noop sink, steady
    # medians) — for same-session splices after a targeted plan
    # change, so unchanged queries keep their full-run numbers.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    names = [n for n in HEADLINE if not only or n in only.split(",")]

    out = {
        "metric": "headline-suite wall seconds (noop sink, local)",
        **time_queries(
            names,
            lambda name: catalog.QUERIES[name](spark, sf_dir)
            .write.format("noop").mode("overwrite").save(),
        ),
        "sf": sf,
        "warmup_s": warmup_s,
    }
    if not only:  # the fixed-cost tiers only belong to full runs
        out["trainers"] = bench_trainers(spark, sf_dir)
        out["layout"] = bench_layout(spark, sf_dir)
        out["media"] = bench_media()
    emit_json_line(out, result_fd)
    spark.stop()


if __name__ == "__main__":
    main()
