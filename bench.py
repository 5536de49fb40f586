"""Headline benchmark — mirrors the reference's CI benchmark suite
(benchmarks/benchmark_sed.py: binning_1d, binning_4d, workflow_1d,
workflow_4d) on the driver's synthetic tables, plus the pipeline operators
(dedup, MinHash-LSH, ANN top-k, text stats).

Prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default host cpu count).

Every series, headline, extras and the matched-scale block alike, is timed
by :func:`_best_of` on an already-loaded dataframe: the event table is
cached and materialized before the clock starts, like the reference's
in-memory dask df. Per-run detail goes to BENCH_DETAIL.json."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _workflow_chain(ev):
    """The benchmark's 5-step calibrate chain (jitter -> k-axis ->
    correction -> energy -> delay), shared by the sf-dir and ref-scale
    blocks so the two benchmarks can never silently drift apart."""
    from queries.calibration import _DELAY_CALIB, _E_FIT, _K_CALIB
    from sed_binning_spark.calibration.delay import append_delay_axis
    from sed_binning_spark.calibration.energy import append_energy_axis, apply_energy_correction
    from sed_binning_spark.calibration.momentum import append_k_axis
    from sed_binning_spark.core.dfops import apply_jitter

    df = apply_jitter(ev, cols=["X", "Y", "t"], cols_jittered=["X", "Y", "t"],
                      amps=0.5, seed=42)
    df, _ = append_k_axis(df, _K_CALIB)
    df, _ = apply_energy_correction(df, {
        "correction_type": "spherical", "center": (1024.0, 1024.0),
        "amplitude": 2.5, "diameter": 3000.0,
    })
    df, _ = append_energy_axis(df, {**_E_FIT}, tof_column="tm")
    df, _ = append_delay_axis(df, _DELAY_CALIB)
    return df


def _stat_counters():
    # /proc/stat first line: cpu user nice system idle iowait irq softirq steal
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
        return {"sys": vals[2], "iowait": vals[4], "steal": vals[7],
                "total": sum(vals)}
    except OSError:
        return None


def _run(fn, hseries: list) -> float:
    # per-run host-health record (driver-process sys time + host-wide
    # steal/iowait deltas) so a slow run can be attributed to the host
    # (hypervisor fault-service stalls, CPU steal) vs the code without
    # a narrative; index-aligned with warmups + all_runs
    s0 = _stat_counters()
    c0 = os.times()
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    c1 = os.times()
    s1 = _stat_counters()
    rec = {"wall": round(wall, 3), "cpu_sys": round(c1.system - c0.system, 2)}
    if s0 and s1:
        dt = max(1, s1["total"] - s0["total"])
        rec["steal_pct"] = round(100 * (s1["steal"] - s0["steal"]) / dt, 2)
        rec["iowait_pct"] = round(100 * (s1["iowait"] - s0["iowait"]) / dt, 2)
    hseries.append(rec)
    return wall


def _agreeing_cluster(series: list[float]) -> list[float] | None:
    """The fastest 3 adjacent sorted runs within 30 % of each other."""
    s = sorted(series)
    return next((s[i:i + 3] for i in range(len(s) - 2) if s[i + 2] <= s[i] * 1.30), None)


def _best_of(fn) -> dict:
    """Time ``fn`` by the one protocol of every series, tuned for a noisy
    shared host (r6/r7 best-of-N spanned 4.6-19.5 s on binning_4d — the
    minimum of a heavy-tailed sample is itself noisy):

    - TWO discarded warm-up runs, not one: run 0 pays codegen compilation
      and page-cache fill, run 1 still runs tier-1 JIT'd generated code
      (C2 replaces it only after enough invocations — the r7 binning_1d
      series 3.10, 3.35, 2.32, 1.64, 1.08, 1.08 is tier-up, not noise);
    - then measured runs until 3 of them agree within 30%, at most 20
      (r9's inv_dfield spread 3.4-12.3 s over 8 runs and r10's
      binning_4d 3.07-6.41 s: the fix is more samples, not a wider gate,
      and a quiet host still pays only 3 measured runs). The cluster is
      the fastest window of 3 adjacent sorted runs that agree, so one
      lone run far below the rest cannot hold the gate open to the cap.

    Returns ``value`` = the MEDIAN of that cluster (unlike the raw
    minimum, an order statistic whose run-over-run variance is bounded by
    the cluster width, so a regression between BENCH_r{N} points is
    signal), ``runs`` = that cluster, ``converged`` = whether a window
    agreed (a host too noisy to converge is flagged, and its cluster is
    the 3 fastest runs, so a consumer never mistakes cluster spread for
    signal), ``all_runs`` = every measured run, lone runs included,
    ``warmups`` = the two discards, ``health`` = one host record per run
    (warm-ups first) and ``phases`` = the binning phase breakdown of the
    last run, so a regression can be localized (spark job vs driver
    combine) without rerunning."""
    from sed_binning_spark.binning import binning as binning_mod

    binning_mod.LAST_RUN_INFO.clear()  # don't attribute stale phases
    health: list = []
    warmups = [round(_run(fn, health), 3) for _ in range(2)]
    series = [_run(fn, health) for _ in range(3)]
    while (cluster := _agreeing_cluster(series)) is None and len(series) < 20:
        series.append(_run(fn, health))
    converged = cluster is not None
    if not converged:
        cluster = sorted(series)[:3]
    return {
        "value": round(statistics.median(cluster), 3),
        "runs": [round(t, 3) for t in cluster],
        "converged": converged,
        "all_runs": [round(t, 3) for t in series],
        "warmups": warmups,
        "health": health,
        "phases": dict(binning_mod.LAST_RUN_INFO),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from queries import REGISTRY
    from queries._common import _events
    from queries.embeddings import _QVEC
    from sed_binning_spark.binning.binning import bin_dataframe
    from sed_binning_spark.pipeline.dedup import exact_dedup, minhash_lsh_pairs
    from sed_binning_spark.pipeline.similarity import cosine_topk
    from sed_binning_spark.pipeline.text import text_stats
    from sed_binning_spark.session import get_spark

    spark = get_spark(app_name="sed-binning-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from sed_binning_spark.session import default_parallelism

    ev = _events(spark, sf_dir).cache()
    n_events = ev.count()  # materialize before the clock starts
    # the toy-scale documents table is ONE parquet file = one scan split;
    # cache it across a few partitions like any real multi-file corpus
    # would arrive, or the md5-shingle map stage runs single-threaded
    # (measured 1.5 s -> 0.9 s on minhash_lsh at sf0.1)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(min(8, default_parallelism()))
        .cache()
    )
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    emb.count()

    timings: dict[str, dict] = {}

    # --- binning_1d: 1000 bins on t (reference benchmark_sed.py:41-62)
    timings["binning_1d"] = _best_of(lambda: bin_dataframe(
        ev, bins=[1000], axes=["t"], ranges=[(60000.0, 120000.0)],
    ))

    # --- binning_4d: 100^4 bins on X,Y,t,ADC (benchmark_sed.py:65-86)
    timings["binning_4d"] = _best_of(lambda: bin_dataframe(
        ev, bins=[100, 100, 100, 100], axes=["X", "Y", "t", "ADC"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0), (2000.0, 20000.0)],
    ))

    # --- workflow chains: jitter + corrections + calibrations + histogram
    # (benchmark_sed.py:114-179; the dfield lookup is replaced by the k-axis
    # linear map — the UDF variant is benchmarked separately in queries())
    def _chain():
        return _workflow_chain(ev)

    timings["workflow_1d"] = _best_of(lambda: bin_dataframe(
        _chain(), bins=[1000], axes=["energy"], ranges=[(20.0, 60.0)],
    ))
    timings["workflow_4d"] = _best_of(lambda: bin_dataframe(
        _chain(), bins=[100, 100, 100, 100], axes=["kx", "ky", "energy", "delay"],
        ranges=[(-12.0, 12.0), (-12.0, 12.0), (20.0, 60.0), (-6.0, 6.0)],
    ))

    # --- pipeline operators
    timings["dedup_exact"] = _best_of(lambda: exact_dedup(docs).count())
    timings["minhash_lsh"] = _best_of(lambda: minhash_lsh_pairs(
        docs, num_hashes=8, bands=4,
    ).count())
    timings["ann_topk"] = _best_of(lambda: cosine_topk(emb, _QVEC, k=10).collect())
    timings["text_stats"] = _best_of(
        lambda: text_stats(docs).agg(F.sum("n_ws_tokens")).collect(),
    )

    # --- curation extras: timed but NOT in headline_total, so the headline
    # series stays comparable across rounds while the newer operators still
    # get a recorded number every round
    from sed_binning_spark.pipeline.dedup import dedup_segments, dedup_substrings
    from sed_binning_spark.pipeline.lm import unigram_logprob
    from sed_binning_spark.pipeline.pack import pack_chunks, pack_sequences

    para = docs.select(
        "doc_id",
        F.concat_ws("\n\n", "text", F.lit("shared"), "text").alias("text"),
    )
    extras = {
        "dedup_segments": _best_of(
            lambda: dedup_segments(para).agg(F.sum("n_removed")).collect(),
        ),
        "dedup_substrings": _best_of(
            lambda: dedup_substrings(docs, window=5)
            .agg(F.sum("n_removed_tokens")).collect(),
        ),
        # the Rabin-Karp throughput path of the same operator (round 9):
        # one md5 per TOKEN + O(log w) zips instead of md5 per window
        "dedup_substrings_rolling": _best_of(
            lambda: dedup_substrings(docs, window=5, hash_function="rolling")
            .agg(F.sum("n_removed_tokens")).collect(),
        ),
        "unigram_logprob": _best_of(
            lambda: unigram_logprob(docs).agg(F.sum("unigram_logprob")).collect(),
        ),
        "seq_pack": _best_of(
            lambda: pack_chunks(docs, seq_tokens=512, n_shards=32).count(),
        ),
        # the writer half — the token-moving join + reassembly shuffle that
        # dominates at scale (manifest layout alone is ids + ints only)
        "seq_assemble": _best_of(
            lambda: pack_sequences(
                pack_chunks(docs, seq_tokens=512, n_shards=32), docs,
            ).count(),
        ),
    }

    # round-10 additions: embedding compression/search and the trainable
    # quality gate — each (fit + apply) timed as ONE user-visible step
    from sed_binning_spark.pipeline.classifier import (
        quality_classifier_apply, quality_classifier_fit,
    )
    from sed_binning_spark.pipeline.similarity import (
        pca_apply, pca_fit, pq_encode, pq_topk, pq_train,
    )

    def _pq_step():
        pq = pq_train(emb, m=8, codes=32, sample_size=512, iterations=10)
        coded = pq_encode(emb, pq)
        return pq_topk(coded, pq, _QVEC, k=10).collect()

    extras["pq_encode_search"] = _best_of(_pq_step)
    extras["pca_fit_apply"] = _best_of(
        lambda: pca_apply(emb, pca_fit(emb, k=16))
        .agg(F.count("embedding_pca")).collect(),
    )
    # round-11: the video decode half — every doc becomes a 3-frame
    # expression-built animated GIF and sample_frames walks the real
    # LZW + compositing timeline per payload
    from sed_binning_spark.pipeline.multimodal import (
        sample_audio_windows,
        sample_frames,
        synthesize_animated_gif_media_from_text,
        synthesize_wav_media_from_text,
    )

    agif = synthesize_animated_gif_media_from_text(docs, frames=3)
    extras["frame_sample_gif"] = _best_of(
        lambda: sample_frames(agif).agg(F.sum("frame_ms")).collect(),
    )

    wavs = synthesize_wav_media_from_text(docs)
    extras["audio_windows"] = _best_of(
        lambda: sample_audio_windows(wavs, window_ms=4)
        .agg(F.sum("start_ms")).collect(),
    )

    # round-13: the same windows behind G.711 μ-law companding — the
    # telephony decode path (256-entry table expansion per payload)
    uws = synthesize_wav_media_from_text(docs, codec="ulaw")
    extras["audio_windows_g711"] = _best_of(
        lambda: sample_audio_windows(uws, window_ms=4)
        .agg(F.sum("start_ms")).collect(),
    )

    # round-14: metadata mining — every doc becomes an expression-built
    # ID3v2.3-tagged payload (one TIT2 frame of the 32-char md5 hex, so
    # every byte but the digest is a literal) through the real tag walk,
    # and a two-cue SubRip/WebVTT document through the cue parser
    from sed_binning_spark.pipeline.subtitles import (
        extract_subtitle_cues,
        synthesize_subtitle_media_from_text,
    )
    from sed_binning_spark.pipeline.tags import extract_media_tags

    id3_media = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(b"ID3\x03\x00\x00\x00\x00\x00\x2b"
                  b"TIT2\x00\x00\x00\x21\x00\x00\x00"),
            F.encode(F.md5("text"), "UTF-8"),
        ).alias("payload"),
    )
    extras["media_tags"] = _best_of(
        lambda: extract_media_tags(id3_media).count(),
    )
    subs = synthesize_subtitle_media_from_text(docs)
    extras["subtitle_cues"] = _best_of(
        lambda: extract_subtitle_cues(subs)
        .agg(F.sum("start_ms")).collect(),
    )

    extras["quality_classifier"] = _best_of(
        lambda: quality_classifier_apply(
            docs,
            quality_classifier_fit(
                docs.where(F.col("doc_id") % 2 == 0),
                docs.where(F.col("doc_id") % 2 == 1),
                max_rows_per_class=2048,
            ),
            keep_threshold=0.5,
        ).agg(F.sum(F.col("keep").cast("int"))).collect(),
    )

    # round-15 additions (VERDICT r14 item 2): the queries the round-14
    # optimization work actually moved — timed as declared-query plans
    # through the noop sink (guide §1.4: computes every column, no sink
    # cost), so the driver's round-over-round comparison can finally see
    # them. Additions-only: headline_total still sums the same 8 queries.
    def _noop_query(name: str) -> None:
        df = REGISTRY[name].build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    for _wq in ("sxp_electron_ids", "fills", "frame_sample",
                "ann_pairs_brute", "embedding_dedup_rows"):
        spark.sparkContext.setJobDescription(f"bench extra: {_wq}")
        extras[_wq] = _best_of(lambda q=_wq: _noop_query(q))
    spark.sparkContext.setJobDescription(None)

    # --- matched-scale block: the reference's OWN synthetic workload
    # (benchmark_sed.py:26-33 — 1e8 uniform rows, X/Y∈[0,2048],
    # t∈[60000,120000], ADC∈[2000,20000]) so the BASELINE.md numbers can be
    # compared at the SAME row count, not via a 1000x-smaller proxy.
    ref_block = {}
    ref_n = int(os.environ.get("SPARK_GRAFT_REF_N", "100000000"))
    if ref_n > 0:
        ref_block = _ref_scale_block(spark, ref_n)

    total = sum(r["value"] for r in timings.values())
    payload = {
        "metric": "headline_total",
        "value": round(total, 4),
        "unit": "sec",
        "queries": {k: r["value"] for k, r in timings.items()},
        "extras": {k: r["value"] for k, r in extras.items()},
        "sf": sf_dir,
        "n_events": n_events,
        "events_per_sec_1d": round(n_events / timings["binning_1d"]["value"]),
        "ref_scale": ref_block,
        "series": {**timings, **extras},
    }
    # The driver captures only the last 2000 chars of stdout and parses the
    # JSON line out of that window; the full ref_scale diagnostics block
    # (all_runs/warmups/phases) grew the line past the window in rounds
    # 10-13 and the driver recorded "parsed": null every round.  Keep the
    # one stdout JSON line compact (same metric/value/unit/queries/extras
    # keys, ref_scale reduced to its medians + convergence flags, no
    # per-series run detail) and emit
    # the full diagnostics to stderr and BENCH_DETAIL.json next to this
    # file, so nothing measured is lost.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError:
        pass
    print("full detail: " + json.dumps(payload), file=sys.stderr)
    compact = dict(payload)
    del compact["series"]
    if ref_block:
        compact["ref_scale"] = {
            "n_rows": ref_block["n_rows"],
            "queries": ref_block["queries"],
            "converged": ref_block["converged"],
            "events_per_sec_1d": ref_block["events_per_sec_1d"],
        }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # never outgrow the driver's tail window again
        compact.pop("ref_scale", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


def _ref_scale_block(spark, n: int) -> dict:
    """binning/workflow timings at the reference benchmark's scale, each
    timed by :func:`_best_of` (in-memory table, clock covers only the
    histogram computation).

    BASELINE.md targets: binning_1d 3.02 s, binning_4d 9.21 s,
    workflow_1d 17.06 s, workflow_4d 21.42 s at 1e8 rows. Emitted keys:
    "queries" = per-query cluster median, then one dict per
    :func:`_best_of` field ("runs", "all_runs", "warmups", "converged",
    "phases", "health"), keyed by query.
    """
    from pyspark.sql import functions as F

    from sed_binning_spark.binning.binning import bin_dataframe

    ev = (
        spark.range(n, numPartitions=64)
        .select(
            (F.rand(1) * 2048.0).alias("X"),
            (F.rand(2) * 2048.0).alias("Y"),
            (60000.0 + F.rand(3) * 60000.0).alias("t"),
            (2000.0 + F.rand(4) * 18000.0).alias("ADC"),
        )
        .cache()
    )
    ev.agg(F.sum("X")).collect()  # materialize the cache fully

    recs = {}

    recs["binning_1d"] = _best_of(lambda: bin_dataframe(
        ev, bins=[1000], axes=["t"], ranges=[(60000.0, 120000.0)],
    ))
    recs["binning_4d"] = _best_of(lambda: bin_dataframe(
        ev, bins=[100, 100, 100, 100], axes=["X", "Y", "t", "ADC"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0), (60000.0, 120000.0), (2000.0, 20000.0)],
    ))

    def _chain():
        return _workflow_chain(ev)

    recs["workflow_1d"] = _best_of(lambda: bin_dataframe(
        _chain(), bins=[1000], axes=["energy"], ranges=[(20.0, 60.0)],
    ))
    recs["workflow_4d"] = _best_of(lambda: bin_dataframe(
        _chain(), bins=[100, 100, 100, 100], axes=["kx", "ky", "energy", "delay"],
        ranges=[(-12.0, 12.0), (-12.0, 12.0), (20.0, 60.0), (-6.0, 6.0)],
    ))

    # --- inv_dfield: inverse deformation field generation (benchmark
    # test_splinewarp, benchmark_sed.py:89-111 — a 512^2 momentum-map grid)
    from sed_binning_spark.calibration.momentum import generate_inverse_dfield
    from sed_binning_spark.calibration.momentum_fit import transform_fields

    fr, fc = transform_fields((512, 512), "rotation", angle=5.0)
    recs["inv_dfield"] = _best_of(lambda: generate_inverse_dfield(
        fr, fc, bin_ranges=((0, 512), (0, 512)),
        detector_ranges=((0, 2048), (0, 2048)),
    ))

    ev.unpersist()
    fields = ("runs", "all_runs", "warmups", "converged", "phases", "health")
    return {
        "n_rows": n,
        "queries": {k: r["value"] for k, r in recs.items()},
        **{f: {k: r[f] for k, r in recs.items()} for f in fields},
        "events_per_sec_1d": round(n / recs["binning_1d"]["value"]),
        "baseline_ref": {"binning_1d": 3.0176, "binning_4d": 9.2103,
                         "workflow_1d": 17.0553, "workflow_4d": 21.4181,
                         "inv_dfield": 5.1961},
    }


if __name__ == "__main__":
    main()
