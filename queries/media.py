"""Media queries: the frame- and audio-sample timelines over synthesized
and plan-time fixture payloads, and the multimodal feature extractors.
Fixtures are built once per process and their frozen truths become
oracle literals."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from queries import query
from queries._common import _docs
from sed_binning_spark.pipeline.multimodal import (
    extract_features, frame_sample_plan, gif_fixture_n_bytes, png_fixture_n_bytes,
    sample_audio_windows, sample_frames, synthesize_animated_gif_media_from_text,
    synthesize_gif_media_from_text, synthesize_png_media_from_text, synthesize_ppm_media_from_text,
    synthesize_wav_media_from_text,
)


_MP4_FIXTURES = None


def _mp4_fixture_blobs():
    """Plan-time MP4 fixtures for the frame_sample slot, two per codec
    family (variant = doc_id % 2). Motion-JPEG variants carry 2+v flat
    16×16 frames of value 8·(4+3f+5v) — multiples of 8 round-trip
    EXACTLY through the JPEG codec (DC quantization divides evenly), so
    the decoded statistics are closed-form. avc1 variants carry 3+w
    opaque payloads of 6+4f+2w bytes behind an stss marking the odd
    samples — the metadata-only path. Returns (mjpeg_blobs,
    mjpeg_frame_sizes, avc1_blobs); frame sizes become oracle literals
    (the frozen-model pattern)."""
    global _MP4_FIXTURES
    if _MP4_FIXTURES is None:
        from sed_binning_spark.pipeline.jpeg import encode_image_jpeg
        from sed_binning_spark.pipeline.mp4 import encode_mp4_mjpeg

        mj, sizes = [], []
        for v in range(2):
            frames = [
                encode_image_jpeg(
                    np.full((16, 16, 3), 8 * (4 + 3 * f + 5 * v), np.uint8),
                )
                for f in range(2 + v)
            ]
            sizes.append([len(fb) for fb in frames])
            mj.append(encode_mp4_mjpeg(
                frames, [(3 + f) * 10 for f in range(2 + v)],
                width=16, height=16,
            ))
        av = []
        for w in range(2):
            n = 3 + w
            av.append(encode_mp4_mjpeg(
                [b"\x00" * (6 + 4 * f + 2 * w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                width=320, height=240, sample_type=b"avc1",
                sync_samples=list(range(1, n + 1, 2)),
            ))
        # round 13: the B-frame timing shape — per-sample ctts offsets
        # (30·((f+w) % 2)) plus a 50 ms leading empty edit and a rate-1
        # zero-media-time edit, so presentation times are the closed
        # form 5f(f+3) + 30·((f+w)%2) + 50; no stss → every sample sync
        avb = []
        for w in range(2):
            n = 3 + w
            avb.append(encode_mp4_mjpeg(
                [b"\x00" * (6 + 4 * f + 2 * w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                width=320, height=240, sample_type=b"avc1",
                composition_offsets_ms=[30 * ((f + w) % 2) for f in range(n)],
                elst_media_time_ms=0, elst_empty_ms=50,
            ))
        # round 13: the fragmented (DASH/CMAF) shape — moof/traf/trun
        # timing with 2-sample fragments whose first sample is sync, so
        # keyframe = (f % 2 == 0) and start stays the 5f(f+3) closed form
        from sed_binning_spark.pipeline.mp4 import encode_mp4_fragmented

        frg = []
        for w in range(2):
            n = 4 + w
            frg.append(encode_mp4_fragmented(
                [b"\x00" * (5 + 2 * f + w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                width=320, height=240, sample_type=b"avc1",
                frames_per_fragment=2,
            ))
        # round 13: WebM — BlockGroup timing at the 5f(f+3) closed form,
        # so delays are the deltas 10f+20 with an honest NULL on the
        # final block (Matroska requires no per-frame duration);
        # keyframe = no ReferenceBlock (even f)
        from sed_binning_spark.pipeline.webm import encode_webm

        wbm = []
        for w in range(2):
            n = 3 + w
            wbm.append(encode_webm(
                [b"\x00" * (7 + 3 * f + w) for f in range(n)],
                [5 * f * (f + 3) for f in range(n)],
                keyframes=[f % 2 == 0 for f in range(n)],
                width=320, height=180, use_block_groups=True,
            ))
        # round 13: the AUDIO-track timeline (soun handler) — same
        # 5f(f+3) closed form; no stss → every sample sync; audio mode
        # reports NULL dims (channels/rate are pytest-pinned metadata)
        m4a = []
        for w in range(2):
            n = 3 + w
            m4a.append(encode_mp4_mjpeg(
                [b"\x00" * (9 + 2 * f + w) for f in range(n)],
                [(2 + f) * 10 for f in range(n)],
                sample_type=b"mp4a", handler=b"soun",
                channels=1 + w, sample_rate=8000 * (1 + w),
            ))
        # round 13: Ogg Opus — every packet a 20 ms SILK-WB TOC (config
        # 9, code 0) + filler, so starts are 20f and sizes 5+2f+w; the
        # parser derives the timing from the TOC byte alone
        from sed_binning_spark.pipeline.ogg import encode_ogg_opus

        ogg = []
        for w in range(2):
            n = 3 + w
            ogg.append(encode_ogg_opus(
                [bytes([(9 << 3) | 0]) + b"\x00" * (4 + 2 * f + w)
                 for f in range(n)],
                channels=1 + w, sample_rate=16000,
            ))
        # round 13: MPEG audio — 32 kHz MPEG-1 Layer III frames are an
        # exact 36 ms; variant bitrates 96/64 kbps give 432/288-byte
        # frames, all closed-form. Round 14: variant 1 leads with a
        # LAME-style Xing metadata frame, which carries no audio — the
        # oracle rows are UNCHANGED, so the hash gate proves the walk
        # excludes it (counting it would add a row and shift every
        # timestamp by 36 ms)
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames

        mp3 = [
            encode_mp3_frames(3 + w, bitrate_kbps=96 - 32 * w,
                              sample_rate=32000,
                              vbr_tag=b"Xing" if w else None)
            for w in range(2)
        ]
        # round 14: LACED WebM audio — how real muxers pack Opus
        # packets. Variant 0 laces Xiph (255-run sizes), variant 1
        # EBML (delta-coded varints); 2 frames per laced block, frame
        # sizes 6+3f+w, timestamps recovered by stepping the track's
        # 20 ms DefaultDuration across each laced block
        wbl = []
        for w in range(2):
            n = 4 + w
            wbl.append(encode_webm(
                [b"\x00" * (6 + 3 * f + w) for f in range(n)],
                [20 * f for f in range(n)],
                track_type=2, codec_id="A_OPUS", channels=2,
                sample_rate=48000.0, default_duration_ms=20,
                lacing="xiph" if w == 0 else "ebml",
                frames_per_block=2,
            ))
        # round 14: ADTS AAC — 1024-sample frames at 16 kHz are an
        # exact 64 ms; payload sizes 10+3f+w give 17+3f+w frame bytes,
        # all closed-form (the 7-byte header carries the length field)
        from sed_binning_spark.pipeline.aac import encode_adts_frames

        aac = [
            encode_adts_frames([10 + 3 * f + w for f in range(3 + w)],
                               sample_rate=16000, channels=1 + w)
            for w in range(2)
        ]
        _MP4_FIXTURES = (mj, sizes, av, avb, frg, wbm, m4a, ogg, mp3,
                         wbl, aac)
    return _MP4_FIXTURES


_IMA_FIXTURES = None


def _ima_fixture():
    """Plan-time ADPCM fixtures for the frame_sample slot (round 13,
    the frozen-model pattern): four deterministic 64-sample 4 kHz sine
    payloads — two through encode_audio_wav(fmt="ima4") (variants 0-1)
    and two through fmt="ms2" (variants 2-3), each one partial block,
    fact-trimmed. ADPCM is lossy, so the oracle cannot re-derive the
    samples from a closed form; instead the ENGINE really decodes inside
    sample_audio_windows while the oracle carries the per-window stats
    computed here ONCE with the identical numpy arithmetic (decode →
    /32768 → mean/std/min/max, full-precision reprs, rounding left to
    each engine's round(…, 6)). Returns (blobs, rows) with rows =
    (variant, window, start_ms, dur_ms, mean, std, min, max)."""
    global _IMA_FIXTURES
    if _IMA_FIXTURES is None:
        from sed_binning_spark.pipeline.multimodal import (
            decode_audio_wav, encode_audio_wav,
        )

        blobs, rows = [], []
        for v in range(4):
            sig = np.round(
                8000.0 * np.sin(np.arange(64) / (3 + v)),
            ).astype(np.int16)
            blob = encode_audio_wav(
                sig, 4000, fmt="ima4" if v < 2 else "ms2",
            )
            blobs.append(blob)
            dec, rate = decode_audio_wav(blob)
            spw = 4 * rate // 1000  # window_ms=4 → 16 samples
            for w in range(4):
                win = dec[w * spw : (w + 1) * spw] / 32768.0
                rows.append((
                    v, w, (w * spw * 1000 + rate // 2) // rate,
                    (spw * 1000 + rate // 2) // rate,
                    float(win.mean()), float(win.std()),
                    float(win.min()), float(win.max()),
                ))
        _IMA_FIXTURES = (blobs, rows)
    return _IMA_FIXTURES


_FLAC_FIXTURES = None


def _flac_fixture():
    """Plan-time FLAC fixtures for the frame_sample slot (round 14).
    FLAC is LOSSLESS, so unlike ADPCM the oracle needs no frozen
    literals: the 64-sample signal is a pure-integer closed form —
    x[i, c] = ((i²·(7+v) + 13·i + 401·c) % 4001) − 2000 — that DuckDB
    re-derives symbolically while the engine must reproduce it by
    actually decoding the payload (frame walk, predictors, Rice,
    mid/side, CRCs, md5). Variant 0 is mono / FIXED order 2 /
    2 Rice partitions; variant 1 is stereo mid-side / LPC — two
    genuinely different decode paths behind one formula."""
    global _FLAC_FIXTURES
    if _FLAC_FIXTURES is None:
        from sed_binning_spark.pipeline.flac import encode_flac

        blobs = []
        i = np.arange(64, dtype=np.int64)
        for v in range(2):
            ch = 1 + v
            sig = np.stack([
                ((i * i * (7 + v) + 13 * i + 401 * c) % 4001) - 2000
                for c in range(ch)
            ], axis=1)
            if v == 0:
                blobs.append(encode_flac(
                    sig, 4000, block_size=32, subframe="fixed",
                    order=2, partition_order=1,
                ))
            else:
                blobs.append(encode_flac(
                    sig, 4000, block_size=64, channel_mode="mid_side",
                    subframe="lpc", lpc_coefs=[3, -1], lpc_shift=1,
                    lpc_precision=4,
                ))
        _FLAC_FIXTURES = blobs
    return _FLAC_FIXTURES


# NULL duration (NULL n_chars) is dropped, mirroring the engine's
# explicit filter — greatest() skips NULLs in both engines, so
# without the WHERE an unknown-duration row would fabricate a
# frame at t=0. The gif leg regenerates the animated fixture's
# timeline and per-frame stats closed-form (see _q_frame_sample).
@query("frame_sample", oracle=lambda: (
    "SELECT 'plan' AS leg, doc_id, CAST(unnest(generate_series(0, "
    "n_chars - 1, 25)) AS BIGINT) AS frame_ms, "
    "CAST(NULL AS INT) AS frame_index, "
    "CAST(NULL AS BIGINT) AS delay_ms, "
    "CAST(NULL AS INT) AS fwidth, CAST(NULL AS INT) AS fheight, "
    "CAST(NULL AS DOUBLE) AS fmean, CAST(NULL AS DOUBLE) AS fstd, "
    "CAST(NULL AS DOUBLE) AS fmin, CAST(NULL AS DOUBLE) AS fmax, "
    "CAST(NULL AS BIGINT) AS fn_bytes, "
    "CAST(NULL AS BOOLEAN) AS fkeyframe "
    "FROM documents WHERE n_chars > 0 "
    "UNION ALL SELECT 'gif', doc_id, "
    "CAST(5 * f * (f + 3) AS BIGINT), CAST(f AS INT), "
    "CAST((2 + f) * 10 AS BIGINT), 24, 1, "
    "round(m / 255.0, 6), "
    "round(sqrt(list_sum(list_transform(bs, x -> "
    "(x - m) * (x - m))) / 24.0) / 255.0, 6), "
    "round(CAST(list_min(bs) AS DOUBLE) / 255.0, 6), "
    "round(CAST(list_max(bs) AS DOUBLE) / 255.0, 6), "
    # composited GIF canvases are not byte-delimited and carry
    # no sync concept
    "CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN) "
    "FROM (SELECT doc_id, f, bs, list_sum(bs) / 24.0 AS m FROM "
    "(SELECT doc_id, f, list_transform(range(0, 24), j -> "
    "CAST('0x' || substr(md5(text), "
    "CAST(((j + f) % 16) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
    "FROM documents, range(3) t(f) "
    "WHERE doc_id % 3 = 0 AND text IS NOT NULL)) "
    # Motion-JPEG-in-MP4: flat 8-multiple frames decode EXACTLY,
    # so the stats are val/255 with zero spread; byte extents
    # are the frozen fixture sizes; no stss = every sample sync
    "UNION ALL SELECT 'mp4j', doc_id, "
    "CAST(5 * t.f * (t.f + 5) AS BIGINT), CAST(t.f AS INT), "
    "CAST((3 + t.f) * 10 AS BIGINT), 16, 16, "
    "round(t.val / 255.0, 6), CAST(0 AS DOUBLE), "
    "round(t.val / 255.0, 6), round(t.val / 255.0, 6), "
    "CAST(t.sz AS BIGINT), TRUE "
    f"FROM documents, (VALUES {_mp4j_values_sql()}) t(v, f, val, sz) "
    "WHERE doc_id % 3 = 1 AND doc_id % 2 = t.v "
    # real-codec metadata-only timeline: container timing, the
    # closed-form 6+4f+2w byte extents, odd-sample stss flags,
    # sample-entry dims, NULL pixel statistics
    "UNION ALL SELECT 'avc1', doc_id, "
    "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
    "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(6 + 4 * t.f + 2 * (doc_id % 2) AS BIGINT), t.f % 2 = 0 "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
    # keyframes_only over the same GIF fixture: only frame 0
    # (the single independently-decodable frame) survives the
    # decode cap — same timing/stats closed form at f = 0
    "UNION ALL SELECT 'gifk', doc_id, "
    "CAST(0 AS BIGINT), CAST(0 AS INT), CAST(20 AS BIGINT), 24, 1, "
    "round(m / 255.0, 6), "
    "round(sqrt(list_sum(list_transform(bs, x -> "
    "(x - m) * (x - m))) / 24.0) / 255.0, 6), "
    "round(CAST(list_min(bs) AS DOUBLE) / 255.0, 6), "
    "round(CAST(list_max(bs) AS DOUBLE) / 255.0, 6), "
    "CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN) "
    "FROM (SELECT doc_id, bs, list_sum(bs) / 24.0 AS m FROM "
    "(SELECT doc_id, list_transform(range(0, 24), j -> "
    "CAST('0x' || substr(md5(text), "
    "CAST((j % 16) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
    "FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL)) "
    # keyframes_only over the avc1 timeline: stss prunes before
    # decode, the CONTAINER sample index survives — exactly the
    # even 0-indexed rows of the avc1 leg, nothing renumbered
    "UNION ALL SELECT 'avck', doc_id, "
    "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
    "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(6 + 4 * t.f + 2 * (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
    "AND t.f % 2 = 0 "
    # B-frame presentation timing: decode start 5f(f+3) + the
    # per-sample ctts offset 30·((f+w)%2) + the 50 ms empty-edit
    # delay; no stss → every sample sync
    "UNION ALL SELECT 'avcb', doc_id, "
    "CAST(5 * t.f * (t.f + 3) "
    "+ 30 * ((t.f + doc_id % 2) % 2) + 50 AS BIGINT), "
    "CAST(t.f AS INT), "
    "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(6 + 4 * t.f + 2 * (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 0 AND t.f < 3 + (doc_id % 2) "
    # fragmented (DASH/CMAF) timeline: tfdt-anchored starts keep
    # the 5f(f+3) closed form; 2-sample fragments whose first
    # sample is sync → keyframe = (f % 2 = 0)
    "UNION ALL SELECT 'frag', doc_id, "
    "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
    "CAST((2 + t.f) * 10 AS BIGINT), 320, 240, "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(5 + 2 * t.f + (doc_id % 2) AS BIGINT), t.f % 2 = 0 "
    "FROM documents, range(5) t(f) "
    "WHERE doc_id % 3 = 1 AND t.f < 4 + (doc_id % 2) "
    # WebM BlockGroup timeline: same 5f(f+3) starts, per-block
    # durations = the deltas 10f+20 with an honest NULL on the
    # final block; keyframe = no ReferenceBlock (even f)
    "UNION ALL SELECT 'webm', doc_id, "
    "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
    "CAST(CASE WHEN t.f < 2 + (doc_id % 2) "
    "THEN 10 * t.f + 20 END AS BIGINT), 320, 180, "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(7 + 3 * t.f + (doc_id % 2) AS BIGINT), t.f % 2 = 0 "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
    # LACED WebM audio (round 14): Xiph (variant 0) / EBML
    # (variant 1) lace sizes decode to exact 6+3f+w extents;
    # laced timestamps step by the 20 ms DefaultDuration;
    # SimpleBlock audio → every frame sync, NULL dims
    "UNION ALL SELECT 'webl', doc_id, "
    "CAST(20 * t.f AS BIGINT), CAST(t.f AS INT), "
    "CAST(20 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(6 + 3 * t.f + (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(5) t(f) "
    "WHERE doc_id % 3 = 1 AND t.f < 4 + (doc_id % 2) "
    # audio-track (soun) timeline: same 5f(f+3) closed form,
    # NULL dims in audio mode, no stss → every sample sync
    "UNION ALL SELECT 'm4au', doc_id, "
    "CAST(5 * t.f * (t.f + 3) AS BIGINT), CAST(t.f AS INT), "
    "CAST((2 + t.f) * 10 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(9 + 2 * t.f + (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 0 AND t.f < 3 + (doc_id % 2) "
    # Ogg Opus: all-20 ms TOCs → starts 20f, packet sizes
    # 5+2f+w, every packet independently decodable (sync)
    "UNION ALL SELECT 'oggp', doc_id, "
    "CAST(20 * t.f AS BIGINT), CAST(t.f AS INT), "
    "CAST(20 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(5 + 2 * t.f + (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 1 AND t.f < 3 + (doc_id % 2) "
    # MPEG audio: exact 36 ms frames at 32 kHz; frame bytes
    # 432/288 by the variant bitrate (96/64 kbps)
    "UNION ALL SELECT 'mp3f', doc_id, "
    "CAST(36 * t.f AS BIGINT), CAST(t.f AS INT), "
    "CAST(36 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(432 - 144 * (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 2 AND t.f < 3 + (doc_id % 2) "
    # ADTS AAC: exact 64 ms frames at 16 kHz; frame bytes =
    # 7-byte header + payload 10+3f+w
    "UNION ALL SELECT 'aacf', doc_id, "
    "CAST(64 * t.f AS BIGINT), CAST(t.f AS INT), "
    "CAST(64 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
    "CAST(17 + 3 * t.f + (doc_id % 2) AS BIGINT), TRUE "
    "FROM documents, range(4) t(f) "
    "WHERE doc_id % 3 = 0 AND t.f < 3 + (doc_id % 2) "
    # audio twin: 8-bit WAV samples = md5 bytes; every stat is a
    # dyadic rational ((b-128)/128), so the std's msq - mu*mu
    # form and the engine's mean-of-squared-deviations are the
    # SAME exact double
    "UNION ALL SELECT 'wav', doc_id, "
    "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
    "round((list_min(bs) - 128) / 128.0, 6), "
    "round((list_max(bs) - 128) / 128.0, 6), "
    "CAST(4 AS BIGINT), CAST(NULL AS BOOLEAN) "
    "FROM (SELECT doc_id, w, bs, "
    "(list_sum(bs) - 512) / 512.0 AS mu, "
    "list_sum(list_transform(bs, x -> "
    "((x - 128) / 128.0) * ((x - 128) / 128.0))) / 4.0 AS msq "
    "FROM (SELECT doc_id, w, list_transform(range(0, 4), j -> "
    "CAST('0x' || substr(md5(text), "
    "CAST((w * 4 + j) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
    "FROM documents, range(4) t(w) "
    "WHERE doc_id % 2 = 0 AND text IS NOT NULL)) "
    # transcode twin: the 1 kHz fixture resampled to 500 Hz at
    # an integral ratio picks EXACT source samples — windows of
    # 2 over the even md5 bytes (indexes 4w, 4w+2)
    "UNION ALL SELECT 'rsw', doc_id, "
    "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
    "round((list_min(bs) - 128) / 128.0, 6), "
    "round((list_max(bs) - 128) / 128.0, 6), "
    "CAST(2 AS BIGINT), CAST(NULL AS BOOLEAN) "
    "FROM (SELECT doc_id, w, bs, "
    "(list_sum(bs) - 256) / 256.0 AS mu, "
    "list_sum(list_transform(bs, x -> "
    "((x - 128) / 128.0) * ((x - 128) / 128.0))) / 2.0 AS msq "
    "FROM (SELECT doc_id, w, list_transform(range(0, 2), j -> "
    "CAST('0x' || substr(md5(text), "
    "CAST((w * 4 + j * 2) * 2 + 1 AS INTEGER), 2) AS BIGINT)) AS bs "
    "FROM documents, range(4) t(w) "
    "WHERE doc_id % 2 = 0 AND text IS NOT NULL)) "
    # telephony twins: the same md5 bytes behind G.711 format
    # tags, expanded through the ITU table arithmetic per byte
    + _g711_leg_sql("ulw", "ulaw", 1)
    + _g711_leg_sql("alw", "alaw", 3)
    # FLAC (round 14): LOSSLESS, so the twin re-derives every
    # window stat from the fixture's integer signal formula
    # x[i,c] = ((i²·(7+v) + 13i + 401c) % 4001) − 2000 — no
    # frozen literals; the engine must actually decode. All
    # intermediates are exact dyadics (sums < 2^33 numerators),
    # so sqrt(msq − mu²) equals numpy's std bit-for-bit
    + "UNION ALL SELECT 'flc', doc_id, "
    "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
    "round(mn / 32768.0, 6), round(mx / 32768.0, 6), "
    "CAST(16 AS BIGINT), CAST(NULL AS BOOLEAN) "
    "FROM (SELECT doc_id, w, "
    "list_sum(xs) / (len(xs) * 32768.0) AS mu, "
    "list_sum(list_transform(xs, x -> CAST(x AS DOUBLE) * x)) "
    "/ (len(xs) * 1073741824.0) AS msq, "
    "list_min(xs) AS mn, list_max(xs) AS mx "
    "FROM (SELECT doc_id, w, list_transform("
    "range(0, 16 * (1 + v)), j -> "
    "(((16 * w + j // (1 + v)) * (16 * w + j // (1 + v)) "
    "* (7 + v) + 13 * (16 * w + j // (1 + v)) "
    "+ 401 * (j % (1 + v))) % 4001) - 2000) AS xs "
    "FROM (SELECT doc_id, doc_id % 2 AS v FROM documents "
    "WHERE doc_id % 3 = 2), range(4) t(w))) "
    # IMA-/MS-ADPCM: fixed lossy fixtures through the real block
    # decoders; truth frozen at plan time (see _ima_fixture)
    + "UNION ALL SELECT "
    "CASE WHEN doc_id % 4 = 2 THEN 'ima' ELSE 'msa' END, "
    "doc_id, CAST(t.sms AS BIGINT), "
    "CAST(t.w AS INT), CAST(t.dur AS BIGINT), "
    "CAST(NULL AS INT), CAST(NULL AS INT), "
    "round(t.mu, 6), round(t.sd, 6), "
    "round(t.mn, 6), round(t.mx, 6), "
    "CAST(16 AS BIGINT), CAST(NULL AS BOOLEAN) "
    f"FROM documents, (VALUES {_ima_values_sql()}) "
    "t(v, w, sms, dur, mu, sd, mn, mx) "
    "WHERE doc_id % 2 = 0 AND t.v = CASE doc_id % 8 "
    "WHEN 2 THEN 0 WHEN 6 THEN 1 WHEN 0 THEN 2 ELSE 3 END"
))
def _q_frame_sample(spark, sf):
    """Video frame sampling, all four legs merged. The 'plan' leg is the
    pure-expression timestamp grid (frame_sample_plan, one row per
    (media, frame timestamp) via sequence+explode, durations synthesized
    from document length). The 'gif' leg (round 11) is the DECODE half:
    every doc_id % 3 == 0 document becomes an expression-built ANIMATED
    GIF89a (three full-screen frames of md5-rotated samples behind
    graphic-control extensions with 20/30/40 ms delays), and
    sample_frames runs the real decode_gif_frames compositing walk
    inside mapInPandas — per-frame start times come from the container's
    own timing metadata and the pixel statistics from the composed
    canvases, all of which the oracle regenerates closed-form from the
    construction (start_f = 5·f·(f+3) ms, samples = md5 bytes rotated by
    the frame index).

    Round 12 adds the MP4 container (pipeline.mp4): the 'mp4j' leg
    (doc_id % 3 == 1) demuxes Motion-JPEG-in-MP4 through the full
    stts/stsc/stco/stsz walk and decodes each sample with the JPEG
    codec — flat 8-multiple frames round-trip exactly, so the oracle
    predicts the pixel statistics closed-form and the sample byte
    extents as frozen fixture literals; the 'avc1' leg (doc_id % 3 ==
    2) is the metadata-only timeline for real codecs: container timing,
    closed-form byte extents (6+4f+2w), stss keyframe flags, and
    sample-entry dimensions with NULL pixel statistics.

    Round 12 also adds the AUDIO twin ('wav', doc_id % 2 == 0): an
    expression-built 8-bit mono RIFF/WAVE whose 16 samples are exactly
    unhex(md5(text)), windowed by sample_audio_windows at the fmt
    chunk's own 1 kHz clock into four 4 ms windows. Every statistic is
    a dyadic rational — (b−128)/128 values, so means/variances round
    NOWHERE in a double — and the twin regenerates mean, std (via the
    mathematically identical msq − mu² form; all intermediates exact,
    so both engines land on the same double), min, and max from the
    same md5 bytes.

    Round 13 gates the keyframes_only sampling mode over the SAME
    fixtures: the 'gifk' leg pins the GIF cap-to-frame-0 rule (frame 0
    is the one independently-decodable frame) and the 'avck' leg pins
    stss pruning before decode with the CONTAINER sample index
    preserved (odd 1-indexed sync samples → even 0-indexed
    frame_index, nothing renumbered). Round 13 also adds: 'avcb' —
    B-frame PRESENTATION timing (signed ctts offsets + an edit list's
    empty-edit delay, closed-form PTS); 'frag' — the fragmented
    DASH/CMAF shape through the real moof/traf/trun walk (tfdt-anchored
    timing, per-sample sync bits); 'webm' — the EBML/Matroska half of
    web video (BlockGroup timing with an honest NULL delay on the final
    block, ReferenceBlock keyframing); 'm4au' — the soun-handler AUDIO
    track timeline through the same operator in media="audio" mode;
    'oggp' — Ogg Opus per-packet timing derived from the RFC 6716 TOC
    byte (CRC-verified page walk, no decoder); 'mp3f' — MPEG audio
    per-frame timing from the pure header walk (exact 36 ms frames at
    32 kHz; round 14 leads variant 1 with a LAME-style Xing metadata
    frame the walk must EXCLUDE — counting it would add a row and
    shift every timestamp); 'aacf' — ADTS AAC per-frame timing from
    the header's explicit 13-bit length field (exact 64 ms frames at
    16 kHz, round 14); 'rsw' — transcode_audio resampling
    the 1 kHz fixture to 500 Hz (integral ratio → exact source picks,
    the even md5 bytes) before windowing; 'ulw'/'alw' — the same md5
    bytes behind ITU-T G.711 format tags, the twin replaying the ITU
    expansion arithmetic per byte; and 'ima'/'msa' — IMA-/MS-ADPCM
    through the real block decoders with plan-time-frozen window
    stats (lossy codecs have no SQL closed form; see _ima_fixture)."""
    # the UNSPLIT scan keeps this whole many-leg union ONE stage of
    # one-task legs that the scheduler runs concurrently: each leg's
    # per-batch decode memo then sees every fixture repeat (decode once
    # per distinct payload), and no per-leg exchanges/AQE stages exist.
    # Splitting the scan was measured 2x WORSE here both ways (fixture
    # legs re-decode per partition; adding payload-hash colocation
    # shuffles got parallel decode back but paid ~20 extra stages).
    docs = _docs(spark, sf, split=False)

    media = docs.select("doc_id", F.col("n_chars").alias("duration_ms"))
    plan = frame_sample_plan(media, every_ms=25, id_column="doc_id")
    plan_leg = plan.select(
        F.lit("plan").alias("leg"), "doc_id",
        F.col("frame_ms").cast("bigint").alias("frame_ms"),
        F.lit(None).cast("int").alias("frame_index"),
        F.lit(None).cast("bigint").alias("delay_ms"),
        F.lit(None).cast("int").alias("fwidth"),
        F.lit(None).cast("int").alias("fheight"),
        F.lit(None).cast("double").alias("fmean"),
        F.lit(None).cast("double").alias("fstd"),
        F.lit(None).cast("double").alias("fmin"),
        F.lit(None).cast("double").alias("fmax"),
        F.lit(None).cast("bigint").alias("fn_bytes"),
        F.lit(None).cast("boolean").alias("fkeyframe"),
    )

    def decoded_leg(frames_df, leg_col, id_expr=None):
        id_expr = F.col("media_id") if id_expr is None else id_expr
        return frames_df.select(
            leg_col.alias("leg"),
            id_expr.alias("doc_id"),
            F.col("frame_ms").cast("bigint").alias("frame_ms"),
            "frame_index",
            F.col("delay_ms").cast("bigint").alias("delay_ms"),
            F.col("width").alias("fwidth"),
            F.col("height").alias("fheight"),
            F.round("mean", 6).alias("fmean"),
            F.round("std", 6).alias("fstd"),
            F.round("min", 6).alias("fmin"),
            F.round("max", 6).alias("fmax"),
            F.col("n_bytes").alias("fn_bytes"),
            F.col("keyframe").alias("fkeyframe"),
        )

    # r15 fold (guide §4.3/§2.1): the per-FIXTURE-leg cost was stage fixed
    # overhead — one scheduler slot + Arrow channel + Python worker round
    # trip per leg, ~19 of them — not decode work (the per-batch memo
    # decodes each distinct fixture once). sample_frames dispatches per
    # payload by magic bytes, so every leg sharing the SAME call args can
    # share ONE mapInPandas stage: the leg rides a composite id
    # (media_id = doc_id * 8 + code, re-derived after decode), and one
    # explode fans each doc out to its fixture families. Row set is
    # bit-identical to the former per-leg unions (oracle hash unchanged).
    def folded_media(entries):
        arr = F.filter(
            F.array(*[
                F.when(cond, F.struct(
                    F.lit(code).cast("long").alias("c"), payload.alias("p"),
                ))
                for cond, code, payload in entries
            ]),
            lambda s: s.isNotNull(),
        )
        ex = docs.select(did.alias("__d"), F.explode(arr).alias("__e"))
        return ex.select(
            (F.col("__d") * 8 + F.col("__e.c")).alias("media_id"),
            F.col("__e.p").alias("payload"),
        )

    def folded_doc_id():
        return F.expr("media_id div 8")

    def folded_label(mapping: dict):
        codes = sorted(mapping)
        lab = F.when(F.col("media_id") % 8 == codes[0], mapping[codes[0]])
        for c in codes[1:-1]:
            lab = lab.when(F.col("media_id") % 8 == c, mapping[c])
        return lab.otherwise(mapping[codes[-1]])

    # The gif/gifk payloads are DISTINCT per document (md5-built), so the
    # per-batch decode memo never helps them and the unsplit one-task leg
    # decodes ~n_docs/3 animated GIFs in pure-Python LZW on ONE core —
    # measured as frame_sample's slowest leg (2.4 s vs ≤0.7 s for every
    # fixture leg, which all run concurrently in the same stage). Split
    # ONLY this branch via the same data-size-derived rule as the docs
    # scan (_split_small_scan: a no-op once the input yields native
    # splits at scale); the fixture legs keep the unsplit scan and their
    # fully-effective memo.
    agif = synthesize_animated_gif_media_from_text(
        _docs(spark, sf).where(F.col("doc_id") % 3 == 0), frames=3,
    )
    gif_leg = decoded_leg(sample_frames(agif), F.lit("gif"))

    # ALL default-args video fixture families through ONE sample_frames
    # stage (see the fold note above): mp4j/avc1 + avcb + frag + webm
    (mj, _sizes, av, avb, frg, wbm, m4a, ogg, mp3, wbl,
     aac) = _mp4_fixture_blobs()
    did = F.col("doc_id")

    def _pick2(blobs):
        return (F.when(did % 2 == 0, F.lit(bytearray(blobs[0])))
                .otherwise(F.lit(bytearray(blobs[1]))))

    vid_media = folded_media([
        (did % 3 == 0, 0, _pick2(avb)),
        (did % 3 == 1, 1, _pick2(mj)),
        (did % 3 == 1, 2, _pick2(frg)),
        (did % 3 == 2, 3, _pick2(av)),
        (did % 3 == 2, 4, _pick2(wbm)),
    ])
    vid_leg = decoded_leg(
        sample_frames(vid_media),
        folded_label({0: F.lit("avcb"), 1: F.lit("mp4j"), 2: F.lit("frag"),
                      3: F.lit("avc1"), 4: F.lit("webm")}),
        id_expr=folded_doc_id(),
    )

    # round 13: the keyframes_only sampling mode, oracle-gated as two
    # sub-legs over the SAME fixtures — 'gifk' pins the GIF cap-to-
    # frame-0 rule (frame 0 is the one independently-decodable frame),
    # 'avck' pins stss pruning BEFORE decode with the CONTAINER sample
    # index preserved (odd 1-indexed sync samples -> even 0-indexed
    # frame_index rows, nothing renumbered)
    gifk_leg = decoded_leg(
        sample_frames(agif, keyframes_only=True), F.lit("gifk"),
    )
    # ALL audio-mode fixture families through ONE sample_frames stage:
    # m4au (soun track) + aacf (ADTS) + oggp (Ogg Opus TOC) + webl
    # (laced Matroska audio) + mp3f (MPEG header walk) — the operator
    # dispatches per payload by magic, legs re-labelled from the code
    aud_media = folded_media([
        (did % 3 == 0, 0, _pick2(m4a)),
        (did % 3 == 0, 1, _pick2(aac)),
        (did % 3 == 1, 2, _pick2(ogg)),
        (did % 3 == 1, 3, _pick2(wbl)),
        (did % 3 == 2, 4, _pick2(mp3)),
    ])
    aud_leg = decoded_leg(
        sample_frames(aud_media, media="audio"),
        folded_label({0: F.lit("m4au"), 1: F.lit("aacf"), 2: F.lit("oggp"),
                      3: F.lit("webl"), 4: F.lit("mp3f")}),
        id_expr=folded_doc_id(),
    )
    # keyframes_only differs in call args, so it keeps its own stage
    avck_media = docs.where(did % 3 == 2).select(
        did.alias("media_id"), _pick2(av).alias("payload"),
    )
    avck_leg = decoded_leg(
        sample_frames(avck_media, keyframes_only=True), F.lit("avck"),
    )

    def audio_leg(media_df, leg_col, id_expr=None):
        id_expr = F.col("media_id") if id_expr is None else id_expr
        return sample_audio_windows(media_df, window_ms=4).select(
            leg_col.alias("leg"),
            id_expr.alias("doc_id"),
            F.col("start_ms").alias("frame_ms"),
            F.col("window_index").alias("frame_index"),
            F.col("duration_ms").alias("delay_ms"),
            F.lit(None).cast("int").alias("fwidth"),
            F.lit(None).cast("int").alias("fheight"),
            F.round("mean", 6).alias("fmean"),
            F.round("std", 6).alias("fstd"),
            F.round("min", 6).alias("fmin"),
            F.round("max", 6).alias("fmax"),
            F.col("n_samples").cast("bigint").alias("fn_bytes"),
            F.lit(None).cast("boolean").alias("fkeyframe"),
        )

    # Like the gif branch: wav/rsw/g711 payloads are DISTINCT per document
    # (md5-built), so the decode memo never fires and the one-task legs
    # serialize their per-row decode on one core (measured 0.8-1.3 s each
    # while every fixture leg is ≤0.7 s). The split parallelizes both the
    # expression synthesis and the Python decode; fixture legs (adpcm,
    # flac) keep the unsplit scan and their fully-effective memo.
    docs_split = _docs(spark, sf)
    wav = synthesize_wav_media_from_text(
        docs_split.where(F.col("doc_id") % 2 == 0),
    )
    wav_leg = audio_leg(wav, F.lit("wav"))

    # round 13: transcode_audio in the loop — resample the same fixture
    # 1 kHz → 500 Hz (an integral ratio with aligned phase, so the
    # linear interpolation picks EXACT source samples: the even md5
    # bytes) and window the result; the twin re-derives everything from
    # bytes at indexes 4w and 4w+2
    from sed_binning_spark.pipeline.multimodal import transcode_audio

    rsw_leg = audio_leg(transcode_audio(wav, target_rate=500), F.lit("rsw"))

    # round 13: the SAME md5 bytes behind ITU-T G.711 format tags — the
    # byte IS the companded code, expanded through the exact-integer
    # tables inside decode_audio_wav, so the windowed stats stay exact
    # dyadic-rational closed forms the oracle re-derives per byte
    g711 = synthesize_wav_media_from_text(
        docs_split.where(did % 4 == 1), codec="ulaw",
    ).unionByName(synthesize_wav_media_from_text(
        docs_split.where(did % 4 == 3), codec="alaw",
    ))
    g711_leg = audio_leg(
        g711,
        F.when(F.col("media_id") % 4 == 1, F.lit("ulw")).otherwise(F.lit("alw")),
    )

    # IMA-/MS-ADPCM (real block decoders, frozen-literal oracle truth,
    # _ima_fixture) and FLAC (real RFC 9639 decoder: fixed + LPC
    # predictors, Rice partitions, mid/side, CRC/md5) share ONE
    # sample_audio_windows stage — same fold as vid/aud above (the
    # operator dispatches RIFF vs fLaC by magic per payload)
    adpcm_blobs, _ = _ima_fixture()
    flac_blobs = _flac_fixture()
    fixwin_media = folded_media([
        (did % 2 == 0, 0,
         F.when(did % 8 == 2, F.lit(bytearray(adpcm_blobs[0])))
         .when(did % 8 == 6, F.lit(bytearray(adpcm_blobs[1])))
         .when(did % 8 == 0, F.lit(bytearray(adpcm_blobs[2])))
         .otherwise(F.lit(bytearray(adpcm_blobs[3])))),
        (did % 3 == 2, 1, _pick2(flac_blobs)),
    ])
    fixwin_leg = audio_leg(
        fixwin_media,
        F.when(F.col("media_id") % 8 == 1, F.lit("flc"))
        .when(folded_doc_id() % 4 == 2, F.lit("ima"))
        .otherwise(F.lit("msa")),
        id_expr=folded_doc_id(),
    )
    return (
        plan_leg.unionByName(gif_leg).unionByName(vid_leg)
        .unionByName(gifk_leg).unionByName(avck_leg)
        .unionByName(aud_leg)
        .unionByName(wav_leg).unionByName(rsw_leg)
        .unionByName(g711_leg).unionByName(fixwin_leg)
    )


_JPEG12_FIXTURES = None


def _jpeg12_fixture():
    """Plan-time 12-bit extended-sequential JPEG fixtures for the
    multimodal_features slot (round 13, the frozen-model pattern): two
    flat 16×16 grayscale frames at v12 ∈ (273, 2457). Both values make
    v12·255/4095 integral (17 and 153) and flat DC-only blocks quantize
    exactly, so decode through the pure-Python codec is bit-exact and
    every feature element is closed-form: [1, 16, 16, 1, m, 0, m, m]
    with m = v8/255, quantized through float32 exactly as the engine's
    ArrayType(FloatType) Arrow cast. Returns (blobs, feat_csv_literals,
    byte_sizes)."""
    global _JPEG12_FIXTURES
    if _JPEG12_FIXTURES is None:
        from sed_binning_spark.pipeline.jpeg import encode_image_jpeg

        blobs, feats = [], []
        for v12 in (273, 2457):
            blobs.append(encode_image_jpeg(
                np.full((16, 16), v12, np.uint16), precision=12,
            ))
            m = (v12 * 255 // 4095) / 255.0
            vec = [1.0, 16.0, 16.0, 1.0, m, 0.0, m, m]
            feats.append(",".join(
                str(int(round(float(np.float32(x)) * 1e6))) for x in vec
            ))
        _JPEG12_FIXTURES = (blobs, feats, [len(b) for b in blobs])
    return _JPEG12_FIXTURES


_WEBP_FIXTURES = None


def _webp_fixture():
    """Plan-time WebP fixtures for the multimodal_features slot
    (round 14): one blob per container variant — VP8 lossy 48×30,
    VP8L lossless 33×17, VP8X extended 1024×768. The engine must
    parse the real headers for the dimensions (the independent
    claim); the byte-stat slots are frozen once at plan time with the
    engine's own float arithmetic, the _jpeg12 pattern. Returns
    (blobs, feat_csv_literals, byte_sizes)."""
    global _WEBP_FIXTURES
    if _WEBP_FIXTURES is None:
        from sed_binning_spark.pipeline.multimodal import (
            _norm_stats, encode_webp_header,
        )

        blobs, feats = [], []
        for variant, w, h in (("vp8", 48, 30), ("vp8l", 33, 17),
                              ("vp8x", 1024, 768)):
            blob = encode_webp_header(w, h, variant=variant)
            blobs.append(blob)
            stats = _norm_stats(np.frombuffer(blob, np.uint8), 255.0)
            vec = [3.0, float(w), float(h), 0.0, *stats]
            feats.append(",".join(
                str(int(round(float(np.float32(x)) * 1e6))) for x in vec
            ))
        _WEBP_FIXTURES = (blobs, feats, [len(b) for b in blobs])
    return _WEBP_FIXTURES


_TAGS_FIXTURES = None
# doc_id % 80 keys of the tag-fixture variants (all ≡ 2 mod 5 so the
# key is reachable from the doc_id % 5 == 2 subset; 500 driver docs
# cover every class)
_TAG_VARIANT_KEYS = [2, 7, 12, 17, 22, 27, 32, 37, 42, 47, 52, 57, 62,
                     67]


def _tags_fixture():
    """Plan-time tag-bearing media fixtures for the multimodal_features
    slot (round 14): eight payloads, one per tag grammar/variant —
    ID3v2.3 (latin-1 + UTF-16 + TXXX/COMM/USLT), ID3v2.4 (UTF-8),
    trailing ID3v1.1, FLAC VORBIS_COMMENT, MP4 ilst, RIFF LIST-INFO,
    Ogg Opus OpusTags, and ID3v2.3 with global unsynchronisation
    (0xFF-laden text). The oracle's expected ``(container, key,
    value)`` rows are declared here from the ENCODER INPUTS — the
    engine must really walk the tag structures to reproduce them; the
    builder and parser are independent inverse implementations.
    Returns (blobs, expected) with ``expected[i]`` the tag rows of
    ``blobs[i]``."""
    global _TAGS_FIXTURES
    if _TAGS_FIXTURES is None:
        from sed_binning_spark.pipeline.flac import encode_flac
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames
        from sed_binning_spark.pipeline.multimodal import encode_audio_wav
        from sed_binning_spark.pipeline.ogg import encode_ogg_opus
        from sed_binning_spark.pipeline.tags import (
            add_flac_vorbis_comments,
            add_riff_info,
            encode_id3v1,
            encode_id3v2,
            encode_mp4_tags_fixture,
            encode_vorbis_comment_block,
        )

        mp3_audio = encode_mp3_frames(2)
        blobs, expected = [], []

        # v0 — ID3v2.3: latin-1, UTF-16 (non-latin-1 artist), TXXX,
        # COMM, USLT, and a mapped genre frame
        blobs.append(encode_id3v2([
            ("TIT2", "Spark Title"), ("TPE1", "Ärtïst Ünïon"),
            ("TXXX:mood", "calm"), ("COMM:note", "a tiny comment"),
            ("USLT:l", "la la lyrics"), ("TCON", "Electronic"),
            ("APIC", "image/png"),
        ], version=3) + mp3_audio)
        expected.append([
            ("mp3", "title", "Spark Title"),
            ("mp3", "artist", "Ärtïst Ünïon"),
            ("mp3", "mood", "calm"),
            ("mp3", "comment", "a tiny comment"),
            ("mp3", "lyrics", "la la lyrics"),
            ("mp3", "genre", "Electronic"),
            ("mp3", "artwork", "image/png"),
        ])

        # v1 — ID3v2.4: UTF-8 text, syncsafe frame sizes, TDRC date
        blobs.append(encode_id3v2([
            ("TIT2", "Tïtle Twénty-Fôur"), ("TDRC", "2024-05-01"),
            ("TXXX:source", "crawl"),
        ], version=4) + mp3_audio)
        expected.append([
            ("mp3", "title", "Tïtle Twénty-Fôur"),
            ("mp3", "date", "2024-05-01"),
            ("mp3", "source", "crawl"),
        ])

        # v2 — bare MPEG audio + trailing ID3v1.1 block
        blobs.append(mp3_audio + encode_id3v1(
            "Legacy Title", "Legacy Artist", "Legacy Album", "1999",
            "v1 comment", track=7,
        ))
        expected.append([
            ("mp3", "title", "Legacy Title"),
            ("mp3", "artist", "Legacy Artist"),
            ("mp3", "album", "Legacy Album"),
            ("mp3", "date", "1999"),
            ("mp3", "comment", "v1 comment"),
            ("mp3", "track", "7"),
        ])

        # v3 — FLAC VORBIS_COMMENT metadata block (RFC 9639 §8.6)
        from sed_binning_spark.pipeline.tags import (
            add_flac_picture,
            encode_flac_picture_block,
        )

        flac = encode_flac(
            np.arange(0, 4096, dtype=np.int16).reshape(-1, 1), 8000,
        )
        blobs.append(add_flac_picture(
            add_flac_vorbis_comments(flac, [
                ("title", "Flac Träck"), ("artist", "Nobody Ensemble"),
                ("album", "Lossless Hours"),
            ]),
            encode_flac_picture_block(
                mime="image/png", width=8, height=6,
            ),
        ))
        expected.append([
            ("flac", "title", "Flac Träck"),
            ("flac", "artist", "Nobody Ensemble"),
            ("flac", "album", "Lossless Hours"),
            ("flac", "artwork", "image/png 8x6"),
        ])

        # v4 — MP4 ilst (©nam family + caption-grade ©cmt/©lyr)
        blobs.append(encode_mp4_tags_fixture([
            (b"\xa9nam", "Vid Title"), (b"\xa9ART", "Vid Artist"),
            (b"\xa9cmt", "caption here"), (b"\xa9lyr", "all the words"),
        ], artwork=b"\xff\xd8fake", artwork_type=13))
        expected.append([
            ("mp4", "title", "Vid Title"),
            ("mp4", "artist", "Vid Artist"),
            ("mp4", "comment", "caption here"),
            ("mp4", "lyrics", "all the words"),
            ("mp4", "artwork", "image/jpeg"),
        ])

        # v5 — RIFF LIST-INFO on a WAV file
        wav = encode_audio_wav(np.zeros((64, 1), np.int16), 8000)
        blobs.append(add_riff_info(wav, [
            (b"INAM", "Wav Name"), (b"IART", "Wav Artist"),
            (b"ICMT", "wav comment"), (b"ICRD", "2024-01-02"),
        ]))
        expected.append([
            ("wav", "title", "Wav Name"),
            ("wav", "artist", "Wav Artist"),
            ("wav", "comment", "wav comment"),
            ("wav", "date", "2024-01-02"),
        ])

        # v6 — Ogg Opus OpusTags packet (RFC 7845 §5.2) with the Xiph
        # base64 METADATA_BLOCK_PICTURE artwork convention
        import base64 as _b64

        blobs.append(encode_ogg_opus(
            [b"\x00" * 10] * 3,
            comment_payload=encode_vorbis_comment_block([
                ("title", "Opus Träck"), ("comment", "caption text"),
                ("metadata_block_picture", _b64.b64encode(
                    encode_flac_picture_block(
                        mime="image/jpeg", width=32, height=24,
                    ),
                ).decode("ascii")),
            ]),
        ))
        expected.append([
            ("ogg", "title", "Opus Träck"),
            ("ogg", "comment", "caption text"),
            ("ogg", "artwork", "image/jpeg 32x24"),
        ])

        # v7 — ID3v2.3 global unsynchronisation: latin-1 0xFF bytes
        # force real FF 00 escapes the parser must reverse
        blobs.append(encode_id3v2([
            ("TIT2", "ÿÿ title ÿ"), ("TALB", "ÿ album"),
        ], version=3, unsync=True) + mp3_audio)
        expected.append([
            ("mp3", "title", "ÿÿ title ÿ"),
            ("mp3", "album", "ÿ album"),
        ])

        # image grammars (round 14, same leg): Exif IFD walks, PNG
        # text chunks, GIF comment extensions
        from sed_binning_spark.pipeline.jpeg import encode_image_jpeg
        from sed_binning_spark.pipeline.multimodal import (
            encode_image_gif,
            encode_image_png,
            encode_webp_header,
        )
        from sed_binning_spark.pipeline.tags import (
            add_gif_comment,
            add_jpeg_metadata,
            add_png_text,
            add_webp_exif,
            encode_tiff_exif,
            user_comment,
        )

        jpeg_base = encode_image_jpeg(np.full((16, 16), 128, np.uint8))

        # v8 — JPEG APP1-Exif (little-endian IFD0) + COM comment +
        # GPS sub-IFD (DMS rationals → the geo-PII a pipeline scrubs)
        blobs.append(add_jpeg_metadata(
            jpeg_base,
            exif=encode_tiff_exif([
                (0x010F, "CamCo"), (0x0110, "Model X-5"),
                (0x010E, "a crawled photo"), (0x0112, 6),
            ], gps=[
                (1, "N"), (2, [(48, 1), (51, 1), (29988, 1000)]),
                (3, "E"), (4, [(2, 1), (17, 1), (3984, 100)]),
            ]),
            comment="marker comment",
        ))
        expected.append([
            ("jpeg", "description", "a crawled photo"),
            ("jpeg", "make", "CamCo"),
            ("jpeg", "model", "Model X-5"),
            ("jpeg", "orientation", "6"),
            ("jpeg", "gps", "48.858330N 2.294400E"),
            ("jpeg", "comment", "marker comment"),
        ])

        # v9 — PNG textual chunks, all three grammars (+ deflated iTXt)
        png_base = encode_image_png(np.zeros((4, 4, 3), np.uint8))
        blobs.append(add_png_text(png_base, [
            ("Title", "Png Title", "tEXt"),
            ("Description", "descriptive words", "zTXt"),
            ("Comment", "ünïcode cómment", "iTXt"),
            ("Software", "sbs 1.0", "iTXt-z"),
        ]))
        expected.append([
            ("png", "title", "Png Title"),
            ("png", "description", "descriptive words"),
            ("png", "comment", "ünïcode cómment"),
            ("png", "encoder", "sbs 1.0"),
        ])

        # v10 — GIF comment extension spanning two 255-byte sub-blocks
        gif_base = encode_image_gif(np.zeros((4, 4, 3), np.uint8))
        gif_text = "gif caption words " * 16  # 288 bytes
        blobs.append(add_gif_comment(gif_base, gif_text))
        expected.append([("gif", "comment", gif_text)])

        # v11 — WebP VP8X EXIF chunk with an Exif sub-IFD (UNICODE
        # UserComment + DateTimeOriginal)
        blobs.append(add_webp_exif(
            encode_webp_header(640, 480, variant="vp8x"),
            b"Exif\x00\x00" + encode_tiff_exif(
                [(0x010F, "WebCam"), (0x0131, "webenc 2")],
                exif=[(0x9003, "2024:06:07 08:09:10"),
                      (0x9286, user_comment("üser nötes", unicode=True))],
            ),
        ))
        expected.append([
            ("webp", "make", "WebCam"),
            ("webp", "encoder", "webenc 2"),
            ("webp", "date_original", "2024:06:07 08:09:10"),
            ("webp", "comment", "üser nötes"),
        ])

        # v12 — big-endian (MM) Exif: the byte-order dispatch
        blobs.append(add_jpeg_metadata(
            jpeg_base,
            exif=encode_tiff_exif(
                [(0x013B, "BE Shooter"), (0x8298, "(c) somebody")],
                exif=[(0x9003, "2023:12:31 23:59:59")],
                little=False,
            ),
        ))
        expected.append([
            ("jpeg", "artist", "BE Shooter"),
            ("jpeg", "copyright", "(c) somebody"),
            ("jpeg", "date_original", "2023:12:31 23:59:59"),
        ])

        # v13 — Matroska/WebM native tags: Segment Title + SimpleTags
        # spliced into a REAL demuxable audio container (the rebuilt
        # Segment still walks through parse_webm_timeline)
        from sed_binning_spark.pipeline.tags import add_matroska_tags
        from sed_binning_spark.pipeline.webm import encode_webm

        mkv = encode_webm(
            [b"a" * 4, b"b" * 6], [0, 20], track_type=2,
            codec_id="A_OPUS", default_duration_ms=20,
        )
        blobs.append(add_matroska_tags(
            mkv,
            [("title", "Mkv Söng"), ("artist", "Mkv Artist"),
             ("date_released", "2024-02-03")],
            title="Segment Name",
        ))
        expected.append([
            ("webm", "title", "Segment Name"),
            ("webm", "title", "Mkv Söng"),
            ("webm", "artist", "Mkv Artist"),
            ("webm", "date", "2024-02-03"),
        ])

        _TAGS_FIXTURES = (blobs, expected)
    return _TAGS_FIXTURES


@query("multimodal_features", oracle=lambda: _multimodal_oracle_sql())
def _q_multimodal(spark, sf):
    """REAL media decode as the graded path: ids % 4 == 0 documents become
    valid binary PPM (P6) payloads; ids % 4 == 2 valid GIF89a (a
    grayscale strip over a constant 256-gray palette, LZW stream built
    byte-for-byte in plan expressions via the CLEAR-per-7-literals
    9-bit alignment trick); ids % 4 == 1 valid sequential PNG and
    ids % 4 == 3 valid Adam7-INTERLACED PNG (stored-deflate blocks,
    expression-built containers; the interlaced layout is a plan-time
    pixel permutation of the same raster), all wrapping the SAME samples —
    the md5 digest of the text cycled over them — so the real
    pure-stdlib codecs (decode_payload: PPM parse, PNG inflate +
    sequential AND per-pass unfilter + pass scatter, GIF LZW walk +
    palette resolve) run inside the
    mapInPandas plan and the DuckDB oracle regenerates the identical
    pixel statistics from the same md5, with per-container closed-form
    n_bytes (the GIF leg's grayscale triplication leaves every normalized
    statistic equal; only dims and byte count differ). The checked
    projection scales
    each float32 feature element by 1e6 and rounds to an integer:
    kind/width/height/channels are small exact ints, and the four
    normalized stats carry float32 precision (~1e-7 abs), far finer than
    the 1e-6 rounding grain — so both engines land on the same integer
    deterministically."""
    # FIXTURE legs stay unsplit for the same reason as _q_frame_sample:
    # one-task legs whose per-batch decode memo sees every fixture repeat.
    # The four SYNTHESIS legs below carry DISTINCT md5-built payloads per
    # document (the memo never fires), so they build from the split scan —
    # their expression synthesis and Python decode then parallelize instead
    # of serializing on one core (same fix as frame_sample's gif branch).
    docs = _docs(spark, sf, split=False)
    docs_split = _docs(spark, sf)

    media = synthesize_ppm_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 0),
    ).unionByName(synthesize_gif_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 2),
    )).unionByName(synthesize_png_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 1),
    )).unionByName(synthesize_png_media_from_text(
        docs_split.where(F.col("doc_id") % 4 == 3), interlace=True,
    ))
    # round 13: the 12-bit extended-sequential JPEG decode path, gated
    # through the SAME featurizer as extra rows at media_id = -doc_id-1
    # (disjoint from every non-negative id above) — flat spec-built
    # fixtures whose decode is bit-exact, so the oracle carries the
    # features as frozen literals (see _jpeg12_fixture)
    j12_blobs, _, _ = _jpeg12_fixture()
    did = F.col("doc_id")
    media = media.unionByName(docs.where(did % 5 == 0).select(
        (-did - 1).cast("long").alias("media_id"),
        F.when(did % 2 == 0, F.lit(bytearray(j12_blobs[0])))
        .otherwise(F.lit(bytearray(j12_blobs[1]))).alias("payload"),
        F.lit("image/jpeg").alias("mime"),
        F.lit(16).cast("int").alias("width"),
        F.lit(16).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    ))
    # round 14: WebP header sniffing (kind 3 — true dims, no pixel
    # decode) as extra rows at media_id = -doc_id-1 on the DISJOINT
    # doc_id % 5 == 1 subset (j12 holds % 5 == 0); variant by % 3
    webp_blobs, _, _ = _webp_fixture()
    media = media.unionByName(docs.where(did % 5 == 1).select(
        (-did - 1).cast("long").alias("media_id"),
        F.when(did % 3 == 0, F.lit(bytearray(webp_blobs[0])))
        .when(did % 3 == 1, F.lit(bytearray(webp_blobs[1])))
        .otherwise(F.lit(bytearray(webp_blobs[2]))).alias("payload"),
        F.lit("image/webp").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    ))
    feats = extract_features(media, feature_dim=8)
    as_int = F.transform(
        "feat",
        lambda v: F.round(v.cast("double") * F.lit(1e6), 0)
        .cast("bigint").cast("string"),
    )
    base = feats.select(
        "media_id", "n_bytes", F.concat_ws(",", as_int).alias("feat_csv"),
    )
    # round 14: media TAG extraction (pipeline.tags) as extra rows on
    # the DISJOINT doc_id % 5 == 2 subset (j12 holds % 5 == 0, webp
    # % 5 == 1), one row per embedded tag at media_id = -doc_id-1 —
    # eight tag-grammar variants keyed by doc_id % 40, the real
    # ID3/Vorbis/ilst/INFO walks inside extract_media_tags' one
    # mapInPandas stage; the oracle carries the ENCODER-INPUT tag
    # pairs as VALUES literals (see _tags_fixture)
    from sed_binning_spark.pipeline.tags import extract_media_tags

    tag_blobs, _tag_expected = _tags_fixture()
    variants = _TAG_VARIANT_KEYS
    col = F.when(did % 80 == variants[0], F.lit(bytearray(tag_blobs[0])))
    for m, blob in zip(variants[1:], tag_blobs[1:]):
        col = col.when(did % 80 == m, F.lit(bytearray(blob)))
    tag_media = docs.where(did % 5 == 2).select(
        (-did - 1).cast("long").alias("media_id"),
        col.alias("payload"),
    )
    tag_leg = extract_media_tags(tag_media).select(
        "media_id",
        F.octet_length("value").cast("bigint").alias("n_bytes"),
        F.concat(
            F.col("container"), F.lit(":"), F.col("key"),
            F.lit("="), F.col("value"),
        ).alias("feat_csv"),
    )
    # round 14: subtitle cue mining on the DISJOINT doc_id % 5 == 3
    # subset — each doc becomes a two-cue SubRip (even) / WebVTT (odd)
    # payload built in PURE EXPRESSIONS (cue text = md5 halves, timing
    # closed-form in the id), parsed back by the real grammar walkers
    # inside extract_subtitle_cues' one mapInPandas stage; the oracle
    # regenerates every cue fact symbolically from the same md5
    from sed_binning_spark.pipeline.subtitles import (
        extract_subtitle_cues,
        synthesize_subtitle_media_from_text,
    )

    # split: distinct per-doc payloads (see the synthesis-leg note above)
    sub_media = synthesize_subtitle_media_from_text(
        docs_split.where(did % 5 == 3),
    ).select(
        (-F.col("media_id") - 1).cast("long").alias("media_id"),
        "payload",
    )
    # the MUXED subtitle shapes ride the same subset at media_id =
    # -doc_id - 1e9 (disjoint from every -doc_id-1 leg for any corpus
    # under a billion docs), keyed by doc_id % 40: WebVTT-in-MP4
    # (wvtt, ISO 14496-30), 3GPP tx3g, ID3v2 CHAP podcast chapters,
    # and a Matroska S_TEXT/UTF8 track — the real walks, expected
    # rows frozen from the fixture cues (see _mp4_subs_fixture)
    muxed = _mp4_subs_fixture()
    scol = F.when(did % 40 == muxed[0][0],
                  F.lit(bytearray(muxed[0][1])))
    for key, blob, _fmt, _cues in muxed[1:]:
        scol = scol.when(did % 40 == key, F.lit(bytearray(blob)))
    mp4_sub_media = docs.where(did % 5 == 3).select(
        (-did - 1_000_000_000).cast("long").alias("media_id"),
        scol.alias("payload"),
    )
    sub_all = extract_subtitle_cues(
        sub_media.unionByName(mp4_sub_media),
    )
    sub_leg = sub_all.select(
        "media_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.concat(
            F.col("format"), F.lit(":"),
            F.col("cue_index").cast("string"), F.lit("@"),
            F.col("start_ms").cast("string"), F.lit("-"),
            F.col("end_ms").cast("string"), F.lit("="), F.col("text"),
        ).alias("feat_csv"),
    )
    # round 14: the media_manifest triage pass on the last free
    # subset (doc_id % 5 == 4): four fixture payloads whose manifest
    # facts are closed-form in their construction; the engine runs the
    # REAL header/table walks and serializes the row, the oracle
    # carries the declared facts (see _manifest_fixture)
    from sed_binning_spark.pipeline.manifest import media_manifest

    man_blobs, _man_feats = _manifest_fixture()
    man_keys = [4, 9, 14, 19]
    mcol = F.when(did % 20 == man_keys[0], F.lit(bytearray(man_blobs[0])))
    for m, blob in zip(man_keys[1:], man_blobs[1:]):
        mcol = mcol.when(did % 20 == m, F.lit(bytearray(blob)))
    man_media = docs.where(did % 5 == 4).select(
        (-did - 1).cast("long").alias("media_id"),
        mcol.alias("payload"),
    )

    def _s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit(""))

    man_leg = media_manifest(man_media).select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.concat(
            F.lit("man:"), _s("container"), F.lit("|"), _s("mime"),
            F.lit("|"), _s("width"), F.lit("|"), _s("height"),
            F.lit("|"), _s("duration_ms"), F.lit("|"), _s("sample_rate"),
            F.lit("|"), _s("channels"), F.lit("|"), _s("n_tags"),
            F.lit("|"), _s("n_cues"),
        ).alias("feat_csv"),
    )
    # round 14: perceptual image hashing (pipeline.imagehash) — the
    # REAL dHash kernel (decode → integer gray → nearest resample →
    # gradient bits) over the md5-pixel PPM fixtures on the same
    # doc_id % 5 == 4 subset at the disjoint -2e9 id space; the 4×2
    # raster reduces to six comparisons with closed-form bit weights,
    # which the oracle replays symbolically from the same md5
    from sed_binning_spark.pipeline.imagehash import image_dhash

    # split: distinct per-doc payloads (see the synthesis-leg note above)
    dh_media = synthesize_ppm_media_from_text(
        docs_split.where(did % 5 == 4),
    ).select(
        (-F.col("media_id") - 2_000_000_000).cast("long")
        .alias("media_id"),
        "payload",
    )
    dh_leg = image_dhash(dh_media).select(
        "media_id",
        F.bit_count("dhash").cast("bigint").alias("n_bytes"),
        F.concat(
            F.lit("dh:"), F.col("dhash").cast("string"),
        ).alias("feat_csv"),
    )
    return (base.unionByName(tag_leg).unionByName(sub_leg)
            .unionByName(man_leg).unionByName(dh_leg))


def _ima_values_sql() -> str:
    """(variant, window, start_ms, dur_ms, mean, std, min, max) rows of
    the IMA-ADPCM fixture as a VALUES list — stats from the plan-time
    decode (the frozen-model pattern; floats as string-cast DOUBLEs so
    DuckDB parses the exact repr instead of a DECIMAL literal)."""
    _, rows = _ima_fixture()
    return ", ".join(
        f"({v}, {w}, {sms}, {dur}, "
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in (mu, sd, mn, mx))
        + ")"
        for (v, w, sms, dur, mu, sd, mn, mx) in rows
    )


def _g711_leg_sql(leg: str, law: str, mod: int) -> str:
    """DuckDB twin of a G.711 frame_sample audio leg: regenerate the
    16 md5 bytes, expand each through the ITU-T table ARITHMETIC (not a
    lookup — the closed forms below are the same public-reference
    integer expressions _g711_table vectorizes), window by 4, and
    reproduce mean/std/min/max over the /32768-normalized values. Every
    intermediate is an exact dyadic rational (int/2^15 sums, squares at
    /2^30, all numerators far under 2^53), so both engines land on the
    same double before the round(…, 6)."""
    b = ("CAST('0x' || substr(md5(text), "
         "CAST((w * 4 + j) * 2 + 1 AS INTEGER), 2) AS BIGINT)")
    if law == "ulaw":
        u = f"(255 - {b})"
        t = f"(((({u} & 15) << 3) + 132) << (({u} >> 4) & 7))"
        lin = f"(CASE WHEN {u} >= 128 THEN 132 - {t} ELSE {t} - 132 END)"
    else:
        a = f"xor({b}, 85)"
        t0 = f"(({a} & 15) << 4)"
        seg = f"(({a} >> 4) & 7)"
        t = (f"(CASE WHEN {seg} = 0 THEN {t0} + 8 "
             f"WHEN {seg} = 1 THEN {t0} + 264 "
             f"ELSE ({t0} + 264) << ({seg} - 1) END)")
        lin = f"(CASE WHEN {a} >= 128 THEN {t} ELSE -{t} END)"
    return (
        f"UNION ALL SELECT '{leg}', doc_id, "
        "CAST(4 * w AS BIGINT), CAST(w AS INT), CAST(4 AS BIGINT), "
        "CAST(NULL AS INT), CAST(NULL AS INT), "
        "round(mu, 6), round(sqrt(msq - mu * mu), 6), "
        "round(list_min(ls) / 32768.0, 6), "
        "round(list_max(ls) / 32768.0, 6), "
        "CAST(4 AS BIGINT), CAST(NULL AS BOOLEAN) "
        "FROM (SELECT doc_id, w, ls, "
        "list_sum(ls) / 4.0 / 32768.0 AS mu, "
        "list_sum(list_transform(ls, x -> "
        "(x / 32768.0) * (x / 32768.0))) / 4.0 AS msq "
        "FROM (SELECT doc_id, w, list_transform(range(0, 4), j -> "
        f"{lin}) AS ls "
        "FROM documents, range(4) t(w) "
        f"WHERE doc_id % 4 = {mod} AND text IS NOT NULL)) "
    )


def _mp4j_values_sql() -> str:
    """(variant, frame, flat value, frozen byte size) rows of the
    Motion-JPEG-in-MP4 fixture as a VALUES list — the byte sizes come
    from the plan-time encode (the frozen-model pattern: the ENGINE
    re-derives them from the container's stsz walk)."""
    sizes = _mp4_fixture_blobs()[1]
    return ", ".join(
        f"({v}, {f}, {8 * (4 + 3 * f + 5 * v)}, {sizes[v][f]})"
        for v in range(2)
        for f in range(2 + v)
    )


def _multimodal_oracle_sql(width: int = 4, height: int = 2) -> str:
    """DuckDB twin of the REAL multimodal decode path: regenerate the
    pixel samples (md5 digest of the text, cycled to width*height*3 —
    exactly what the PPM/PNG/GIF synthesizers encode), recompute the
    codec's feature vector [kind=1, w, h, 3, mean, std, min, max] with the
    same operation order as pipeline.multimodal._norm_stats (mean = sum/n
    then /255; std = sqrt(ssd/n) then /255), quantize each element through
    float32 (the engine's ArrayType(FloatType()) Arrow cast == CAST AS
    REAL), and serialize ×1e6-rounded integers. NULL text is a NULL
    payload: the engine featurizes b'' to all-zero byte stats."""
    n = width * height * 3
    header_len = len(b"P6\n%d %d\n255\n" % (width, height))
    bs = (
        f"list_transform(range(0, {n}), i -> CAST('0x' || "
        f"substr(md5(text), CAST((i % 16) * 2 + 1 AS INTEGER), 2) AS BIGINT))"
    )

    def q(expr: str) -> str:
        # float32 quantization, then the ×1e6 integer grid, as VARCHAR
        return (
            f"CAST(CAST(round(CAST(CAST({expr} AS REAL) AS DOUBLE) "
            f"* 1000000.0, 0) AS BIGINT) AS VARCHAR)"
        )

    head = ",".join(str(v * 1000000) for v in (1, width, height, 3))
    # the GIF leg is an n-wide 1-tall grayscale strip: each sample
    # triplicates through the (v,v,v) palette, which leaves the
    # normalized mean/std/min/max of the value distribution identical —
    # only the reported dims change
    gif_head = ",".join(str(v * 1000000) for v in (1, n, 1, 3))
    ssd = "list_sum(list_transform(bs, x -> (x - m) * (x - m)))"
    head_case = (
        f"CASE WHEN media_id % 4 = 2 THEN '{gif_head},' ELSE '{head},' END"
    )
    feat = (
        f"{head_case} || {q('m / 255.0')} || ',' || {q(f'sqrt({ssd} / {n}.0) / 255.0')} "
        f"|| ',' || {q('CAST(list_min(bs) AS DOUBLE) / 255.0')} "
        f"|| ',' || {q('CAST(list_max(bs) AS DOUBLE) / 255.0')}"
    )
    zeros = ",".join(["0"] * 8)
    # container by id class (the Spark side unions PPM for ids % 4 == 0,
    # GIF89a for ids % 4 == 2, sequential PNG for ids % 4 == 1,
    # Adam7-interlaced PNG for ids % 4 == 3): features are
    # raster-determined and identical up to the GIF dims; only
    # the byte count depends on the wrapper, all four closed-form
    n_bytes = (
        f"CASE WHEN bs IS NULL THEN 0 "
        f"WHEN media_id % 4 = 0 THEN {header_len + n} "
        f"WHEN media_id % 4 = 2 THEN {gif_fixture_n_bytes(width, height)} "
        f"WHEN media_id % 4 = 1 THEN {png_fixture_n_bytes(width, height)} "
        f"ELSE {png_fixture_n_bytes(width, height, interlace=True)} END"
    )
    # the 12-bit JPEG rows (media_id = -doc_id-1): flat spec-built
    # fixtures decode bit-exactly, so n_bytes and the full feature
    # vector are frozen literals keyed only on doc_id parity
    _, j12_feats, j12_sizes = _jpeg12_fixture()
    return (
        f"SELECT media_id, "
        f"CAST({n_bytes} AS BIGINT) AS n_bytes, "
        f"CASE WHEN bs IS NULL THEN '{zeros}' ELSE {feat} END AS feat_csv FROM "
        f"(SELECT media_id, bs, list_sum(bs) / {n}.0 AS m FROM "
        f"(SELECT CAST(doc_id AS BIGINT) AS media_id, "
        f"CASE WHEN text IS NULL THEN NULL ELSE {bs} END AS bs FROM documents)) "
        f"UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(CASE WHEN doc_id % 2 = 0 THEN {j12_sizes[0]} "
        f"ELSE {j12_sizes[1]} END AS BIGINT), "
        f"CASE WHEN doc_id % 2 = 0 THEN '{j12_feats[0]}' "
        f"ELSE '{j12_feats[1]}' END "
        f"FROM documents WHERE doc_id % 5 = 0"
        # WebP rows (round 14, media_id = -doc_id-1 on the disjoint
        # % 5 = 1 subset): the engine parses real VP8/VP8L/VP8X
        # headers; dims + byte stats frozen at plan time
        + _webp_oracle_sql()
        # media-tag rows (round 14, % 5 = 2 subset): one row per
        # embedded tag, the expected pairs declared from the ENCODER
        # INPUTS in _tags_fixture — the engine must really walk the
        # ID3/Vorbis/ilst/INFO structures to match
        + _tags_oracle_sql()
        # subtitle-cue rows (round 14, % 5 = 3 subset): the engine
        # parses expression-built SubRip/WebVTT/ASS; every cue fact
        # is symbolic in doc_id + md5(text)
        + _subtitles_oracle_sql()
        # media-manifest triage rows (round 14, % 5 = 4 subset):
        # declared closed-form facts vs the real header/table walks
        + _manifest_oracle_sql()
        # perceptual-hash rows (round 14, % 5 = 4 subset, -2e9 space):
        # the 4×2 fixture dHash replayed symbolically from md5(text)
        + _dhash_oracle_sql()
    )


def _webp_oracle_sql() -> str:
    _, wp_feats, wp_sizes = _webp_fixture()
    return (
        f" UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(CASE doc_id % 3 WHEN 0 THEN {wp_sizes[0]} "
        f"WHEN 1 THEN {wp_sizes[1]} ELSE {wp_sizes[2]} END AS BIGINT), "
        f"CASE doc_id % 3 WHEN 0 THEN '{wp_feats[0]}' "
        f"WHEN 1 THEN '{wp_feats[1]}' ELSE '{wp_feats[2]}' END "
        f"FROM documents WHERE doc_id % 5 = 1"
    )


def _tags_oracle_sql() -> str:
    """One VALUES row per (variant, expected tag): the tag pairs the
    fixtures were BUILT from (not parser output), joined onto the
    doc_id % 5 = 2 subset by the doc_id % 40 variant key. n_bytes is
    the UTF-8 octet length of the value (Spark octet_length twin);
    feat_csv is container:key=value."""
    _, expected = _tags_fixture()
    rows = []
    for m, tag_rows in zip(_TAG_VARIANT_KEYS, expected):
        for container, key, value in tag_rows:
            fc = f"{container}:{key}={value}".replace("'", "''")
            rows.append(f"({m}, {len(value.encode('utf-8'))}, '{fc}')")
    values = ", ".join(rows)
    return (
        f" UNION ALL SELECT CAST(-d.doc_id - 1 AS BIGINT), "
        f"CAST(t.nb AS BIGINT), t.fc "
        f"FROM documents d JOIN (VALUES {values}) AS t(m, nb, fc) "
        f"ON d.doc_id % 80 = t.m WHERE d.doc_id % 5 = 2"
    )


_MANIFEST_FIXTURES = None


def _manifest_fixture():
    """Plan-time triage fixtures for the media_manifest leg: four
    payloads whose manifest facts are closed-form in their
    construction — a tagged WAV (160 samples at 8 kHz → 20 ms, one
    INFO tag), a 3-frame ID3-tagged MP3 (3 × 36 ms at 32 kHz), an
    8×6 2-frame avc1 MP4 (2 × 40 ms), and a two-cue SubRip document.
    Returns (blobs, expected_feats) keyed by doc_id % 20 ∈ {4, 9, 14,
    19}; each feat is the manifest row serialized as
    ``man:container|mime|width|height|duration|rate|channels|tags|cues``
    with NULLs as empty fields."""
    global _MANIFEST_FIXTURES
    if _MANIFEST_FIXTURES is None:
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames
        from sed_binning_spark.pipeline.mp4 import encode_mp4_mjpeg
        from sed_binning_spark.pipeline.multimodal import encode_audio_wav
        from sed_binning_spark.pipeline.subtitles import encode_srt
        from sed_binning_spark.pipeline.tags import (
            add_riff_info,
            encode_id3v2,
        )

        blobs = [
            add_riff_info(
                encode_audio_wav(np.zeros((160, 1), np.int16), 8000),
                [(b"INAM", "Triage Wav")],
            ),
            encode_id3v2([("TIT2", "Triage Mp3")], version=3)
            + encode_mp3_frames(3),
            encode_mp4_mjpeg(
                [b"\xff\xd8x", b"\xff\xd8y"], delays_ms=[40, 40],
                width=8, height=6, sample_type=b"avc1",
            ),
            encode_srt([(0, 1000, "cue a"), (1500, 2500, "cue b")]),
        ]
        feats = [
            "man:wav|audio/wav|||20|8000|1|1|0",
            "man:mp3|audio/mpeg|||108|32000|1|1|0",
            "man:mp4|video/mp4|8|6|80|||0|0",
            "man:srt|application/x-subrip|||2500|||0|2",
        ]
        _MANIFEST_FIXTURES = (blobs, feats)
    return _MANIFEST_FIXTURES


_MP4_SUBS_FIXTURES = None


def _mp4_subs_fixture():
    """Plan-time MUXED-subtitle fixtures, keyed by doc_id % 40 on the
    % 5 == 3 subset: WebVTT-in-MP4 (wvtt) and 3GPP (tx3g) tracks with
    the SAME two cues and a leading gap sample the walk must time over
    without emitting; a chaptered podcast (ID3v2 CHAP frames on an
    MPEG stream — chapter titles ARE timed text); and a Matroska
    S_TEXT/UTF8 subtitle track. Expected rows are declared from the
    fixture cues (the builders and parsers are inverse
    implementations). Returns a list of (key, blob, fmt, cues)."""
    global _MP4_SUBS_FIXTURES
    if _MP4_SUBS_FIXTURES is None:
        from sed_binning_spark.pipeline.mp3 import encode_mp3_frames
        from sed_binning_spark.pipeline.subtitles import (
            encode_matroska_subtitles,
            encode_mp4_subtitles,
        )
        from sed_binning_spark.pipeline.tags import encode_id3v2_chapters

        from sed_binning_spark.pipeline.subtitles import (
            add_matroska_chapters,
        )
        from sed_binning_spark.pipeline.webm import encode_webm

        cues = [(250, 2000, "muxed cue öne"), (2750, 4500, "muxed two")]
        chaps = [(0, 30000, "Intro"), (30000, 95000, "Chapter Two")]
        # keys on doc_id % 40 over the % 5 == 3 subset
        _MP4_SUBS_FIXTURES = [
            (3, encode_mp4_subtitles(cues, sample_type=b"wvtt"),
             "mp4", cues),
            (8, encode_mp4_subtitles(cues, sample_type=b"tx3g"),
             "mp4", cues),
            (13, encode_id3v2_chapters(chaps, version=3)
             + encode_mp3_frames(2), "id3", chaps),
            (18, encode_matroska_subtitles(cues), "mkv", cues),
            (23, add_matroska_chapters(
                encode_webm([b"a" * 4], [0], track_type=2,
                            codec_id="A_OPUS"),
                chaps,
            ), "mkv-chapters", chaps),
        ]
    return _MP4_SUBS_FIXTURES


def _subtitles_oracle_sql() -> str:
    """DuckDB twin of the subtitle-cue leg: regenerate both cues'
    timing from the synthesizer's closed forms (start1 = (id%10)·500,
    end1 = start1 + 2000 + (id%3)·250, start2 = end1 + 500, end2 =
    start2 + 1750) and the cue text from the same md5 halves; the
    format cycles srt/vtt/ass on id % 3. n_bytes = octet length of
    the 16-hex-char cue text = 16."""
    base = (
        "SELECT doc_id, text, "
        "CASE doc_id % 3 WHEN 0 THEN 'srt' WHEN 1 THEN 'vtt' "
        "ELSE 'ass' END AS fmt, "
        "(doc_id % 10) * 500 AS s1, "
        "(doc_id % 10) * 500 + 2000 + (doc_id % 3) * 250 AS e1 "
        "FROM documents WHERE doc_id % 5 = 3 AND text IS NOT NULL"
    )
    return (
        f" UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(16 AS BIGINT), "
        f"fmt || ':1@' || CAST(s1 AS VARCHAR) || '-' || "
        f"CAST(e1 AS VARCHAR) || '=' || substr(md5(text), 1, 16) "
        f"FROM ({base})"
        f" UNION ALL SELECT CAST(-doc_id - 1 AS BIGINT), "
        f"CAST(16 AS BIGINT), "
        f"fmt || ':2@' || CAST(e1 + 500 AS VARCHAR) || '-' || "
        f"CAST(e1 + 2250 AS VARCHAR) || '=' || substr(md5(text), 17, 16) "
        f"FROM ({base})"
        + _mp4_subs_oracle_sql()
    )


def _dhash_oracle_sql() -> str:
    """DuckDB twin of the dHash leg: the 4×2 md5-pixel raster samples
    to rows [0,0,0,0,1,1,1,1] × cols [0,0,0,1,1,2,2,3,3], so only six
    gradient comparisons can be nonzero — pixels (0<1, 1<2, 2<3) on
    each of the two source rows — each worth a closed-form sum of bit
    weights (four identical top rows / four bottom rows of the 8×8 bit
    grid). Grayscale is (r+g+b)//3 of the cycled digest bytes; the
    resulting sum stays under 2^62, so plain BIGINT arithmetic is
    exact and the sign bit never sets. n_bytes carries bit_count(h),
    computed independently by each engine."""
    def byte(i: int) -> str:
        return (f"CAST('0x' || substr(md5(text), {(i % 16) * 2 + 1}, 2)"
                f" AS BIGINT)")

    gs = ", ".join(
        f"({byte(3 * p)} + {byte(3 * p + 1)} + {byte(3 * p + 2)}) // 3"
        for p in range(8)
    )
    comparisons = [
        ((0, 1), (61, 53, 45, 37)), ((1, 2), (59, 51, 43, 35)),
        ((2, 3), (57, 49, 41, 33)), ((4, 5), (29, 21, 13, 5)),
        ((5, 6), (27, 19, 11, 3)), ((6, 7), (25, 17, 9, 1)),
    ]
    terms = " + ".join(
        f"(CASE WHEN g[{a + 1}] < g[{b + 1}] "
        f"THEN {sum(1 << k for k in bits)} ELSE 0 END)"
        for (a, b), bits in comparisons
    )
    return (
        f" UNION ALL SELECT CAST(-doc_id - 2000000000 AS BIGINT), "
        f"CAST(bit_count(h) AS BIGINT), 'dh:' || CAST(h AS VARCHAR) "
        f"FROM (SELECT doc_id, {terms} AS h FROM "
        f"(SELECT doc_id, [{gs}] AS g FROM documents "
        f"WHERE doc_id % 5 = 4 AND text IS NOT NULL))"
    )


def _manifest_oracle_sql() -> str:
    """The triage rows: declared facts + real payload byte counts per
    doc_id % 20 variant on the % 5 = 4 subset."""
    blobs, feats = _manifest_fixture()
    rows = ", ".join(
        f"({m}, {len(b)}, '{f}')"
        for m, b, f in zip([4, 9, 14, 19], blobs, feats)
    )
    return (
        f" UNION ALL SELECT CAST(-d.doc_id - 1 AS BIGINT), "
        f"CAST(t.nb AS BIGINT), t.fc "
        f"FROM documents d JOIN (VALUES {rows}) AS t(m, nb, fc) "
        f"ON d.doc_id % 20 = t.m WHERE d.doc_id % 5 = 4"
    )


def _mp4_subs_oracle_sql() -> str:
    """The muxed-subtitle rows: per-variant expected cue literals,
    joined by the doc_id % 40 variant key."""
    rows = []
    for key, _blob, fmt, cues in _mp4_subs_fixture():
        for i, (s, e, t) in enumerate(cues):
            fc = f"{fmt}:{i + 1}@{s}-{e}={t}".replace("'", "''")
            rows.append(
                f"({key}, {len(t.encode('utf-8'))}, '{fc}')",
            )
    values = ", ".join(rows)
    return (
        f" UNION ALL SELECT CAST(-d.doc_id - 1000000000 AS BIGINT), "
        f"CAST(t.nb AS BIGINT), t.fc "
        f"FROM documents d JOIN (VALUES {values}) AS t(m, nb, fc) "
        f"ON d.doc_id % 40 = t.m WHERE d.doc_id % 5 = 3"
    )
