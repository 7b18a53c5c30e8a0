"""The real multimodal audio arm: RIFF/PCM16 codec correctness against
the stdlib ``wave`` module (both directions — breaks the encode/decode
symmetry a self-roundtrip alone would leave), malformed-payload
loudness, chunk-order robustness, and the quarantine contract of the
distributed feature pass."""

from __future__ import annotations

import io
import struct
import wave

import pytest

from delta_unity_duckdb_spark.operators.multimodal import (
    audio_features,
    decode_wav_pcm16,
    encode_wav_pcm16,
    make_wav_media,
)

_SAMPLES = [((t * 13) % 2048) - 1024 for t in range(4000)]


def _stdlib_wav(samples, sr=8000) -> bytes:
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(sr)
    w.writeframes(b"".join(struct.pack("<h", x) for x in samples))
    w.close()
    return buf.getvalue()


class TestCodec:
    def test_our_encoder_read_by_stdlib(self):
        b = encode_wav_pcm16(_SAMPLES, 8000)
        w = wave.open(io.BytesIO(b))
        assert w.getframerate() == 8000
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getnframes() == len(_SAMPLES)
        raw = w.readframes(len(_SAMPLES))
        got = list(struct.unpack(f"<{len(_SAMPLES)}h", raw))
        assert got == _SAMPLES

    def test_stdlib_encoder_read_by_ours(self):
        sr, ch, got = decode_wav_pcm16(_stdlib_wav(_SAMPLES))
        assert (sr, ch) == (8000, 1)
        assert got == _SAMPLES

    def test_extra_chunks_before_data(self):
        """The spec allows LIST/fact chunks between fmt and data — the
        walker must skip them, honoring word alignment for odd sizes."""
        b = encode_wav_pcm16(_SAMPLES[:100], 8000)
        fmt_chunk = b[12:36]
        data_chunk = b[36:]
        junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd, padded
        body = fmt_chunk + junk + data_chunk
        rebuilt = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
        sr, ch, got = decode_wav_pcm16(rebuilt)
        assert got == _SAMPLES[:100]

    def test_malformed_payloads_raise(self):
        with pytest.raises(ValueError):
            decode_wav_pcm16(b"not a wav at all")
        with pytest.raises(ValueError):
            decode_wav_pcm16(b"RIFF\x00\x00\x00\x00WAVE")  # no chunks
        # non-PCM format code must refuse, not mis-decode
        b = bytearray(encode_wav_pcm16(_SAMPLES[:10], 8000))
        b[20:22] = struct.pack("<H", 3)  # IEEE float format code
        with pytest.raises(ValueError):
            decode_wav_pcm16(bytes(b))


class TestAudioFeaturesPass:
    def test_features_match_python_referee(self, spark):
        import math

        media = make_wav_media(spark, 8)
        got = {
            r["asset_id"]: r.asDict() for r in audio_features(media).collect()
        }
        assert len(got) == 8
        for i in range(8):
            n = 4000 + 250 * (i % 8)
            step = 13 + (i % 7)
            s = [((t * step) % 2048) - 1024 for t in range(n)]
            sum_sq = sum(x * x for x in s)
            r = got[f"w{i:04d}"]
            assert r["n_samples"] == n
            assert r["peak"] == max(abs(x) for x in s)
            assert r["sum_sq"] == sum_sq
            assert r["zcr"] == sum(
                1 for a, b in zip(s, s[1:]) if (a >= 0) != (b >= 0)
            )
            assert r["rms_milli"] == math.floor(math.sqrt(sum_sq / n) * 1000)

    def test_corrupt_asset_quarantines_not_aborts(self, spark):
        from pyspark.sql import functions as F

        media = make_wav_media(spark, 4)
        corrupt = media.withColumn(
            "content",
            F.when(
                F.col("asset_id") == "w0001",
                F.lit(bytearray(b"garbage-not-riff")),
            ).otherwise(F.col("content")),
        )
        ids = [r["asset_id"] for r in audio_features(corrupt).collect()]
        assert sorted(ids) == ["w0000", "w0002", "w0003"]


class TestEnergySegments:
    def test_segments_match_python_referee(self, spark):
        from delta_unity_duckdb_spark.operators.multimodal import (
            audio_window_energy,
            make_wav_media_gated,
        )

        wins = {
            (r["asset_id"], r["win_idx"]): r["energy"]
            for r in audio_window_energy(
                make_wav_media_gated(spark, 4), window=250
            ).collect()
        }
        for i in range(4):
            n = 4000 + 500 * (i % 4)
            step = 13 + (i % 7)
            s = [
                (((t * step) % 2048) - 1024) if (t // 500) % 2 == 0 else 0
                for t in range(n)
            ]
            for w in range(n // 250):
                want = sum(x * x for x in s[w * 250 : (w + 1) * 250])
                assert wins[(f"g{i:04d}", w)] == want
            # gating: windows alternate active,active,silent,silent
            for w in range(n // 250):
                active = wins[(f"g{i:04d}", w)] > 0
                assert active == ((w // 2) % 2 == 0)

    def test_query_segment_structure(self, spark):
        from delta_unity_duckdb_spark.workload import QUERIES

        rows = QUERIES["audio_energy_segments"](spark, "unused").collect()
        assert len(rows) == 8
        for r in rows:
            # 500-sample bursts over 250-sample windows: every segment is
            # exactly 2 windows = 62ms
            assert r["longest_segment_ms"] == 62
            assert r["active_windows"] == 2 * r["n_segments"]


class TestStreamMediaDecode:
    def test_streaming_equals_batch_decode(self, spark):
        from delta_unity_duckdb_spark.operators.multimodal import (
            audio_features,
            make_wav_media,
        )
        from delta_unity_duckdb_spark.workload import QUERIES

        batch = sorted(
            tuple(r) for r in audio_features(make_wav_media(spark, 24)).collect()
        )
        stream = sorted(
            tuple(r)
            for r in QUERIES["stream_media_decode"](spark, "unused").collect()
        )
        assert stream == batch

    def test_null_long_survives_materialization(self, spark, monkeypatch):
        # the memory-sink rows are materialized into a local relation; a
        # NULL in a long column must come back as a NULL bigint, with the
        # other rows' values exact. A pandas round-trip widens the column
        # to float64, which holds no odd long above 2**53.
        from pyspark.sql import functions as F

        from delta_unity_duckdb_spark.operators import multimodal
        from delta_unity_duckdb_spark.workload import QUERIES

        real = multimodal.audio_features
        batch = {
            r["asset_id"]: tuple(r)
            for r in real(multimodal.make_wav_media(spark, 24)).collect()
        }
        victim = min(batch)
        big = 2**53 + 1
        monkeypatch.setattr(
            multimodal,
            "audio_features",
            lambda media: real(media).withColumn(
                "peak", F.when(F.col("asset_id") != victim, F.col("peak") + big)
            ),
        )
        out = QUERIES["stream_media_decode"](spark, "unused")
        assert dict(out.dtypes)["peak"] == "bigint"
        got = {r["asset_id"]: r for r in out.collect()}
        assert got.keys() == batch.keys()
        assert got[victim]["peak"] is None
        peak = out.columns.index("peak")
        for aid, want in batch.items():
            row = tuple(got[aid])
            assert row[:peak] + row[peak + 1 :] == want[:peak] + want[peak + 1 :]
            if aid != victim:
                assert type(row[peak]) is int and row[peak] == want[peak] + big


class TestMalformedBeyondValueError:
    """Regression: malformed payloads that raise struct.error/zlib.error
    internally must surface as ValueError (the quarantine contract), and
    multi-channel audio must be refused, not mis-featured."""

    def test_truncated_fmt_chunk_is_valueerror(self):
        # declares a 16-byte fmt chunk but truncates the body
        bad = b"RIFF" + struct.pack("<I", 20) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
        with pytest.raises(ValueError):
            decode_wav_pcm16(bad)

    def test_stereo_is_refused(self):
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 200)
        w.close()
        with pytest.raises(ValueError, match="channels"):
            decode_wav_pcm16(buf.getvalue())

    def test_kernel_quarantines_truncated_payload(self, spark):
        from pyspark.sql import functions as F

        from delta_unity_duckdb_spark.operators.multimodal import (
            audio_features,
            make_wav_media,
        )

        media = make_wav_media(spark, 3)
        bad = b"RIFF" + struct.pack("<I", 20) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
        corrupt = media.withColumn(
            "content",
            F.when(F.col("asset_id") == "w0001", F.lit(bytearray(bad))).otherwise(
                F.col("content")
            ),
        )
        ids = [r["asset_id"] for r in audio_features(corrupt).collect()]
        assert sorted(ids) == ["w0000", "w0002"]

    def test_window_energy_quarantines_stereo_and_truncated(self, spark):
        # audio_window_energy shares the central codec: a stereo WAV must
        # QUARANTINE (not be silently treated as interleaved mono) and a
        # truncated fmt chunk must drop, not abort, the pass.
        from pyspark.sql import functions as F

        from delta_unity_duckdb_spark.operators.multimodal import (
            audio_window_energy,
            make_wav_media,
        )

        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x01\x00" * 2000)
        w.close()
        stereo = buf.getvalue()
        truncated = (
            b"RIFF" + struct.pack("<I", 20) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
        )
        media = make_wav_media(spark, 3)
        corrupt = media.withColumn(
            "content",
            F.when(F.col("asset_id") == "w0000", F.lit(bytearray(stereo)))
            .when(F.col("asset_id") == "w0001", F.lit(bytearray(truncated)))
            .otherwise(F.col("content")),
        )
        ids = {
            r["asset_id"] for r in audio_window_energy(corrupt).collect()
        }
        assert ids == {"w0002"}
