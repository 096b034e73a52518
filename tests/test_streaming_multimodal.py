"""Streaming (batch-parity + real readStream run) and multimodal plumbing."""

import pyspark.sql.functions as F

from lotad_spark.pipeline.multimodal import frame_sample_plan, with_decoded_metadata
from lotad_spark.sources.parquet import ParquetDatabase
from lotad_spark.streaming import session_event_agg, windowed_event_agg


def _events(spark, sf_dir):
    return ParquetDatabase(spark, sf_dir, "db").table("events")


def _hash_parts(kind: str, payload: bytes):
    """One image's ``(hi, lo)`` perceptual hash halves, as ``image_hashes``
    computes them per row; None when the payload does not decode."""
    from lotad_spark.pipeline.multimodal import _HASH_KERNELS, decode_pixels

    dec = decode_pixels(payload)
    return None if dec is None else _HASH_KERNELS[kind](dec[2])


class TestWindowedAgg:
    def test_batch_shape(self, spark, sf_dir):
        out = windowed_event_agg(_events(spark, sf_dir))
        rows = out.collect()
        assert len(rows) > 0
        assert out.columns == ["hour_start", "event_type", "n_events", "sum_value"]
        total = sum(r.n_events for r in rows)
        assert total == _events(spark, sf_dir).count()

    def test_streaming_matches_batch(self, spark, sf_dir, tmp_path):
        ev = _events(spark, sf_dir)
        src = str(tmp_path / "events_src")
        ev.write.mode("overwrite").parquet(src)

        batch = {
            (r.hour_start, r.event_type): (r.n_events, str(r.sum_value))
            for r in windowed_event_agg(spark.read.parquet(src)).collect()
        }

        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            windowed_event_agg(stream)
            .writeStream.format("memory")
            .queryName("win_agg_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.hour_start, r.event_type): (r.n_events, str(r.sum_value))
            for r in spark.sql("SELECT * FROM win_agg_test").collect()
        }
        assert got == batch


class TestSlidingWindowAgg:
    def test_each_event_lands_in_three_windows(self, spark, sf_dir):
        from lotad_spark.streaming import sliding_window_agg

        ev = _events(spark, sf_dir)
        out = sliding_window_agg(ev)  # 30 min window, 10 min slide
        rows = out.collect()
        assert out.columns == ["win_start", "event_type", "n_events", "sum_value"]
        assert sum(r.n_events for r in rows) == 3 * ev.count()

    def test_streaming_matches_batch(self, spark, sf_dir, tmp_path):
        from lotad_spark.streaming import sliding_window_agg

        ev = _events(spark, sf_dir)
        src = str(tmp_path / "events_sliding_src")
        ev.write.mode("overwrite").parquet(src)

        batch = {
            (r.win_start, r.event_type): (r.n_events, str(r.sum_value))
            for r in sliding_window_agg(spark.read.parquet(src)).collect()
        }

        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            sliding_window_agg(stream)
            .writeStream.format("memory")
            .queryName("sliding_agg_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.win_start, r.event_type): (r.n_events, str(r.sum_value))
            for r in spark.sql("SELECT * FROM sliding_agg_test").collect()
        }
        assert got == batch


class TestStreamingCorpusFilter:
    def test_training_gate_streams_and_matches_batch(self, spark, sf_dir, tmp_path):
        """corpus_filter is stateless expressions — the SAME definition
        must run on readStream (append mode, no state) with identical
        output: the streaming ingest gate for a training-data pipeline."""
        from lotad_spark.pipeline.text import corpus_filter
        from lotad_spark.sources.parquet import read_table

        docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        src = str(tmp_path / "docs_src")
        docs.write.mode("overwrite").parquet(src)

        batch = {
            (r.doc_id, round(r.quality, 9), r.n_tokens)
            for r in corpus_filter(spark.read.parquet(src)).collect()
        }
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            corpus_filter(stream)
            .writeStream.format("memory")
            .queryName("corpus_gate_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc_id, round(r.quality, 9), r.n_tokens)
            for r in spark.sql("SELECT * FROM corpus_gate_test").collect()
        }
        assert got == batch and len(got) > 0


class TestSessionAgg:
    def test_sessions_partition_events(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        out = session_event_agg(ev, gap="5 minutes")
        rows = out.collect()
        assert sum(r.n_events for r in rows) == ev.count()
        # multiple sessions per user exist at 5-minute gaps
        assert len(rows) > ev.select("user_id").distinct().count()


class TestMultimodal:
    def test_decode_stub_metadata(self, spark):
        df = spark.createDataFrame(
            [(1, b"x" * 300), (2, b"y" * 7), (3, None)],
            "media_id long, content binary",
        )
        got = {r.media_id: r for r in with_decoded_metadata(df).collect()}
        assert got[1].width == 300 % 256 and got[1].height == 300 // 256 + 1
        assert got[2].width == 7 and got[2].mode == "STUB"
        assert got[3].mode == "NULL"
        assert "content" not in with_decoded_metadata(df).columns

    def test_decode_real_ppm_and_bmp_headers(self, spark):
        # REAL decode path: valid P6 PPM and BMP payloads parse to their
        # true dimensions (what PIL would return), not byte-length fakes.
        import struct

        ppm = b"P6\n# a comment\n12 5\n255\n" + b"x" * (12 * 5 * 3)
        pgm = b"P5\n3 4\n255\n" + b"\0" * 12
        bmp = (
            b"BM"
            + struct.pack("<IHHI", 0, 0, 0, 54)
            + struct.pack("<IiiHH", 40, 64, -32, 1, 24)  # top-down height
            + b"\0" * 16
        )
        df = spark.createDataFrame(
            [(1, ppm), (2, pgm), (3, bmp), (4, b"not an image")],
            "media_id long, content binary",
        )
        got = {r.media_id: r for r in with_decoded_metadata(df).collect()}
        assert (got[1].width, got[1].height, got[1].mode) == (12, 5, "RGB")
        assert (got[2].width, got[2].height, got[2].mode) == (3, 4, "L")
        assert (got[3].width, got[3].height, got[3].mode) == (64, 32, "RGB")
        assert got[4].mode == "STUB"  # unknown format falls back, loudly

    def test_pnm_parser_units(self):
        from lotad_spark.pipeline.multimodal import _parse_bmp, _parse_pnm

        assert _parse_pnm(b"P6 7 9 255 ") == (7, 9, "RGB")
        assert _parse_pnm(b"P3\n#c\n#c\n2\n3\n255\n1 1 1") == (2, 3, "RGB")
        assert _parse_pnm(b"P1\n5 6\n") == (5, 6, "1")
        assert _parse_pnm(b"P6\n0 5\n255\n") is None  # zero dim invalid
        assert _parse_pnm(b"P62 3") is None  # bad magic
        assert _parse_pnm(b"Plain text, not an image") is None
        assert _parse_bmp(b"BMtooshort") is None
        assert _parse_bmp(b"not bmp at all, padded out to length") is None

    def test_pnm_truncated_headers_rejected(self):
        """Pin the r11 tightening of the header contract (a silent
        behavior change vs the old ``_parse_pnm``): P2/P3/P5/P6 REQUIRE
        maxval in the header, and the binary formats require the single
        post-header whitespace byte before pixel data. Shapes the old
        parser accepted now fall through to the honest unknown/byte
        fallback instead of decoding with a guessed maxval."""
        from lotad_spark.pipeline.multimodal import _pnm_header

        # Truncated header: width+height but no maxval → rejected.
        assert _pnm_header(b"P5 3 2") is None
        assert _pnm_header(b"P6 3 2") is None
        assert _pnm_header(b"P2 3 2") is None
        # Binary formats: maxval present but NO single whitespace byte
        # after it (end of payload) → rejected.
        assert _pnm_header(b"P5 3 2 255") is None
        assert _pnm_header(b"P6 3 2 255") is None
        assert _pnm_header(b"P4 3 2") is None
        # The well-formed twins still parse.
        assert _pnm_header(b"P5 3 2 255 ") == ("P5", 3, 2, 255, 11)
        assert _pnm_header(b"P4 3 2 ") == ("P4", 3, 2, 1, 7)
        # ASCII formats need no trailing separator byte: the token
        # scanner stops at the last maxval digit.
        assert _pnm_header(b"P2 3 2 255") == ("P2", 3, 2, 255, 10)

    @staticmethod
    def _make_png(px_rows, ctype=2, filters=None, depth=8, interlace=0):
        """Minimal PNG encoder for fixtures: px_rows is [h][w*channels]
        ints; filters gives the per-row filter byte (default all 0)."""
        import struct
        import zlib

        import numpy as np

        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        h = len(px_rows)
        w = len(px_rows[0]) // ch
        filters = filters or [0] * h

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        stream = bytearray()
        for y, f in enumerate(filters):
            line = np.array(px_rows[y], dtype=int)
            prev = (
                np.array(px_rows[y - 1], dtype=int)
                if y > 0
                else np.zeros(w * ch, int)
            )
            left = np.concatenate([[0] * ch, line[:-ch]])
            ul = np.concatenate([[0] * ch, prev[:-ch]])
            if f == 0:
                enc = line
            elif f == 1:
                enc = (line - left) % 256
            elif f == 2:
                enc = (line - prev) % 256
            elif f == 3:
                enc = (line - (left + prev) // 2) % 256
            else:
                p = left + prev - ul
                pa, pb, pc = (
                    np.abs(p - left), np.abs(p - prev), np.abs(p - ul),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, prev, ul),
                )
                enc = (line - pred) % 256
            stream.append(f)
            stream.extend(int(v) for v in enc)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b"")
        )

    def test_png_decode_every_filter_type(self):
        """Each of the five scanline filters un-applies to the exact
        original bytes."""
        import numpy as np

        from lotad_spark.pipeline.multimodal import decode_pixels

        rows = [
            [10, 200, 30, 40, 50, 255, 7, 8, 9],
            [1, 2, 3, 130, 140, 150, 20, 21, 22],
            [90, 91, 92, 0, 255, 0, 33, 34, 35],
            [5, 6, 7, 8, 9, 10, 11, 12, 13],
            [250, 251, 252, 253, 254, 255, 0, 1, 2],
        ]
        for f in range(5):
            payload = self._make_png(rows, filters=[f] * 5)
            got = decode_pixels(payload)
            assert got is not None, f"filter {f} failed to decode"
            w, h, arr = got
            assert (w, h) == (3, 5)
            assert arr.tolist() == np.array(rows, dtype=np.uint8).reshape(
                5, 3, 3
            ).tolist(), f"filter {f} mis-unfiltered"
        # mixed filters in one image
        payload = self._make_png(rows, filters=[0, 1, 2, 3, 4])
        _, _, arr = decode_pixels(payload)
        assert arr.reshape(5, 9).tolist() == rows

    def test_png_gray_and_alpha_variants(self):
        from lotad_spark.pipeline.multimodal import decode_pixels

        # grayscale replicates to RGB
        g = self._make_png([[0, 128, 255]], ctype=0)
        w, h, arr = decode_pixels(g)
        assert (w, h) == (3, 1)
        assert arr.tolist() == [[[0, 0, 0], [128, 128, 128],
                                 [255, 255, 255]]]
        # RGBA drops alpha
        rgba = self._make_png([[1, 2, 3, 99, 4, 5, 6, 0]], ctype=6)
        _, _, a2 = decode_pixels(rgba)
        assert a2.tolist() == [[[1, 2, 3], [4, 5, 6]]]
        # gray+alpha replicates gray, drops alpha
        la = self._make_png([[77, 200]], ctype=4)
        _, _, a3 = decode_pixels(la)
        assert a3.tolist() == [[[77, 77, 77]]]

    def test_png_honest_none_fallbacks(self):
        import struct
        import zlib

        from lotad_spark.pipeline.multimodal import (
            _parse_png,
            decode_pixels,
        )

        ok = self._make_png([[1, 2, 3]], ctype=2)
        # 16-bit depth, interlaced: metadata parses, pixels honest None
        deep = self._make_png([[1, 2, 3]], ctype=2, depth=16)
        assert decode_pixels(deep) is None
        # interlace flag: a 1x1 image's Adam7 stream IS its sequential
        # stream (only pass 1 exists), so this now DECODES (r13 Adam7)
        inter = self._make_png([[1, 2, 3]], ctype=2, interlace=1)
        assert decode_pixels(inter)[2].reshape(-1).tolist() == [1, 2, 3]
        assert _parse_png(inter) == (1, 1, "RGB")
        # an interlace byte outside {0, 1} stays honest-None
        bad_i = ok.replace(
            struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0),
            struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 2),
        )
        assert decode_pixels(bad_i) is None
        # palette: metadata reports 'P', pixels None
        pal = ok.replace(
            struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0),
            struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0),
        )
        assert _parse_png(pal) == (1, 1, "P")
        assert decode_pixels(pal) is None
        # truncated IDAT chunk, corrupt zlib, bad signature
        assert decode_pixels(ok[:-20]) is None
        assert decode_pixels(b"\x89PNG\r\n\x1a\nnot chunks") is None
        assert _parse_png(b"GIF89a") is None
        # short zlib stream (truncated pixel data) -> None
        stream = zlib.compress(b"\x00\x01")  # 1 filter byte + 1 of 3 px
        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
        short = (b"\x89PNG\r\n\x1a\n"
                 + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
                 + chunk(b"IDAT", stream) + chunk(b"IEND", b""))
        assert decode_pixels(short) is None

    def test_png_metadata_in_decode_stage(self, spark):
        from lotad_spark.pipeline.multimodal import with_decoded_metadata

        df = spark.createDataFrame(
            [
                (1, bytearray(self._make_png([[1, 2, 3, 4, 5, 6]]))),
                (2, bytearray(b"not an image at all")),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in with_decoded_metadata(df).collect()}
        assert (got[1].width, got[1].height, got[1].mode) == (2, 1, "RGB")
        assert got[2].mode == "STUB"

    @staticmethod
    def _make_wav(data: bytes, n_ch=1, rate=8000, bits=16,
                  audio_format=1):
        import struct

        fmt = struct.pack(
            "<HHIIHH", audio_format, n_ch, rate,
            rate * n_ch * bits // 8, n_ch * bits // 8, bits,
        )
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += (
            b"data" + struct.pack("<I", len(data)) + data
            + (b"\0" if len(data) % 2 else b"")
        )
        return (
            b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks
        )

    def test_wav_decode_16_8_bit_and_stereo(self):
        import struct

        from lotad_spark.pipeline.multimodal import decode_audio

        rate, s = decode_audio(
            self._make_wav(struct.pack("<4h", -32768, -1, 0, 32767))
        )
        assert rate == 8000
        assert s.ravel().tolist() == [-32768, -1, 0, 32767]
        # 8-bit unsigned maps (s - 128) * 256 into the 16-bit range
        _, s8 = decode_audio(self._make_wav(bytes([0, 128, 255]), bits=8))
        assert s8.ravel().tolist() == [-32768, 0, 32512]
        # stereo keeps channels as columns
        _, st = decode_audio(
            self._make_wav(struct.pack("<4h", 1, 2, 3, 4), n_ch=2)
        )
        assert st.tolist() == [[1, 2], [3, 4]]
        # odd-length data chunk: the pad byte must not become a sample
        _, so = decode_audio(self._make_wav(bytes([7, 200, 9]), bits=8))
        assert so.ravel().tolist() == [(7 - 128) * 256, (200 - 128) * 256,
                                       (9 - 128) * 256]

    def test_wav_honest_none_fallbacks(self):
        import struct

        from lotad_spark.pipeline.multimodal import decode_audio

        ok = self._make_wav(struct.pack("<2h", 5, 6))
        assert decode_audio(ok) is not None
        # compressed (non-PCM audio_format), float-ish depth, truncation
        assert decode_audio(
            self._make_wav(b"\0\0\0\0", audio_format=85)
        ) is None
        assert decode_audio(
            self._make_wav(b"\0" * 8, bits=32)
        ) is None
        assert decode_audio(ok[:-3]) is None  # truncated data chunk
        assert decode_audio(b"RIFF\x04\0\0\0WAVE") is None  # no chunks
        assert decode_audio(b"not audio at all") is None

    def test_audio_hist_stage_and_fallback_labeling(self, spark):
        import struct

        from lotad_spark.pipeline.multimodal import extract_audio_hist

        wav = self._make_wav(struct.pack("<4h", -32768, -1, 0, 32767))
        df = spark.createDataFrame(
            [
                (1, bytearray(wav)),
                (2, bytearray(b"opaque bytes, not audio")),
                (3, None),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in extract_audio_hist(df).collect()}
        r1 = got[1]
        assert (r1.kind, r1.sample_rate, r1.n_frames) == ("pcm", 8000, 4)
        # bins: -32768 -> 0, -1 -> 7, 0 -> 8, 32767 -> 15
        expect = [0] * 16
        for b in (0, 7, 8, 15):
            expect[b] += 1
        assert r1.hist == expect
        assert got[2].kind == "bytes" and got[2].sample_rate == 0
        assert got[3].kind == "null"

    @staticmethod
    def _make_avi(frames, w, h, bpp=24, comp=0, stream=b"00db"):
        import struct

        def chunk(cid, body):
            return (
                cid + struct.pack("<I", len(body)) + body
                + (b"\0" if len(body) % 2 else b"")
            )

        avih = (
            struct.pack("<8I", 40000, 0, 0, 0, len(frames), 0, 1, 0)
            + struct.pack("<II", w, h) + b"\0" * 16
        )
        strf = (
            struct.pack("<IiiHHII", 40, w, h, 1, bpp, comp, 0)
            + b"\0" * 16
        )
        hdrl = chunk(
            b"LIST",
            b"hdrl" + chunk(b"avih", avih)
            + chunk(b"LIST", b"strl" + chunk(b"strf", strf)),
        )
        movi = chunk(
            b"LIST",
            b"movi" + b"".join(chunk(stream, f) for f in frames),
        )
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_avi_frame_decode_and_sampling(self):
        from lotad_spark.pipeline.multimodal import decode_video_frames

        w, h = 4, 2
        f0 = bytes(range(24))
        f1 = bytes(reversed(range(24)))
        avi = self._make_avi([f0, f1, f0], w, h)
        got = decode_video_frames(avi, every_nth=2)
        assert got is not None
        w_, h_, n, frames = got
        assert (w_, h_, n, len(frames)) == (4, 2, 3, 2)
        # bottom-up flip + BGR->RGB: source row 1 triple (12,13,14)
        # lands at output [0][0] as RGB (14,13,12)
        assert frames[0][0, 0].tolist() == [14, 13, 12]
        assert frames[0][1, 0].tolist() == [2, 1, 0]
        # every_nth=1 returns all three
        assert len(decode_video_frames(avi, every_nth=1)[3]) == 3

    def test_avi_honest_none_fallbacks(self):
        import pytest as _pytest

        from lotad_spark.pipeline.multimodal import decode_video_frames

        f = bytes(range(24))
        ok = self._make_avi([f], 4, 2)
        assert decode_video_frames(ok) is not None
        # compressed stream flag, compressed chunks, short frame raster
        assert decode_video_frames(self._make_avi([f], 4, 2, comp=1)) is None
        assert decode_video_frames(
            self._make_avi([f], 4, 2, stream=b"00dc")
        ) is None
        assert decode_video_frames(self._make_avi([f[:-4]], 4, 2)) is None
        # 32-bpp, truncation, junk
        assert decode_video_frames(self._make_avi([f], 4, 2, bpp=32)) is None
        assert decode_video_frames(ok[:-5]) is None
        assert decode_video_frames(b"RIFF\x04\0\0\0AVI ") is None
        assert decode_video_frames(b"not a video") is None
        with _pytest.raises(ValueError):
            decode_video_frames(ok, every_nth=0)

    def test_video_hist_stage_and_fallback_labeling(self, spark):
        from lotad_spark.pipeline.multimodal import (
            _luma,
            extract_video_hist,
        )
        import numpy as np

        f0 = bytes(range(24))
        f1 = bytes(b"\xff" * 24)
        avi = self._make_avi([f0, f1, f0], 4, 2)
        df = spark.createDataFrame(
            [(1, bytearray(avi)), (2, bytearray(b"junk")), (3, None)],
            "media_id bigint, content binary",
        )
        got = {
            r.media_id: r for r in extract_video_hist(df).collect()
        }
        r1 = got[1]
        assert (r1.kind, r1.n_frames, r1.n_sampled) == ("frames", 3, 2)
        # hand-compute: frames 0 and 2 are f0 twice — histogram over
        # the BGR->RGB triples of f0, doubled
        px = np.frombuffer(f0, np.uint8).reshape(2, 12).reshape(2, 4, 3)
        lum = _luma(px[:, :, [2, 1, 0]])
        expect = np.bincount(
            ((lum * 16) // 256).ravel(), minlength=16
        ) * 2
        assert r1.hist == expect.tolist()
        assert got[2].kind == "bytes" and got[2].n_frames == 0
        assert got[3].kind == "null"

    def test_image_phash_properties(self, spark):
        """pHash pins: an independent loop-based replay of the
        definition (direct 2D fixed-point DCT, no matmul) matches the
        operator; cross-format re-encodes hash equal; uniform images
        hash all-zero (all AC terms are 0, strict-greater rule); a
        uniform BRIGHTNESS shift leaves the hash EXACTLY unchanged
        (the integer DCT basis rows u>=1 sum to exactly 0, so every
        AC term is invariant — the spectral property aHash lacks);
        undecodables get NULL halves."""
        import numpy as np

        from lotad_spark.pipeline.multimodal import (
            _PHASH_DCT14,
            _luma,
            _phash_from_pixels,
            image_phash,
        )

        rng = np.random.RandomState(5)
        arr = rng.randint(40, 200, (11, 13, 3)).astype(np.uint8)

        # independent replay: direct O(n^4) DCT from the definition
        lum = _luma(arr)
        cells = [
            [int(lum[y * 11 // 32][x * 13 // 32]) for x in range(32)]
            for y in range(32)
        ]
        ac = []
        for u in range(8):
            for v in range(8):
                if u == 0 and v == 0:
                    continue
                s = 0
                for y in range(32):
                    for x in range(32):
                        s += (
                            _PHASH_DCT14[u][y]
                            * _PHASH_DCT14[v][x]
                            * cells[y][x]
                        )
                ac.append(s)
        med = sorted(ac)[31]
        lo = hi = 0
        for i, c in enumerate(ac):
            if c > med:
                if i < 32:
                    lo |= 1 << i
                else:
                    hi |= 1 << (i - 32)
        assert _phash_from_pixels(arr) == (hi, lo)

        # exact brightness-shift invariance (no clipping at +/-30)
        assert _phash_from_pixels(arr + 30) == (hi, lo)
        assert _phash_from_pixels(arr - 30) == (hi, lo)

        # uniform image: every AC coefficient is 0 -> all-zero hash
        assert _hash_parts("phash", b"P6 4 4 255 " + bytes([9] * 48)) == (0, 0)
        assert _hash_parts("phash", b"junk") is None

        # cross-format equality + fallback labeling through the op
        hdr = b"P6 8 8 255 "
        px = bytes(v for i in range(64) for v in ((i * 4) % 256,) * 3)
        p6 = hdr + px
        png = self._make_png(
            [list(px[r * 24 : (r + 1) * 24]) for r in range(8)]
        )
        assert _hash_parts("phash", p6) == _hash_parts("phash", png)
        df = spark.createDataFrame(
            [
                (1, bytearray(p6)),
                (2, bytearray(png)),
                (3, bytearray(b"junk")),
                (4, None),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in image_phash(df).collect()}
        assert got[1].kind == "phash"
        assert (got[1].phash_hi, got[1].phash_lo) == (
            got[2].phash_hi, got[2].phash_lo,
        )
        assert got[3].kind == "bytes" and got[3].phash_hi is None
        assert got[4].kind == "null"

        # the pairing face keyed on pHash: cross-format exact pair at
        # hamming 0, validation on a bad kind
        from lotad_spark.pipeline.multimodal import image_near_dup_pairs

        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in image_near_dup_pairs(df, hash_kind="phash").collect()
        }
        assert pairs[(1, 2)] == 0
        import pytest as _pytest

        with _pytest.raises(ValueError, match="hash_kind"):
            image_near_dup_pairs(df, hash_kind="whash")

    def test_image_dedup_cli(self, spark, tmp_path):
        """The image-dedup CLI face lands banded pHash pairs."""
        from click.testing import CliRunner

        from lotad_spark.cli import cli

        hdr = b"P6 8 8 255 "
        px = bytes(v for i in range(64) for v in ((i * 4) % 256,) * 3)
        media = str(tmp_path / "media")
        spark.createDataFrame(
            [(1, bytearray(hdr + px)), (2, bytearray(hdr + px))],
            "media_id bigint, content binary",
        ).write.parquet(media)
        out = str(tmp_path / "out")
        r = CliRunner().invoke(
            cli,
            ["image-dedup", "--media", media, "--output", out,
             "--hash", "phash"],
            catch_exceptions=False,
        )
        assert r.exit_code == 0, r.output
        pairs = spark.read.parquet(f"{out}/pairs").collect()
        assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]

    def test_image_dhash_properties(self, spark):
        """dHash pins: independent loop replay of the definition;
        EXACT invariance under strictly monotone brightness maps
        (neighbor ORDER is all that is hashed — double every pixel of
        a sub-128 image and the hash cannot move); uniform images hash
        all-zero; fallback labeling; the pairing face keyed on dhash."""
        import numpy as np

        from lotad_spark.pipeline.multimodal import (
            _dhash_from_pixels,
            _luma,
            image_dhash,
            image_near_dup_pairs,
        )

        rng = np.random.RandomState(17)
        arr = rng.randint(10, 120, (7, 11, 3)).astype(np.uint8)
        lum = _luma(arr)
        lo = hi = 0
        for r in range(8):
            for c in range(8):
                y = r * 7 // 8
                xl = c * 11 // 9
                xr = (c + 1) * 11 // 9
                if int(lum[y][xl]) > int(lum[y][xr]):
                    i = r * 8 + c
                    if i < 32:
                        lo |= 1 << i
                    else:
                        hi |= 1 << (i - 32)
        assert _dhash_from_pixels(arr) == (hi, lo)
        # strictly monotone map: gradient ORDER unchanged, hash exact
        assert _dhash_from_pixels(arr * 2) == (hi, lo)
        assert _hash_parts("dhash", b"P6 4 4 255 " + bytes([9] * 48)) == (0, 0)
        assert _hash_parts("dhash", b"junk") is None
        hdr = b"P6 8 8 255 "
        px = bytes(v for i in range(64) for v in ((i * 4) % 256,) * 3)
        df = spark.createDataFrame(
            [(1, bytearray(hdr + px)), (2, bytearray(hdr + px)),
             (3, bytearray(b"junk")), (4, None)],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in image_dhash(df).collect()}
        assert got[1].kind == "dhash"
        assert (got[1].dhash_hi, got[1].dhash_lo) == (
            got[2].dhash_hi, got[2].dhash_lo,
        )
        assert got[3].kind == "bytes" and got[3].dhash_hi is None
        assert got[4].kind == "null"
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in image_near_dup_pairs(df, hash_kind="dhash").collect()
        }
        assert pairs[(1, 2)] == 0

    def test_image_ahash_properties(self, spark):
        """aHash invariances the operator exists for: byte-identical
        inputs and cross-FORMAT re-encodes of the same pixels hash
        equal; a mild edit lands within a small hamming; uniform
        images hash all-zero (strict-greater rule); undecodables get
        NULL halves, never a fake hash."""
        import numpy as np

        from lotad_spark.pipeline.multimodal import (
            image_ahash,
            image_near_dup_pairs,
        )

        hdr = b"P6 8 8 255 "
        px = bytes(v for i in range(64) for v in ((i * 4) % 256,) * 3)
        p6 = hdr + px
        # the SAME pixels as a PNG (filter 0) must hash identically
        png = self._make_png(
            [list(px[r * 24 : (r + 1) * 24]) for r in range(8)]
        )
        assert _hash_parts("ahash", p6) == _hash_parts("ahash", png)
        assert _hash_parts("ahash", b"P6 4 4 255 " + bytes([9] * 48)) == (0, 0)
        assert _hash_parts("ahash", b"junk") is None
        edited = bytearray(px)
        edited[0:3] = b"\xfa\xfa\xfa"
        df = spark.createDataFrame(
            [
                (1, bytearray(p6)),
                (2, bytearray(png)),
                (3, bytearray(hdr + bytes(edited))),
                (4, bytearray(b"junk")),
                (5, None),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in image_ahash(df).collect()}
        assert (got[1].ahash_hi, got[1].ahash_lo) == (
            got[2].ahash_hi, got[2].ahash_lo,
        )
        assert got[4].kind == "bytes" and got[4].ahash_hi is None
        assert got[5].kind == "null"
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in image_near_dup_pairs(df).collect()
        }
        assert pairs[(1, 2)] == 0  # cross-format exact
        assert 0 < pairs[(1, 3)] <= 7  # mild edit within threshold
        assert not any(4 in k or 5 in k for k in pairs)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            image_near_dup_pairs(df, bands=3)
        with _pytest.raises(ValueError):
            image_near_dup_pairs(df, bands=1)

    def test_image_hashes_multi_kind_matches_single(self, spark):
        """The shared image_hashes stage: a multi-kind call (one decode
        feeding every kernel) emits exactly the single-kind columns,
        kind='+'-joins the request, and the null/bytes contract
        holds per row."""
        import pytest as _pytest

        from lotad_spark.pipeline.multimodal import (
            image_ahash,
            image_dhash,
            image_hashes,
            image_phash,
        )

        px = bytes(v for i in range(64) for v in ((i * 7) % 256,) * 3)
        df = spark.createDataFrame(
            [
                (1, bytearray(b"P6 8 8 255 " + px)),
                (2, bytearray(b"junk")),
                (3, None),
            ],
            "media_id bigint, content binary",
        )
        multi = {
            r.media_id: r
            for r in image_hashes(
                df, kinds=("ahash", "phash", "dhash")
            ).collect()
        }
        assert multi[1].kind == "ahash+phash+dhash"
        assert multi[2].kind == "bytes" and multi[2].phash_hi is None
        assert multi[3].kind == "null" and multi[3].dhash_lo is None
        for single_fn, k in (
            (image_ahash, "ahash"),
            (image_phash, "phash"),
            (image_dhash, "dhash"),
        ):
            single = {r.media_id: r for r in single_fn(df).collect()}
            assert single[1].kind == k
            assert single[1][f"{k}_hi"] == multi[1][f"{k}_hi"]
            assert single[1][f"{k}_lo"] == multi[1][f"{k}_lo"]
        with _pytest.raises(ValueError):
            image_hashes(df, kinds=("ahash", "nope"))
        with _pytest.raises(ValueError):
            image_hashes(df, kinds=())

    def test_scene_cuts(self, spark):
        """A repeated frame scores hamming 0 (no cut); a hard content
        change scores high (cut); the first frame has NULL hamming and
        no cut flag; fallbacks are labeled."""
        from lotad_spark.pipeline.multimodal import scene_cuts

        w, h = 4, 2
        dark = bytes([10] * 24)
        # gradient frame: distinct per-cell luma pattern
        grad = bytes(v for i in range(8) for v in (i * 30, i * 30, i * 30))
        avi = self._make_avi([dark, dark, grad, grad], w, h)
        df = spark.createDataFrame(
            [(1, bytearray(avi)), (2, bytearray(b"junk")), (3, None)],
            "media_id bigint, content binary",
        )
        out = scene_cuts(df, cut_hamming=8).collect()
        r1 = sorted(
            (r for r in out if r.media_id == 1),
            key=lambda r: r.frame_idx,
        )
        assert [r.frame_idx for r in r1] == [0, 1, 2, 3]
        assert r1[0].hamming_prev is None and not r1[0].is_cut
        assert r1[1].hamming_prev == 0 and not r1[1].is_cut
        assert r1[2].hamming_prev >= 8 and r1[2].is_cut
        assert r1[3].hamming_prev == 0 and not r1[3].is_cut
        by_id = {r.media_id: r for r in out if r.media_id != 1}
        assert by_id[2].kind == "bytes" and by_id[2].frame_idx is None
        assert by_id[3].kind == "null"

    def test_video_near_dup_pairs(self, spark):
        """Cross-video perceptual near-dup: a trimmed re-encode of the
        same clip (same scenes, one dropped, mild brightness shift)
        pairs with the original at full coverage; a structurally
        different video pairs with neither. Fallback/NULL payloads are
        excluded by the kind filter."""
        from lotad_spark.pipeline.multimodal import video_near_dup_pairs

        w, h = 4, 2
        dark = bytes([10] * 24)
        # +6 uniform brightness: aHash-invariant (cells and mean shift
        # together) — the mild edit a perceptual signature must absorb
        bright = bytes(v + 6 for v in dark)
        grad = bytes(
            v for i in range(8) for v in (i * 30, i * 30, i * 30)
        )
        checker = bytes(
            v
            for y in range(2)
            for x in range(4)
            for v in ((255 if (x + y) % 2 else 0),) * 3
        )
        full = self._make_avi([dark, dark, grad, grad], w, h)
        trimmed = self._make_avi([bright, grad], w, h)
        other = self._make_avi([checker, checker], w, h)
        df = spark.createDataFrame(
            [
                (1, bytearray(full)),
                (2, bytearray(trimmed)),
                (3, bytearray(other)),
                (4, bytearray(b"junk")),
                (5, None),
            ],
            "media_id bigint, content binary",
        )
        got = {
            (r.id_a, r.id_b): r
            for r in video_near_dup_pairs(
                df, cut_hamming=8, min_coverage=0.5
            ).collect()
        }
        assert set(got) == {(1, 2)}
        r = got[(1, 2)]
        assert r.n_scenes_a == 2 and r.n_scenes_b == 2
        assert r.n_matched_a == 2 and r.n_matched_b == 2
        assert r.coverage == 1.0

    def test_video_near_dup_validation(self, spark):
        from lotad_spark.pipeline.multimodal import video_near_dup_pairs

        df = spark.createDataFrame(
            [(1, b"x")], "media_id bigint, content binary"
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="min_coverage"):
            video_near_dup_pairs(df, min_coverage=0.0)
        with _pytest.raises(ValueError, match="bands"):
            video_near_dup_pairs(df, bands=5)
        with _pytest.raises(ValueError, match="exact recall"):
            video_near_dup_pairs(df, max_hamming=9, bands=8)

    def test_image_pairs_compose_with_components(self, spark):
        """image_near_dup_pairs output feeds dedup_components verbatim
        (the text near-dup composition): a dup CLUSTER spanning
        formats collapses to one min-id representative."""
        from lotad_spark.pipeline import dedup_components
        from lotad_spark.pipeline.multimodal import image_near_dup_pairs

        hdr = b"P6 8 8 255 "
        px = bytes(v for i in range(64) for v in ((i * 4) % 256,) * 3)
        png = self._make_png(
            [list(px[r * 24 : (r + 1) * 24]) for r in range(8)]
        )
        edited = bytearray(px)
        edited[0:3] = b"\xfa\xfa\xfa"
        # a CHECKERBOARD — structurally unlike the smooth gradients
        # (two small gradients would legitimately aHash-near each
        # other: the 8x8 downsample sees the same spatial ramp)
        other = b"P6 8 8 255 " + bytes(
            v
            for y in range(8)
            for x in range(8)
            for v in ((255 if (x + y) % 2 else 0),) * 3
        )
        df = spark.createDataFrame(
            [
                (1, bytearray(hdr + px)),
                (2, bytearray(png)),
                (3, bytearray(hdr + bytes(edited))),
                (4, bytearray(other)),
            ],
            "media_id bigint, content binary",
        )
        pairs = image_near_dup_pairs(df).select(
            F.col("id_a"), F.col("id_b")
        )
        comps = {
            r.media_id: r.component_id
            for r in dedup_components(
                pairs, id_out="media_id"
            ).collect()
        }
        assert comps[1] == comps[2] == comps[3] == 1
        assert 4 not in comps  # no pairs -> not in the edge set

    def test_bmp_coreheader_rejected(self):
        """A BITMAPCOREHEADER BMP (DIB size 12, 16-bit width/height at
        different offsets) must fall through rather than be read at
        INFOHEADER offsets and decode to garbage dimensions."""
        import struct

        from lotad_spark.pipeline.multimodal import _parse_bmp

        core = (
            b"BM"
            + struct.pack("<IHHI", 0, 0, 0, 26)
            + struct.pack("<IHHHH", 12, 64, 32, 1, 24)  # CORE layout
            + b"\0" * 16
        )
        assert _parse_bmp(core) is None
        info = (
            b"BM"
            + struct.pack("<IHHI", 0, 0, 0, 54)
            + struct.pack("<IiiHH", 40, 64, 32, 1, 24)
            + b"\0" * 16
        )
        assert _parse_bmp(info) == (64, 32, "RGB")

    def test_decode_pixels_formats(self):
        """Pixel-level decode is REAL for every zero-dep format: exact
        arrays back out, BGR→RGB reorder, bottom-up flip, stride pad."""
        import struct

        import numpy as np

        from lotad_spark.pipeline.multimodal import decode_pixels

        rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        w, h, arr = decode_pixels(b"P6\n3 2\n255\n" + rgb.tobytes())
        assert (w, h) == (3, 2) and (arr == rgb).all()

        gray = np.array([[10, 20], [30, 40]], dtype=np.uint8)
        w, h, arr = decode_pixels(b"P5\n2 2\n255\n" + gray.tobytes())
        assert (w, h) == (2, 2)
        assert (arr == np.stack([gray] * 3, axis=-1)).all()

        # ASCII twins
        w, h, arr = decode_pixels(b"P3\n2 1\n255\n1 2 3 4 5 6")
        assert (w, h) == (2, 1)
        assert arr.tolist() == [[[1, 2, 3], [4, 5, 6]]]
        w, h, arr = decode_pixels(b"P2\n1 2\n255\n7 9")
        assert arr[:, :, 0].ravel().tolist() == [7, 9]

        # 24-bpp BMP, 2x2, bottom-up, BGR, stride 8 (2 pad bytes/row)
        top = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
        rows = b""
        for r in reversed(top):  # bottom-up storage
            for (rr, gg, bb) in r:
                rows += bytes([bb, gg, rr])  # BGR on disk
            rows += b"\0\0"  # stride pad to 8
        bmp = (
            b"BM"
            + struct.pack("<IHHI", 0, 0, 0, 54)
            + struct.pack("<IiiHH", 40, 2, 2, 1, 24)
            + struct.pack("<II", 0, 0)  # compression=0, image size
            + b"\0" * 16
            + rows
        )
        w, h, arr = decode_pixels(bmp)
        assert (w, h) == (2, 2) and arr.tolist() == [
            [list(p) for p in r] for r in top
        ]

        # honest Nones: truncated pixels, non-255 maxval, exotic formats
        assert decode_pixels(b"P6\n3 2\n255\nshort") is None
        assert decode_pixels(b"P6\n1 1\n65535\n\0\0\0") is None
        assert decode_pixels(b"\x89PNG\r\n...") is None

    def test_luma_feature_kernel(self, spark):
        """kind='luma' histograms ACTUAL pixel luma for decodable
        payloads (hand-computed BT.601 integer bins) and labels the
        byte-histogram fallback per row."""
        import numpy as np

        from lotad_spark.pipeline.multimodal import extract_feature_counts

        px = np.array(
            [[[255, 255, 255], [0, 0, 0]], [[100, 150, 50], [255, 0, 0]]],
            dtype=np.uint8,
        )
        payload = b"P6\n2 2\n255\n" + px.tobytes()
        df = spark.createDataFrame(
            [(1, payload), (2, b"opaque bytes"), (3, None)],
            "media_id long, content binary",
        )
        got = {
            r.media_id: r
            for r in extract_feature_counts(df, kind="luma").collect()
        }
        lumas = [
            (299 * int(r) + 587 * int(g) + 114 * int(b)) // 1000
            for (r, g, b) in px.reshape(-1, 3)
        ]
        expect = [0] * 16
        for l in lumas:
            expect[l * 16 // 256] += 1
        assert got[1].kind == "luma" and list(got[1].hist) == expect
        assert got[2].kind == "bytes" and sum(got[2].hist) == 12
        assert got[3].kind == "null" and sum(got[3].hist) == 0

    def test_decode_keeps_partitioning_columns(self, spark):
        df = spark.createDataFrame(
            [(1, "img/png", b"abc")], "media_id long, media_type string, content binary"
        )
        out = with_decoded_metadata(df)
        assert out.columns == ["media_id", "media_type", "width", "height", "mode"]

    def test_frame_sample(self, spark):
        df = spark.createDataFrame(
            [(1, b"z" * 250)], "media_id long, content binary"
        )
        rows = frame_sample_plan(df, every_nth=1).collect()
        # 250 bytes → 3 stub frames (0, 1, 2)
        assert [r.frame_idx for r in rows] == [0, 1, 2]
        assert "content" not in frame_sample_plan(df).columns

    def test_resize_binary_roundtrip(self, spark):
        from lotad_spark.pipeline.multimodal import resize_images

        df = spark.createDataFrame(
            [(1, "img/png", b"x" * 10), (2, "img/png", b"y" * 9999), (3, None, None)],
            "media_id long, media_type string, content binary",
        )
        out = resize_images(df, width=8, height=8)
        assert out.columns == [
            "media_id", "media_type", "content",
            "resized_width", "resized_height", "resize_kind",
        ]
        got = {r.media_id: r for r in out.collect()}
        # non-decodable payloads keep the byte truncate/pad fallback,
        # labeled as such
        assert len(got[1].content) == 64 and len(got[2].content) == 64
        assert bytes(got[1].content[:10]) == b"x" * 10  # pad, keep prefix
        assert got[1].resize_kind == "bytes"
        assert got[3].content is None and got[3].resize_kind == "null"
        assert got[1].resized_width == 8

    def test_resize_real_pixels_nearest_neighbor(self, spark):
        """A decodable P6 resizes by ACTUAL pixel resampling: each target
        pixel (x, y) is source pixel (x*sw//tw, y*sh//th), and the output
        re-encodes as P6 — decode_pixels round-trips it."""
        import numpy as np

        from lotad_spark.pipeline.multimodal import (
            decode_pixels,
            resize_images,
        )

        src = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
        payload = b"P6\n4 2\n255\n" + src.tobytes()
        df = spark.createDataFrame(
            [(1, payload)], "media_id long, content binary"
        )
        r = resize_images(df, width=2, height=2).collect()[0]
        assert r.resize_kind == "pixel"
        w, h, arr = decode_pixels(bytes(r.content))
        assert (w, h) == (2, 2)
        iy = (np.arange(2) * 2) // 2
        ix = (np.arange(2) * 4) // 2
        assert (arr == src[iy][:, ix]).all()


class TestStreamingDedup:
    def test_streaming_dedup_suppresses_duplicates(self, spark, sf_dir, tmp_path):
        from lotad_spark.streaming import streaming_dedup

        ev = _events(spark, sf_dir).limit(200)
        doubled = ev.unionByName(ev)  # every event twice
        src = str(tmp_path / "dup_src")
        doubled.write.mode("overwrite").parquet(src)

        # batch semantics
        batch_n = streaming_dedup(spark.read.parquet(src)).count()
        assert batch_n == 200

        # streaming semantics: duplicates inside the watermark suppressed
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            streaming_dedup(stream, watermark="10 hours")
            .writeStream.format("memory")
            .queryName("dedup_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT count(*) AS n FROM dedup_test").collect()[0].n
        assert got == 200


class TestKeyLifetimeStats:
    def test_stateful_stream_matches_batch(self, spark, sf_dir, tmp_path):
        from lotad_spark.streaming import key_lifetime_stats

        ev = _events(spark, sf_dir)
        src = str(tmp_path / "events_src_state")
        # One file → one micro-batch → the memory sink holds exactly the
        # final update row per key.
        ev.coalesce(1).write.mode("overwrite").parquet(src)

        batch = {
            r.user_id: (r.n_events, r.first_ts, r.last_ts)
            for r in key_lifetime_stats(spark.read.parquet(src)).collect()
        }
        assert len(batch) > 0

        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            key_lifetime_stats(stream)
            .writeStream.format("memory")
            .queryName("key_stats_test")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_state"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.user_id: (r.n_events, r.first_ts, r.last_ts)
            for r in spark.sql("SELECT * FROM key_stats_test").collect()
        }
        assert got == batch

    def test_state_accumulates_across_batches(self, spark, tmp_path):
        import datetime as dt

        from lotad_spark.streaming import key_lifetime_stats

        src = str(tmp_path / "two_batches")
        schema = "user_id bigint, ts timestamp"
        t = dt.datetime(2024, 1, 1, 12, 0, 0)
        t2 = t + dt.timedelta(minutes=5)
        spark.createDataFrame([(1, t)], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        spark.createDataFrame([(1, t2)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        # maxFilesPerTrigger=1 → two micro-batches in one run; update mode
        # emits the running state after each, proving accumulation.
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            key_lifetime_stats(stream, ts_col="ts")
            .writeStream.format("memory")
            .queryName("ks_accum")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_two"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM ks_accum").collect()
        assert sorted(r.n_events for r in rows) == [1, 2]
        final = max(rows, key=lambda r: r.n_events)
        assert final.first_ts == min(t, t2)
        assert final.last_ts == max(t, t2)


class TestStreamingDrift:
    def test_batch_face_matches_diff_tables(self, spark, sf_dir):
        from lotad_spark.operators.diff import diff_tables
        from lotad_spark.streaming import streaming_drift

        ref = ParquetDatabase(spark, sf_dir, "db").table("customer")
        mutated = ref.withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 1).otherwise(
                F.col("c_acctbal")
            ),
        )
        got = {r.c_custkey for r in streaming_drift(mutated, ref).collect()}
        expected = {
            r.c_custkey
            for r in diff_tables(mutated, ref, db1_id="a", db2_id="b")
            .diff.filter(F.col("observed_in") == "a")
            .collect()
        }
        assert got == expected and len(got) > 0

    def test_stream_emits_only_drifted_rows(self, spark, sf_dir, tmp_path):
        from lotad_spark.streaming import streaming_drift

        ref = ParquetDatabase(spark, sf_dir, "db").table("customer")
        mutated = ref.withColumn(
            "c_name",
            F.when(F.col("c_custkey") % 50 == 0, F.lit("DRIFTED")).otherwise(
                F.col("c_name")
            ),
        )
        src = str(tmp_path / "drift_stream_src")
        mutated.write.mode("overwrite").parquet(src)
        expected = mutated.filter(F.col("c_name") == "DRIFTED").count()
        assert expected > 0

        stream = spark.readStream.schema(mutated.schema).parquet(src)
        q = (
            streaming_drift(stream, ref)
            .writeStream.format("memory")
            .queryName("drift_stream_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM drift_stream_test").collect()
        assert len(rows) == expected
        assert all(r.c_name == "DRIFTED" for r in rows)


class TestCheckpointRecovery:
    def test_state_survives_query_restart(self, spark, tmp_path):
        """key_lifetime_stats state must persist across SEPARATE runs of the
        query from the same checkpoint — the exactly-once restart contract a
        long-lived 100 TB pipeline depends on."""
        import datetime as dt

        from lotad_spark.streaming import key_lifetime_stats

        src = str(tmp_path / "restart_src")
        ckpt = str(tmp_path / "restart_ckpt")
        out = str(tmp_path / "restart_out")
        schema = "user_id bigint, ts timestamp"
        t1 = dt.datetime(2024, 3, 1, 9, 0, 0)
        t2 = t1 + dt.timedelta(minutes=10)

        def run_once():
            # The memory sink refuses checkpoint recovery; foreachBatch is
            # the recoverable sink shape for update-mode stateful output.
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                key_lifetime_stats(stream, ts_col="ts")
                .writeStream.foreachBatch(
                    lambda df, _id: df.write.mode("append").parquet(out)
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        spark.createDataFrame([(7, t1)], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        run_once()
        first = [r for r in spark.read.parquet(out).collect() if r.user_id == 7]
        assert [r.n_events for r in first] == [1]

        # New file lands AFTER the first run finished; a fresh query run on
        # the same checkpoint must resume state, not recount from scratch.
        spark.createDataFrame([(7, t2)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_once()
        rows = [r for r in spark.read.parquet(out).collect() if r.user_id == 7]
        assert sorted(r.n_events for r in rows) == [1, 2]
        assert max(r.last_ts for r in rows) == t2


class TestStreamingMixing:
    def test_mixture_and_upsample_stream_and_match_batch(
        self, spark, sf_dir, tmp_path
    ):
        """mixture_sample and upsample_by_weight are stateless hash-keyed
        projections — the streaming-ingest half of data mixing: the same
        definitions run on readStream (append, no state) and select the
        IDENTICAL mix as the batch plan, so a micro-batch ingest pipe
        and a backfill batch job produce the same corpus."""
        from lotad_spark.pipeline import mixture_sample, upsample_by_weight
        from lotad_spark.sources.parquet import read_table

        docs = read_table(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source"
        )
        src = str(tmp_path / "mix_src")
        docs.write.mode("overwrite").parquet(src)
        rates = {"src0": 1.0, "src1": 0.25}
        weights = {"src2": 2.0}

        def pipe(df):
            return upsample_by_weight(
                mixture_sample(df, rates, default_rate=0.5), weights
            )

        batch = {
            (r.doc_id, r.epoch)
            for r in pipe(spark.read.parquet(src)).collect()
        }
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            pipe(stream)
            .writeStream.format("memory")
            .queryName("mix_stream_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc_id, r.epoch)
            for r in spark.sql("SELECT * FROM mix_stream_test").collect()
        }
        assert got == batch and len(got) > 0


class TestValueHistogram:
    def test_stream_matches_batch(self, spark, sf_dir, tmp_path):
        from lotad_spark.streaming import value_histogram

        ev = _events(spark, sf_dir)
        src = str(tmp_path / "hist_src")
        ev.repartition(4).write.mode("overwrite").parquet(src)

        batch = {
            (r.hour_start, r.bin_id): r.n
            for r in value_histogram(
                spark.read.parquet(src), lo=0.0, hi=20.0, n_bins=5
            ).collect()
        }
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ckpt = str(tmp_path / "hist_ckpt")
        q = (
            value_histogram(stream, lo=0.0, hi=20.0, n_bins=5)
            .writeStream.format("memory")
            .queryName("hist_stream_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.hour_start, r.bin_id): r.n
            for r in spark.sql("SELECT * FROM hist_stream_test").collect()
        }
        assert got == batch and len(got) > 0
        # every count landed in a real bin
        assert all(0 <= b <= 4 for (_, b) in got)

    def test_clamps_and_rejects_bad_range(self, spark, sf_dir):
        import pytest as _pytest

        from lotad_spark.streaming import value_histogram

        ev = _events(spark, sf_dir)
        rows = value_histogram(ev, lo=5.0, hi=6.0, n_bins=2).collect()
        assert sum(r.n for r in rows) == ev.filter("value IS NOT NULL").count()
        with _pytest.raises(ValueError):
            value_histogram(ev, lo=1.0, hi=1.0)


class TestStreamIntervalJoin:
    def _sides(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        views = ev.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        return views, purchases

    def test_two_real_streams_match_batch_range_join(
        self, spark, sf_dir, tmp_path
    ):
        """views⋈purchases over TWO readStreams (watermarked stream-
        stream join with a state-bounding time condition) must emit
        exactly the pairs the batch bin-bucketed range_join produces."""
        from lotad_spark.operators import range_join
        from lotad_spark.streaming import stream_interval_join

        views, purchases = self._sides(spark, sf_dir)
        v_src = str(tmp_path / "views_src")
        p_src = str(tmp_path / "purch_src")
        views.write.mode("overwrite").parquet(v_src)
        purchases.write.mode("overwrite").parquet(p_src)

        batch = sorted(
            (r["v_id"], r["p_id"])
            for r in range_join(
                views,
                purchases.select(
                    "p_id",
                    "p_user",
                    (F.col("p_ts") - F.expr("INTERVAL 1 HOUR")).alias(
                        "w_start"
                    ),
                    F.col("p_ts").alias("w_end"),
                ),
                point_col="v_ts",
                start_col="w_start",
                end_col="w_end",
                bin_width=3600.0,
                point_key="v_user",
                interval_key="p_user",
            ).collect()
        )

        v_stream = spark.readStream.schema(
            spark.read.parquet(v_src).schema
        ).parquet(v_src)
        p_stream = spark.readStream.schema(
            spark.read.parquet(p_src).schema
        ).parquet(p_src)
        q = (
            stream_interval_join(
                v_stream,
                p_stream,
                point_key="v_user",
                interval_key="p_user",
                point_ts="v_ts",
                interval_ts="p_ts",
                max_delay="1 hour",
            )
            .select("v_id", "p_id")
            .writeStream.format("memory")
            .queryName("sij_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(
            (r["v_id"], r["p_id"])
            for r in spark.sql("SELECT * FROM sij_test").collect()
        )
        assert got == batch and len(got) > 0

    def test_rejects_overlapping_names(self, spark, sf_dir):
        import pytest

        from lotad_spark.streaming import stream_interval_join

        views, _ = self._sides(spark, sf_dir)
        with pytest.raises(ValueError, match="overlapping"):
            stream_interval_join(
                views,
                views,
                point_key="v_user",
                interval_key="v_user",
                point_ts="v_ts",
                interval_ts="v_ts",
            )


class TestReviewRegressions:
    def test_feature_counts_string_media_ids(self, spark):
        """The mapInPandas output schema derives the id type from the
        input (string/uuid media ids, not just bigint)."""
        from lotad_spark.pipeline.multimodal import extract_feature_counts

        df = spark.createDataFrame(
            [("img-a", b"abc"), ("img-b", None)],
            "media_id string, content binary",
        )
        got = {r.media_id: r.kind for r in extract_feature_counts(df).collect()}
        assert got == {"img-a": "bytes", "img-b": "null"}

    def test_decode_metadata_content_only_input(self, spark):
        """A content-only table (no passthrough columns) must yield a
        valid output schema, not a leading-comma parse error."""
        from lotad_spark.pipeline.multimodal import with_decoded_metadata

        df = spark.createDataFrame(
            [(b"P6\n2 1\n255\n" + b"x" * 6,)], "content binary"
        )
        out = with_decoded_metadata(df)
        assert out.columns == ["width", "height", "mode"]
        r = out.collect()[0]
        assert (r.width, r.height, r.mode) == (2, 1, "RGB")

    def test_truncated_binary_header_falls_back_loudly(self, spark):
        """P6 with no maxval is malformed: both the metadata path and
        the pixel path now agree it is not netpbm (shared scanner) —
        it falls to the labeled byte-length fake, never a guess."""
        from lotad_spark.pipeline.multimodal import _parse_pnm, decode_pixels

        assert _parse_pnm(b"P6\n3 2\n") is None
        assert decode_pixels(b"P6\n3 2\n") is None


class TestPngAdam7:
    """Adam7-interlaced PNG decode: an independent per-pass encoder
    (filters restart per reduced image, as the spec requires) must
    round-trip through _png_pixels for every color type, every filter,
    and sizes straddling the pass grids — positionally, not just as a
    multiset."""

    _PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
               (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    def _encode(self, px, ctype, fsel):
        import struct
        import zlib

        import numpy as np

        h, w, ch = px.shape

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        def filt(rows):
            stream = bytearray()
            prev = np.zeros(rows.shape[1], dtype=int)
            for yy in range(rows.shape[0]):
                f = fsel(yy)
                line = rows[yy].astype(int)
                left = np.concatenate([[0] * ch, line[:-ch]])
                ul = np.concatenate([[0] * ch, prev[:-ch]])
                if f == 0:
                    enc = line
                elif f == 1:
                    enc = (line - left) % 256
                elif f == 2:
                    enc = (line - prev) % 256
                elif f == 3:
                    enc = (line - (left + prev) // 2) % 256
                else:
                    p = left + prev - ul
                    pa, pb, pc = (
                        np.abs(p - left), np.abs(p - prev), np.abs(p - ul),
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, prev, ul),
                    )
                    enc = (line - pred) % 256
                stream.append(f)
                stream.extend(int(v) for v in enc)
                prev = line
            return stream

        stream = bytearray()
        for x0, y0, dx, dy in self._PASSES:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            stream += filt(sub.reshape(sub.shape[0], sub.shape[1] * ch))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b"")
        )

    def test_roundtrip_all_ctypes_filters_sizes(self):
        import numpy as np

        from lotad_spark.pipeline.multimodal import _png_pixels

        rng = np.random.RandomState(23)
        for w, h in [(1, 1), (3, 2), (8, 8), (13, 9), (20, 17)]:
            for ctype, ch in ((2, 3), (0, 1), (6, 4), (4, 2)):
                for fsel in (lambda y: 0, lambda y: y % 5):
                    px = rng.randint(0, 256, (h, w, ch)).astype(np.uint8)
                    got = _png_pixels(self._encode(px, ctype, fsel))
                    assert got is not None, (w, h, ctype)
                    gw, gh, arr = got
                    assert (gw, gh) == (w, h)
                    if ctype in (0, 4):
                        want = np.stack([px[:, :, 0]] * 3, -1)
                    else:
                        want = px[:, :, :3]
                    assert (arr == want).all(), (w, h, ctype)

    def test_positional_distinct_rows(self):
        import numpy as np

        from lotad_spark.pipeline.multimodal import _png_pixels

        px = np.arange(9, dtype=np.uint8).repeat(5 * 3).reshape(9, 5, 3)
        assert (_png_pixels(self._encode(px, 2, lambda y: 0))[2] == px).all()

    def test_truncated_interlaced_stream(self):
        import struct
        import zlib

        import numpy as np

        from lotad_spark.pipeline.multimodal import _png_pixels

        px = np.zeros((9, 5, 3), dtype=np.uint8)
        good = self._encode(px, 2, lambda y: 0)

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        bad = (
            good[:33]
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + chunk(b"IEND", b"")
        )
        assert _png_pixels(bad) is None


class TestDecodeTierCounts:
    """classify_decode_tier / decode_tier_counts (r16): the counter
    must agree with the real decoders by construction, and the
    distributed face must equal the per-payload classification."""

    def test_classification_matrix(self):
        import struct
        import zlib

        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import classify_decode_tier

        expect = [
            ("pnm", "real"), ("pnm", "header_only"),
            ("webp", "real"), ("webp", "header_only"),
            ("wav", "real"), ("wav", "header_only"),
            ("png", "header_only"), ("unknown", "fallback"),
            ("mp4", "header_only"), ("mp3", "header_only"),
            ("pdf", "real"), ("svg", "header_only"),  # r18 slots
        ]
        for did in range(48):
            got = classify_decode_tier(entry._decode_tier_fixture(did))
            want = expect[did % 12]
            if did % 24 == 22:  # magic-only PDF: extractor refuses
                want = ("pdf", "header_only")
            assert got == want, did
        assert classify_decode_tier(None) == ("null", "null")
        # real 8-bit PNG classifies real; JPEG header without scan
        # data is header_only; AVI magic routes to avi

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data))
            )

        png8 = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
            + chunk(b"IEND", b"")
        )
        assert classify_decode_tier(png8) == ("png", "real")
        avi_stub = b"RIFF" + struct.pack("<I", 4) + b"AVI "
        assert classify_decode_tier(avi_stub) == ("avi", "header_only")

    def test_distributed_counts_match(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import decode_tier_counts

        rows = [
            (did, bytearray(entry._decode_tier_fixture(did)))
            for did in range(48)
        ] + [(999, None)]
        df = spark.createDataFrame(rows, "doc_id bigint, content binary")
        got = {
            (r.container, r.tier): r.n
            for r in decode_tier_counts(df).collect()
        }
        assert got == {
            ("pnm", "real"): 4, ("pnm", "header_only"): 4,
            ("webp", "real"): 4, ("webp", "header_only"): 4,
            ("wav", "real"): 4, ("wav", "header_only"): 4,
            ("png", "header_only"): 4, ("unknown", "fallback"): 4,
            ("mp4", "header_only"): 4, ("mp3", "header_only"): 4,
            # r18: dids 10/34 are valid PDFs, 22/46 magic-only
            # refusals; 11/23/35/47 SVGs
            ("pdf", "real"): 2, ("pdf", "header_only"): 2,
            ("svg", "header_only"): 4,
            ("null", "null"): 1,
        }
        # sampled mode: the scale path — counts bounded by the
        # population, deterministic under a fixed seed
        sampled = decode_tier_counts(
            df, sample_fraction=0.5, seed=7
        ).collect()
        assert sum(r.n for r in sampled) <= 41
        again = decode_tier_counts(
            df, sample_fraction=0.5, seed=7
        ).collect()
        assert sorted(map(tuple, sampled)) == sorted(map(tuple, again))


class TestAudioStats:
    """audio_stats (r16): exact integer duration/peak/energy, channel
    handling, 8-bit normalization, fallback kinds."""

    @staticmethod
    def _wav(samples, rate=8000, n_ch=1, bits=16):
        import struct

        if bits == 16:
            data = b"".join(struct.pack("<h", s) for s in samples)
            align, bps = 2 * n_ch, rate * 2 * n_ch
        else:
            data = bytes(samples)
            align, bps = n_ch, rate * n_ch
        fmt = struct.pack("<HHIIHH", 1, n_ch, rate, bps, align, bits)
        chunks = (
            b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def test_stats_exact(self, spark):
        from lotad_spark.pipeline.multimodal import audio_stats

        # stereo: frames interleave L R; peak from |−30000|
        stereo = self._wav([100, -200, -30000, 400], n_ch=2)
        # 8-bit mono: samples normalize (s − 128)·256
        eight = self._wav([128, 0, 255], bits=8)
        df = spark.createDataFrame(
            [(1, bytearray(stereo)), (2, bytearray(eight)),
             (3, bytearray(b"junk")), (4, None)],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in audio_stats(df).collect()}
        s = got[1]
        assert (s.kind, s.n_channels, s.n_frames) == ("pcm", 2, 2)
        assert s.duration_ms == 2 * 1000 // 8000
        assert s.peak_abs == 30000
        assert s.energy == 100**2 + 200**2 + 30000**2 + 400**2
        e = got[2]
        vals = [(128 - 128) * 256, (0 - 128) * 256, (255 - 128) * 256]
        assert e.kind == "pcm" and e.n_frames == 3
        assert e.peak_abs == max(abs(v) for v in vals)
        assert e.energy == sum(v * v for v in vals)
        assert got[3].kind == "bytes" and got[3].energy is None
        assert got[4].kind == "null"


class TestVideoStats:
    """video_stats (r16): header timing, duration arithmetic, the
    AVI-only contract."""

    def test_stats_and_fallbacks(self, spark):
        import struct

        from lotad_spark.pipeline.multimodal import video_stats

        def chunk(cid, body):
            return (
                cid + struct.pack("<I", len(body)) + body
                + (b"\0" if len(body) % 2 else b"")
            )

        w, h, nf, usec = 4, 2, 3, 33333
        per = w * 3 * h
        avih = (
            struct.pack("<8I", usec, 0, 0, 0, nf, 0, 1, 0)
            + struct.pack("<II", w, h)
        )
        strf = b"\x00" * 14 + struct.pack("<H", 24) + struct.pack("<I", 0)
        movi = b"movi" + b"".join(
            chunk(b"00db", bytes([i] * per)) for i in range(nf)
        )
        hdrl = b"hdrl" + chunk(b"avih", avih) + chunk(b"strf", strf)
        body = chunk(b"LIST", hdrl) + chunk(b"LIST", movi)
        avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
        df = spark.createDataFrame(
            [(1, bytearray(avi)), (2, bytearray(b"GIF89a...")),
             (3, None)],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in video_stats(df).collect()}
        s = got[1]
        assert (s.kind, s.width, s.height, s.n_frames) == ("avi", 4, 2, 3)
        assert s.usec_per_frame == usec
        assert s.duration_ms == nf * usec // 1000
        # GIF is deliberately NOT an avi-stats subject (per-frame GCE
        # timing) and non-media is honest bytes
        assert got[2].kind == "bytes" and got[2].n_frames is None
        assert got[3].kind == "null"


class TestImageProvenance:
    """image_provenance (r16): chunk/segment parsing across the five
    carrying forms, malformed robustness, kind contract."""

    def test_fixture_forms(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import image_provenance

        for did in range(25):
            got = image_provenance(entry._provenance_container(did))
            if did % 7 == 3:
                assert got is None
                continue
            sw = f"gen-{did % 4}/1.{did % 3}"
            cm = f"c {did % 11}"
            want = {
                0: (sw, cm), 1: (sw, cm), 2: (sw, None),
                3: (None, cm), 4: (sw, None), 5: (sw, cm),
            }[did % 6]
            assert got == want, did

    def test_malformed_never_raises(self):
        import numpy as np

        from lotad_spark.pipeline.multimodal import image_provenance

        rng = np.random.RandomState(3)
        import __spark_entry__ as entry

        for did in (0, 1, 2, 3, 4, 5):
            p = entry._provenance_container(did)
            for k in range(0, len(p), 3):  # truncations
                image_provenance(p[:k])
            for _ in range(30):  # byte flips
                b = bytearray(p)
                b[rng.randint(0, len(b))] = rng.randint(0, 256)
                image_provenance(bytes(b))

    def test_spark_operator(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import (
            extract_image_provenance,
        )

        df = spark.createDataFrame(
            [
                (0, bytearray(entry._provenance_container(0))),
                (3, bytearray(entry._provenance_container(3))),
                (9, None),
            ],
            "media_id bigint, content binary",
        )
        got = {
            r.media_id: r
            for r in extract_image_provenance(df).collect()
        }
        assert got[0].kind == "tagged" and got[0].software == "gen-0/1.0"
        assert got[3].kind == "none"
        assert got[9].kind == "null"


class TestAdviceRegressionsR17:
    """r17 advice fixes: zTXt inflate budget, energy exactness."""

    @staticmethod
    def _png(*chunks):
        import struct

        out = [b"\x89PNG\r\n\x1a\n"]
        for typ, body in chunks:
            out.append(
                struct.pack(">I", len(body)) + typ + body + b"\0" * 4
            )
        return b"".join(out)

    def test_ztxt_bomb_is_untagged_not_inflated(self):
        import zlib

        from lotad_spark.pipeline.multimodal import image_provenance

        # a few-KB chunk claiming 64 MB of output: must come back
        # untagged without allocating past the 1 MB budget (the
        # decompressobj max_length cap — the old bufsize arg was only
        # an initial size, not a cap)
        bomb = zlib.compress(b"\x00" * (64 << 20), 9)
        assert len(bomb) < 100_000
        png = self._png(
            (b"zTXt", b"Comment\x00\x00" + bomb),
            (b"IEND", b""),
        )
        assert image_provenance(png) is None

    def test_ztxt_small_still_decodes(self):
        import zlib

        from lotad_spark.pipeline.multimodal import image_provenance

        png = self._png(
            (b"zTXt", b"Software\x00\x00" + zlib.compress(b"genX")),
            (b"IEND", b""),
        )
        assert image_provenance(png) == ("genX", None)

    def test_ztxt_truncated_stream_untagged(self):
        import zlib

        from lotad_spark.pipeline.multimodal import image_provenance

        cut = zlib.compress(b"hello world" * 10)[:-4]
        png = self._png(
            (b"zTXt", b"Software\x00\x00" + cut),
            (b"IEND", b""),
        )
        assert image_provenance(png) is None

    def test_pcm_energy_blockwise_python_int(self):
        import numpy as np

        from lotad_spark.pipeline.multimodal import _pcm_energy

        # in-domain samples (|s| ≤ 2^15, the 16-bit PCM bound) with a
        # tiny block size force MANY per-block int64 dot products whose
        # totals combine in a Python int — the accumulation path that
        # replaces the silently-wrapping whole-array int64 sum
        flat = np.full(1001, -(1 << 15), dtype=np.int64)
        want = 1001 * (1 << 30)
        got = _pcm_energy(flat, block=4)
        assert got == want and type(got) is int
        assert _pcm_energy(flat) == want  # default block, same answer
        assert _pcm_energy(np.array([], dtype=np.int64)) == 0
        # exactness across an uneven final block
        assert _pcm_energy(np.full(7, 3, dtype=np.int64), block=3) == 63


class TestMp3AudioFace:
    """audio_stats MP3 face (r17): frame-header walk duration, ID3
    skip, honest-NULL amplitude stats."""

    def test_fixture_and_operator(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_stats

        # doc_ids hitting the %6==5 branch with varying (did//6) parity
        dids = [5, 11, 17, 23, 29, 35]
        df = spark.createDataFrame(
            [(d, bytearray(entry._mp3_payload(d))) for d in dids],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in audio_stats(df).collect()}
        for d in dids:
            r = got[d]
            nf = d % 4 + 2
            assert r.kind == "mp3"
            assert r.sample_rate == 32000
            assert r.n_channels == (1 if (d // 6) % 2 == 0 else 2)
            assert r.n_frames == 1152 * nf
            assert r.duration_ms == 36 * nf
            assert r.peak_abs is None and r.energy is None

    def test_scan_robustness(self):
        import numpy as np

        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import _mp3_scan

        rng = np.random.RandomState(7)
        p = entry._mp3_payload(11)
        for k in range(0, len(p), 97):
            _mp3_scan(p[:k])  # truncations never raise
        for _ in range(40):
            b = bytearray(p)
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
            _mp3_scan(bytes(b))

    def test_rate_change_refused(self):
        from lotad_spark.pipeline.multimodal import _mp3_scan

        def frame(sr_idx):
            b3 = (9 << 4) | (sr_idx << 2)
            size = 144 * 128000 // (44100, 48000, 32000)[sr_idx]
            return bytes([0xFF, 0xFB, b3, 0xC0]) + b"\0" * (size - 4)

        assert _mp3_scan(frame(2) + frame(1)) is None


class TestMp4VideoFace:
    """video_stats MP4 face (r17): mvhd/tkhd/stts box walk, audio-trak
    skip, exact-integer duration."""

    def test_fixture_and_operator(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import video_stats

        dids = [2, 7, 12, 17, 22, 27]  # %5==2, (did//5) parity varies
        df = spark.createDataFrame(
            [(d, bytearray(entry._mp4_payload(d))) for d in dids],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in video_stats(df).collect()}
        for d in dids:
            r = got[d]
            assert r.kind == "mp4"
            assert (r.width, r.height) == (d % 3 + 2, d % 2 + 2)
            assert r.n_frames == d % 4 + 2
            assert r.usec_per_frame == 3000 * 1000000 // 90000
            assert r.duration_ms == (d % 7 + 1) * 250
        # honest fallbacks unchanged
        df2 = spark.createDataFrame(
            [(1, bytearray(b"not video")), (2, None)],
            "media_id bigint, content binary",
        )
        got2 = {r.media_id: r for r in video_stats(df2).collect()}
        assert got2[1].kind == "bytes" and got2[2].kind == "null"

    def test_variable_stts_gives_null_usec(self):
        import struct as s2

        from lotad_spark.pipeline.multimodal import _mp4_parse

        def box(t, body):
            return s2.pack(">I", 8 + len(body)) + t + body

        def full(t, body):
            return box(t, b"\x00" * 4 + body)
        unity = s2.pack(">9i", 0x10000,0,0, 0,0x10000,0, 0,0,0x40000000)
        tk = full(b"tkhd", s2.pack(">IIIII",0,0,1,0,0) + b"\0"*8
                  + s2.pack(">HHHH",0,0,0,0) + unity
                  + s2.pack(">II", 6 << 16, 4 << 16))
        md = full(b"mdhd", s2.pack(">IIII",0,0,90000,0) + s2.pack(">HH",0,0))
        st = full(b"stts", s2.pack(">IIIII", 2, 3, 3000, 2, 6000))
        trak = box(b"trak", tk + box(b"mdia", md + box(b"minf", box(b"stbl", st))))
        mv = full(b"mvhd", s2.pack(">IIII",0,0,1000,750)
                  + s2.pack(">IHH",0x10000,0x100,0) + b"\0"*8 + unity
                  + b"\0"*24 + s2.pack(">I",2))
        f = box(b"ftyp", b"isom" + s2.pack(">I",512) + b"isomiso2")
        got = _mp4_parse(f + box(b"moov", mv + trak))
        assert got == (6, 4, 5, None, 750)

    def test_parse_robustness(self):
        import numpy as np

        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import _mp4_parse

        rng = np.random.RandomState(11)
        p = entry._mp4_payload(7)
        for k in range(0, len(p), 13):
            _mp4_parse(p[:k])
        for _ in range(60):
            b = bytearray(p)
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
            _mp4_parse(bytes(b))


class TestAudioTags:
    """audio_tags (r17): ID3v2.2/2.3/2.4 text frames, RIFF LIST-INFO,
    encodings, tagless/null kinds, malformed robustness."""

    def test_fixture_matrix(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        for did in range(60):
            got = audio_tags_payload(entry._audio_tags_fixture(did))
            if did % 10 in (1, 6):
                assert got is None, did
                continue
            kind = (
                "id3v1" if did % 10 == 9
                else "flac" if did % 10 == 2
                else "ogg" if did % 10 == 7
                else "riff" if did % 2 == 0 else "id3"
            )
            title = f"t{did % 9}"
            artist = None if did % 5 == 0 else f"a{did % 7}"
            album = None if did % 3 == 0 else f"b{did % 4}"
            assert got == (kind, title, artist, album), did

    def test_id3_v22_and_utf16(self):
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        # v2.2: 3-char ids, 3-byte sizes
        body = b"\x00Old Title"
        frames = b"TT2" + len(body).to_bytes(3, "big") + body
        tag = b"ID3\x02\x00\x00" + bytes(
            [0, 0, len(frames) >> 7, len(frames) & 0x7F]
        ) + frames
        assert audio_tags_payload(tag) == ("id3", "Old Title", None, None)
        # trailing ID3v1 fallback: plain MPEG frame + TAG block
        frame = bytes([0xFF, 0xFB, 0x98, 0xC0]) + b"\x00" * 572
        v1 = (
            b"TAG" + b"Song".ljust(30, b"\x00")
            + b"Artist".ljust(30, b"\x00") + b"\x00" * 30
            + b"2024" + b"\x00" * 30 + b"\xff"
        )
        assert audio_tags_payload(frame + v1) == (
            "id3v1", "Song", "Artist", None
        )
        # v2 tag with NO known frames falls through to the v1 block
        empty_v2 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 0])
        assert audio_tags_payload(empty_v2 + frame + v1) == (
            "id3v1", "Song", "Artist", None
        )
        # unsynchronised v2 tag that is ALL padding (r18: the flag is
        # now reversed and the frames read — an empty walk still
        # falls through to the v1 block)
        unsync = b"ID3\x03\x00\x80" + bytes([0, 0, 0, 10]) + b"\x00" * 10
        assert audio_tags_payload(unsync + frame + v1) == (
            "id3v1", "Song", "Artist", None
        )
        assert audio_tags_payload(unsync + frame) is None
        # v2.3 with utf-16 (BOM) and utf-16-be encodings
        t16 = "Résumé 曲".encode("utf-16")  # with BOM
        b1 = b"\x01" + t16
        a16 = "アーティスト".encode("utf-16-be")
        b2 = b"\x02" + a16
        frames = (
            b"TIT2" + len(b1).to_bytes(4, "big") + b"\x00\x00" + b1
            + b"TPE1" + len(b2).to_bytes(4, "big") + b"\x00\x00" + b2
        )
        n = len(frames)
        tag = b"ID3\x03\x00\x00" + bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F,
             n & 0x7F]
        ) + frames
        got = audio_tags_payload(tag)
        assert got == ("id3", "Résumé 曲", "アーティスト", None)

    def test_spark_operator_kinds(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_tags

        df = spark.createDataFrame(
            [
                (0, bytearray(entry._audio_tags_fixture(0))),
                (7, bytearray(entry._audio_tags_fixture(7))),
                (13, bytearray(entry._audio_tags_fixture(13))),
                (11, bytearray(entry._audio_tags_fixture(11))),
                (99, None),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in audio_tags(df).collect()}
        assert got[0].kind == "riff" and got[0].title == "t0"
        assert got[7].kind == "ogg" and got[7].album == "b3"  # r18
        # did=13 is the v2.3 tag-unsync slot: recovery through the
        # Spark operator, not just the payload function
        assert got[13].kind == "id3" and got[13].album == "b1"
        assert got[11].kind == "none" and got[11].title is None
        assert got[99].kind == "null"

    def test_malformed_never_raises(self):
        import numpy as np

        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        rng = np.random.RandomState(13)
        for did in (0, 2, 3, 7):
            p = entry._audio_tags_fixture(did)
            for k in range(0, len(p), 7):
                audio_tags_payload(p[:k])
            for _ in range(40):
                b = bytearray(p)
                b[rng.randint(0, len(b))] = rng.randint(0, 256)
                audio_tags_payload(bytes(b))


class TestAudioFingerprint:
    """audio_fingerprint (r17): energy-contour bits, invariances,
    honest fallbacks."""

    @staticmethod
    def _wav(samples, rate=8000):
        import struct

        data = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        chunks = (
            b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return (
            b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks
        )

    def test_contour_bits_and_invariance(self):
        from lotad_spark.pipeline.multimodal import (
            audio_fingerprint_payload,
        )

        # strictly growing energy contour → all 32 bits set
        grow = [i * 9 for i in range(66)]
        fp = audio_fingerprint_payload(self._wav(grow))
        assert fp == (1 << 32) - 1
        # constant → no bits
        assert audio_fingerprint_payload(self._wav([100] * 66)) == 0
        # volume scaling preserves the contour (energies scale
        # uniformly, comparisons unchanged)
        # doubling is exact in integers; halving could flip ties
        mixed = [((i * 37) % 200) - 100 for i in range(99)]
        doubled = [s * 2 for s in mixed]
        assert audio_fingerprint_payload(
            self._wav(mixed)
        ) == audio_fingerprint_payload(self._wav(doubled))
        # non-audio: None
        assert audio_fingerprint_payload(b"junk") is None

    def test_spark_kinds(self, spark):
        from lotad_spark.pipeline.multimodal import audio_fingerprint

        df = spark.createDataFrame(
            [
                (1, bytearray(self._wav([i for i in range(66)]))),
                (2, bytearray(b"nope")),
                (3, None),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in audio_fingerprint(df).collect()}
        assert got[1].kind == "pcm" and got[1].fp is not None
        assert got[2].kind == "bytes" and got[2].fp is None
        assert got[3].kind == "null"


class TestVideoTags:
    """video_tags (r17): MP4 ilst items, UTF-8-only rule, non-ISO and
    empty-ilst 'none' paths, robustness."""

    def test_fixture_matrix(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import mp4_tags_payload

        for did in range(80):
            if did % 7 != 6 and did % 11 == 5:
                continue  # r18: the Matroska slot, covered below
            got = mp4_tags_payload(entry._video_tags_fixture(did))
            if did % 7 == 6 or (
                did % 5 == 0 and did % 3 == 1 and did % 4 == 2
            ):
                assert got is None, did
                continue
            enc = None if did % 5 == 0 else f"enc-{did % 6}"
            title = None if did % 3 == 1 else f"vt{did % 3}"
            artist = None if did % 4 == 2 else f"va{did % 4}"
            assert got == (enc, title, artist), did

    def test_fixture_matroska_slot(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import _mkv_parse

        for did in (5, 16, 27, 49, 60, 71):
            if did % 7 == 6:
                continue
            assert did % 11 == 5
            got = _mkv_parse(entry._video_tags_fixture(did))
            assert got is not None, did
            want_dt = "webm" if did % 2 == 0 else "matroska"
            assert got["doctype"] == want_dt, did
            enc = got["writing_app"] or got["muxing_app"]
            if did % 5 == 3:
                assert enc == f"mux-{did % 7}", did
            else:
                assert enc == f"wa-{did % 5}", did

    def test_spark_kinds_and_stats_coexist(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import (
            video_stats,
            video_tags,
        )

        df = spark.createDataFrame(
            [
                (2, bytearray(entry._video_tags_fixture(2))),
                (6, bytearray(entry._video_tags_fixture(6))),  # AVI
                (9, None),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in video_tags(df).collect()}
        assert got[2].kind == "mp4" and got[2].encoder == "enc-2"
        assert got[6].kind == "none"
        assert got[9].kind == "null"
        # the spliced udta must not break the stats box walk
        stats = {r.media_id: r for r in video_stats(df).collect()}
        assert stats[2].kind == "mp4" and stats[2].width == 2 % 3 + 2

    def test_malformed_never_raises(self):
        import numpy as np

        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import mp4_tags_payload

        rng = np.random.RandomState(17)
        p = entry._video_tags_fixture(2)
        for k in range(0, len(p), 11):
            mp4_tags_payload(p[:k])
        for _ in range(50):
            b = bytearray(p)
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
            mp4_tags_payload(bytes(b))


class TestId3EdgeForms:
    """r17 self-review fixes: extended headers, per-frame
    compression/encryption flags, v2.2 compressed tags, v2.4 footer."""

    @staticmethod
    def _ss(n):
        return bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F,
             n & 0x7F]
        )

    def test_extended_headers_skipped(self):
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        body = b"\x00Title X"
        frame = b"TIT2" + len(body).to_bytes(4, "big") + b"\x00\x00" + body
        # v2.3: ext size excludes its own 4 bytes
        frames = (6).to_bytes(4, "big") + b"\x00" * 6 + frame
        tag = b"ID3\x03\x00\x40" + self._ss(len(frames)) + frames
        assert audio_tags_payload(tag) == ("id3", "Title X", None, None)
        # v2.4: syncsafe ext size includes itself
        frame4 = b"TIT2" + self._ss(len(body)) + b"\x00\x00" + body
        frames4 = self._ss(10) + b"\x00" * 6 + frame4
        tag4 = b"ID3\x04\x00\x40" + self._ss(len(frames4)) + frames4
        assert audio_tags_payload(tag4) == ("id3", "Title X", None, None)

    def test_transformed_frames_skipped(self):
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        body = b"\x00Title X"
        # v2.3 compressed frame: decoding its body as text would be
        # garbage — must yield NOTHING, not wrong text
        cf = b"TIT2" + len(body).to_bytes(4, "big") + b"\x00\x80" + body
        tag = b"ID3\x03\x00\x00" + self._ss(len(cf)) + cf
        assert audio_tags_payload(tag) is None
        # v2.4 encrypted frame likewise
        ef = b"TIT2" + self._ss(len(body)) + b"\x00\x04" + body
        tag4 = b"ID3\x04\x00\x00" + self._ss(len(ef)) + ef
        assert audio_tags_payload(tag4) is None
        # v2.2 whole-tag compression flag: unreadable by design
        c22 = b"ID3\x02\x00\x40" + self._ss(8) + b"\x00" * 8
        assert audio_tags_payload(c22) is None

    def test_v24_footer_skipped_by_mp3_scan(self):
        from lotad_spark.pipeline.multimodal import _mp3_scan

        fr = bytes([0xFF, 0xFB, 0x98, 0xC0]) + b"\x00" * 572
        tag = (
            b"ID3\x04\x00\x10" + self._ss(4) + b"\x00" * 4
            + b"3DI\x04\x00\x10" + self._ss(4)
        )
        assert _mp3_scan(tag + fr) == (32000, 1, 1152, 36)


class TestWavId3v1Fallback:
    def test_wav_with_trailing_tag_block(self):
        """r17 review fix: a WAV with no LIST-INFO fields but a
        trailing ID3v1 block (real rippers emit this) takes the
        documented v1 fallback instead of returning nothing."""
        import struct

        from lotad_spark.pipeline.multimodal import audio_tags_payload

        data = struct.pack("<4h", 1, 2, 3, 4)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        chunks = (
            b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        v1 = (
            b"TAG" + b"WavSong".ljust(30, b"\x00") + b"\x00" * 60
            + b"2024" + b"\x00" * 30 + b"\xff"
        )
        assert audio_tags_payload(wav + v1) == (
            "id3v1", "WavSong", None, None
        )
        assert audio_tags_payload(wav) is None


class TestPixelBound:
    """r17: every per-format pixel decoder refuses header-declared
    dimensions past _PIXEL_BOUND before allocating, and the PNG IDAT
    inflate is capped at the scanline budget for the declared dims."""

    def test_huge_dims_refused_cheaply(self):
        import struct
        import time
        import zlib

        from lotad_spark.pipeline.multimodal import decode_pixels

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data))
            )

        # PNG declaring 100000x100000 (10 G pixels)
        ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + chunk(b"IEND", b"")
        )
        t0 = time.perf_counter()
        assert decode_pixels(png) is None
        assert time.perf_counter() - t0 < 2.0
        # TIFF: II header, IFD with width/height tags at 65535x65535
        def tiff(w, h):
            entries = [
                (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8),
                (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
                (273, 4, 1, 200), (279, 4, 1, 8),
            ]
            ifd = struct.pack("<H", len(entries)) + b"".join(
                struct.pack("<HHI", t, ty, n) + struct.pack("<I", v)
                for t, ty, n, v in entries
            ) + b"\x00" * 4
            return b"II*\x00" + struct.pack("<I", 8) + ifd + b"\x00" * 300
        assert decode_pixels(tiff(65535, 65535)) is None

    def test_png_idat_bomb_capped(self):
        import struct
        import zlib

        from lotad_spark.pipeline.multimodal import decode_pixels

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data))
            )

        # 1x1 gray PNG whose IDAT inflates to 8 MB: the scanline
        # budget for 1x1 is a few bytes — refuse without materializing
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        bomb = zlib.compress(b"\x00" * (8 << 20), 9)
        png = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
        )
        assert decode_pixels(png) is None
        # a VALID 1x1 still decodes (raw = filter byte + 1 gray byte)
        good = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x7f"))
            + chunk(b"IEND", b"")
        )
        got = decode_pixels(good)
        assert got is not None and got[0] == 1 and got[1] == 1


class TestSvgFace:
    """_parse_svg (r17): root-tag dims, viewBox fallback, unit
    honesty, tier contract."""

    def test_parser_forms(self):
        from lotad_spark.pipeline.multimodal import _parse_svg

        assert _parse_svg(b'<svg width="10" height="5">') == (10, 5, "SVG")
        assert _parse_svg(
            b'<?xml version="1.0"?>\n<!-- c -->\n'
            b'<svg\n  viewBox="0 0 300 150">'
        ) == (300, 150, "SVG")
        # px suffix and floats floor; width + viewBox mix
        assert _parse_svg(b'<svg width="3.7px" height="2.2">') == (3, 2, "SVG")
        assert _parse_svg(
            b'<svg width="8" viewBox="0 0 20 10">'
        ) == (8, 10, "SVG")
        # honest Nones: %/em units, stroke-width red herring, non-xml
        assert _parse_svg(b'<svg width="50%" height="20">') is None
        assert _parse_svg(b'<svg height="20" stroke-width="9">') is None
        assert _parse_svg(b"plain bytes") is None

    def test_metadata_and_tier(self, spark):
        from lotad_spark.pipeline.multimodal import (
            classify_decode_tier,
            decode_pixels,
            with_decoded_metadata,
        )

        svg = b'<svg xmlns="http://www.w3.org/2000/svg" width="7" height="3"/>'
        assert classify_decode_tier(svg) == ("svg", "header_only")
        assert decode_pixels(svg) is None  # no rasterizer: honest
        df = spark.createDataFrame(
            [(1, bytearray(svg))], "media_id bigint, content binary"
        )
        r = with_decoded_metadata(df).collect()[0]
        assert (r.width, r.height, r.mode) == (7, 3, "SVG")


class TestSvgRootSniffR18:
    """r18 ADVICE: SVG provenance gates on the prolog-aware root-tag
    sniff, not parseable dims; HTML with inline SVG never takes the
    SVG path."""

    def test_percent_dims_still_yield_provenance(self):
        from lotad_spark.pipeline.multimodal import (
            _parse_svg,
            image_provenance,
        )

        svg = (
            b'<?xml version="1.0"?>\n<!-- Generator: tool/9 -->\n'
            b'<svg xmlns="http://www.w3.org/2000/svg" width="100%" '
            b"height=\"100%\"><desc>hand-drawn</desc></svg>"
        )
        assert _parse_svg(svg) is None  # dims honestly unresolvable
        assert image_provenance(svg) == ("tool/9", "hand-drawn")

    def test_no_dims_at_all_still_yield_provenance(self):
        from lotad_spark.pipeline.multimodal import image_provenance

        svg = (
            b'<svg xmlns="http://www.w3.org/2000/svg" '
            b'inkscape:version="1.2"><path d="M0 0"/></svg>'
        )
        assert image_provenance(svg) == ("Inkscape 1.2", None)

    def test_html_with_inline_svg_is_not_svg(self):
        from lotad_spark.pipeline.multimodal import (
            _parse_svg,
            _svg_root_tag,
            image_provenance,
        )

        html = (
            b"<!DOCTYPE html>\n<!-- Generator: fake-cms -->\n"
            b"<html><body><p>hi</p>"
            b'<svg width="10" height="5"><rect/></svg>'
            b"</body></html>"
        )
        assert _svg_root_tag(html) is None
        assert _parse_svg(html) is None
        # the Generator comment belongs to the HTML, not an image
        assert image_provenance(html) is None

    def test_prolog_forms(self):
        from lotad_spark.pipeline.multimodal import _svg_root_tag

        # BOM + declaration + doctype with internal subset + comment
        svg = (
            b"\xef\xbb\xbf<?xml version='1.0'?>\n"
            b"<!DOCTYPE svg [ <!ENTITY e \"v\"> ]>\n"
            b"<!-- c -->\n<svg width='4' height='2'>"
        )
        tag = _svg_root_tag(svg)
        assert tag is not None and tag.startswith("<svg")
        # unterminated comment / truncated root tag: honest None
        assert _svg_root_tag(b"<!-- open forever <svg w") is None
        assert _svg_root_tag(b"<svg width='4' height='2'") is None


def _ebml_el(eid: int, body: bytes) -> bytes:
    """Minimal EBML writer for fixtures: marker-kept ID bytes + a
    1-or-2-byte size vint + body."""
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(body)
    size = bytes([0x80 | n]) if n < 0x7F else (0x4000 | n).to_bytes(2, "big")
    return idb + size + body


def _webm_fixture(
    *,
    doctype: bytes = b"webm",
    duration: float | None = 2500.0,
    scale: int | None = 1_000_000,
    title: bytes | None = b"clip title",
    writing_app: bytes | None = b"muxtool 7.1",
    width: int = 640,
    height: int = 360,
    default_duration: int | None = 40_000_000,
    tags_after_cluster: bool = True,
) -> bytes:
    import struct

    from lotad_spark.pipeline import multimodal as M

    header = _ebml_el(
        int.from_bytes(M._EBML_MAGIC, "big"),
        _ebml_el(M._EBML_ID_DOCTYPE, doctype),
    )
    info = b""
    if scale is not None:
        info += _ebml_el(M._EBML_ID_TIMESTAMP_SCALE, scale.to_bytes(4, "big"))
    if duration is not None:
        info += _ebml_el(M._EBML_ID_DURATION, struct.pack(">d", duration))
    if title is not None:
        info += _ebml_el(M._EBML_ID_TITLE, title)
    if writing_app is not None:
        info += _ebml_el(M._EBML_ID_WRITING_APP, writing_app)
    info += _ebml_el(M._EBML_ID_MUXING_APP, b"libebml-ish")
    video = _ebml_el(
        M._EBML_ID_VIDEO,
        _ebml_el(M._EBML_ID_PIXEL_WIDTH, width.to_bytes(2, "big"))
        + _ebml_el(M._EBML_ID_PIXEL_HEIGHT, height.to_bytes(2, "big")),
    )
    ventry = _ebml_el(M._EBML_ID_TRACK_TYPE, b"\x01") + video
    if default_duration is not None:
        ventry += _ebml_el(
            M._EBML_ID_DEFAULT_DURATION, default_duration.to_bytes(4, "big")
        )
    # an audio track FIRST: dims must come from the video track
    aentry = _ebml_el(M._EBML_ID_TRACK_TYPE, b"\x02")
    tracks = _ebml_el(
        M._EBML_ID_TRACKS,
        _ebml_el(M._EBML_ID_TRACK_ENTRY, aentry)
        + _ebml_el(M._EBML_ID_TRACK_ENTRY, ventry),
    )
    cluster = _ebml_el(M._EBML_ID_CLUSTER, b"\xde\xad" * 40)
    tags = _ebml_el(
        M._EBML_ID_TAGS,
        _ebml_el(
            M._EBML_ID_TAG,
            _ebml_el(
                M._EBML_ID_SIMPLE_TAG,
                _ebml_el(M._EBML_ID_TAG_NAME, b"ARTIST")
                + _ebml_el(M._EBML_ID_TAG_STRING, b"some band"),
            ),
        ),
    )
    seg = _ebml_el(M._EBML_ID_INFO, info) + tracks
    seg += cluster + tags if tags_after_cluster else tags + cluster
    return header + _ebml_el(M._EBML_ID_SEGMENT, seg)


class TestMkvFace:
    """_mkv_parse (r18): EBML varint walk — Segment Info duration,
    video-track dims, DefaultDuration, tags AFTER a skipped cluster,
    doctype routing, honest NULLs, malformed robustness."""

    def test_full_webm(self):
        from lotad_spark.pipeline.multimodal import _mkv_parse

        got = _mkv_parse(_webm_fixture())
        assert got is not None
        assert got["doctype"] == "webm"
        assert (got["width"], got["height"]) == (640, 360)
        assert got["duration_ms"] == 2500
        assert got["usec_per_frame"] == 40_000
        assert got["title"] == "clip title"
        assert got["writing_app"] == "muxtool 7.1"
        # tags placed AFTER the cluster still parse: the walk steps
        # over sized clusters by arithmetic, it does not stop
        assert got["tags"].get("ARTIST") == "some band"

    def test_matroska_doctype_and_defaults(self):
        from lotad_spark.pipeline.multimodal import _mkv_parse

        got = _mkv_parse(
            _webm_fixture(doctype=b"matroska", scale=None,
                          duration=1000.0)
        )
        # TimestampScale absent -> spec default 1,000,000 ns
        assert got["doctype"] == "matroska"
        assert got["duration_ms"] == 1000
        # foreign doctype is not claimed
        assert _mkv_parse(_webm_fixture(doctype=b"notvideo")) is None

    def test_honest_nulls(self):
        from lotad_spark.pipeline.multimodal import _mkv_parse

        got = _mkv_parse(
            _webm_fixture(duration=None, default_duration=None,
                          title=None, writing_app=None)
        )
        assert got["duration_ms"] is None
        assert got["usec_per_frame"] is None
        assert got["title"] is None
        assert got["writing_app"] is None
        assert got["muxing_app"] == "libebml-ish"

    def test_unknown_size_segment(self):
        from lotad_spark.pipeline import multimodal as M

        fix = _webm_fixture()
        # rebuild with an unknown-size segment: id + 0xFF vint, body
        # runs to end of payload
        seg_id = M._EBML_ID_SEGMENT.to_bytes(4, "big")
        p = fix.find(seg_id)
        body_start = p + 4 + 2  # fixture used the 2-byte size form
        rebuilt = fix[:p] + seg_id + b"\xff" + fix[body_start:]
        got = M._mkv_parse(rebuilt)
        assert got is not None and got["width"] == 640

    def test_malformed_never_raises(self):
        import numpy as np

        from lotad_spark.pipeline.multimodal import _mkv_parse

        fix = _webm_fixture()
        for k in range(0, len(fix), 7):
            _mkv_parse(fix[:k])
        rng = np.random.RandomState(11)
        for _ in range(60):
            b = bytearray(fix)
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
            _mkv_parse(bytes(b))
        assert _mkv_parse(b"") is None
        assert _mkv_parse(b"\x1aE\xdf") is None

    def test_video_stats_and_tags_rows(self, spark):
        from lotad_spark.pipeline.multimodal import (
            video_stats,
            video_tags,
        )

        df = spark.createDataFrame(
            [
                (1, bytearray(_webm_fixture())),
                (2, bytearray(_webm_fixture(doctype=b"matroska"))),
                (3, bytearray(b"not video")),
            ],
            "media_id bigint, content binary",
        )
        stats = {r.media_id: r for r in video_stats(df).collect()}
        assert stats[1].kind == "webm"
        assert (stats[1].width, stats[1].height) == (640, 360)
        assert stats[1].duration_ms == 2500
        assert stats[1].n_frames is None  # clusters never read
        assert stats[2].kind == "mkv"
        assert stats[3].kind == "bytes"
        tags = {r.media_id: r for r in video_tags(df).collect()}
        assert tags[1].kind == "webm"
        assert tags[1].encoder == "muxtool 7.1"
        assert tags[1].title == "clip title"
        assert tags[1].artist == "some band"
        assert tags[3].kind == "none"


class TestAudioTagsR18:
    """r18: ID3v2 unsync RECOVERY (tag-level v2.3, per-frame v2.4 with
    data-length indicator) and Vorbis comments (FLAC block, OGG
    Vorbis/Opus packet with page-spanning lacing)."""

    @staticmethod
    def _syncsafe(n):
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])

    def test_v23_tag_level_unsync_recovered(self):
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        body = b"\x01" + "Ünsync Title".encode("utf-16")  # BOM = FF FE
        frames = b"TIT2" + len(body).to_bytes(4, "big") + b"\x00\x00" + body
        assert b"\xff" in frames
        stored = frames.replace(b"\xff", b"\xff\x00")  # writer's last step
        tag = (
            b"ID3\x03\x00\x80" + self._syncsafe(len(stored)) + stored
        )
        assert audio_tags_payload(tag) == (
            "id3", "Ünsync Title", None, None
        )

    def test_v24_frame_unsync_and_dli_recovered(self):
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        body = b"\x01" + "Deep ♪ Cut".encode("utf-16")
        un = body.replace(b"\xff", b"\xff\x00")
        # title frame: unsync + data-length indicator (flags 0x03)
        stored = self._syncsafe(len(body)) + un
        f1 = b"TIT2" + self._syncsafe(len(stored)) + b"\x00\x03" + stored
        # artist frame: unsync only (flags 0x02)
        abody = b"\x01" + "Band ÿ".encode("utf-16")
        aun = abody.replace(b"\xff", b"\xff\x00")
        f2 = b"TPE1" + self._syncsafe(len(aun)) + b"\x00\x02" + aun
        frames = f1 + f2
        tag = b"ID3\x04\x00\x80" + self._syncsafe(len(frames)) + frames
        assert audio_tags_payload(tag) == (
            "id3", "Deep ♪ Cut", "Band ÿ", None
        )

    def test_v24_encrypted_frame_still_skipped(self):
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        body = b"\x00garbage"
        f = b"TIT2" + self._syncsafe(len(body)) + b"\x00\x04" + body
        tag = b"ID3\x04\x00\x00" + self._syncsafe(len(f)) + f
        assert audio_tags_payload(tag) is None

    def test_flac_and_ogg_fixture_slots(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        got = audio_tags_payload(entry._audio_tags_fixture(12))
        assert got == ("flac", "t3", "a5", None)  # 12%3==0: no album
        got = audio_tags_payload(entry._audio_tags_fixture(7))
        assert got == ("ogg", "t7", "a0", "b3")  # vorbis, spans pages
        got = audio_tags_payload(entry._audio_tags_fixture(17))
        assert got == ("ogg", "t8", "a3", "b1")  # OpusTags form

    def test_vorbis_comment_hostility(self):
        from lotad_spark.pipeline.multimodal import _vorbis_comments

        import struct

        # declared vendor length past the buffer: refuse
        assert _vorbis_comments(struct.pack("<I", 1 << 30)) is None
        # comment count bomb: refuse before any loop
        data = struct.pack("<I", 0) + struct.pack("<I", 1 << 20)
        assert _vorbis_comments(data) is None
        # keyless comment skipped, later valid pair still lands
        c1, c2 = b"nokey", b"TITLE=ok"
        data = (
            struct.pack("<I", 0) + struct.pack("<I", 2)
            + struct.pack("<I", len(c1)) + c1
            + struct.pack("<I", len(c2)) + c2
        )
        assert _vorbis_comments(data) == {"TITLE": "ok"}

    def test_unsync_fixture_slots_recovered(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_tags_payload

        # did=3: v2.3 tag-level unsync, utf-16 BOMs rewritten
        p = entry._audio_tags_fixture(3)
        assert p[5] == 0x80
        assert audio_tags_payload(p) == ("id3", "t3", "a3", None)
        # did=15: v2.4 per-frame unsync + DLI on the title frame
        # (did%20==15 forces did%5==0, so artist is honestly absent)
        p = entry._audio_tags_fixture(15)
        assert p[3] == 4
        assert audio_tags_payload(p) == ("id3", "t6", None, None)
        # did=35: the unsync-only (no-DLI) album frame also lands
        p = entry._audio_tags_fixture(35)
        assert audio_tags_payload(p) == ("id3", "t8", None, "b3")


class TestAudioHeaderFacesR18:
    """_flac_stream_info / _ogg_stream_info (r18): STREAMINFO bit
    unpack, granule-position length, Opus pre-skip, serial filter,
    honest NULLs, malformed robustness."""

    def test_flac_streaminfo(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import _flac_stream_info

        got = _flac_stream_info(entry._flac_stats_payload(9))
        # did=9: sr 8000*(9%3+1)=8000, ch 9%2+1=2, total (9%50+1)*1000
        assert got == (8000, 2, 10000, 10000 * 1000 // 8000)
        # zero total samples (streamed flac): honest NULL length
        sr, ch = 44100, 2
        packed = (sr << 44) | ((ch - 1) << 41) | (15 << 36) | 0
        si = b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16
        p = b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + si
        assert _flac_stream_info(p) == (44100, 2, None, None)
        assert _flac_stream_info(b"fLaC") is None
        assert _flac_stream_info(b"not flac") is None

    def test_ogg_vorbis_and_opus(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import _ogg_stream_info

        # did=1: vorbis, sr 8000*(1%4+1)=16000, ch 2, nf (1%40+1)*500
        assert _ogg_stream_info(entry._ogg_stats_payload(1)) == (
            16000, 2, 1000, 1000 * 1000 // 16000
        )
        # did=7: opus — 48 kHz granules, 312 pre-skip subtracted
        nf = (7 % 40 + 1) * 500
        assert _ogg_stream_info(entry._ogg_stats_payload(7)) == (
            48000, 2, nf, nf * 1000 // 48000
        )

    def test_ogg_torn_final_page_keeps_prior_granule(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import _ogg_stream_info

        p = entry._ogg_stats_payload(1)
        # tear inside the last page's payload: the walk must not
        # invent a length from the torn page
        got = _ogg_stream_info(p[:-10])
        assert got is not None and got[0] == 16000
        assert got[2] is None  # only granule-0 ID page intact

    def test_audio_stats_kinds(self, spark):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import audio_stats

        df = spark.createDataFrame(
            [
                (3, bytearray(entry._flac_stats_payload(3))),
                (7, bytearray(entry._ogg_stats_payload(7))),
                (9, bytearray(b"junk")),
            ],
            "media_id bigint, content binary",
        )
        got = {r.media_id: r for r in audio_stats(df).collect()}
        assert got[3].kind == "flac" and got[3].peak_abs is None
        assert got[3].sample_rate == 8000 and got[3].n_channels == 2
        assert got[7].kind == "ogg" and got[7].sample_rate == 48000
        assert got[9].kind == "bytes"

    def test_decode_tier_names_flac_ogg(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import classify_decode_tier

        assert classify_decode_tier(
            entry._flac_stats_payload(3)
        ) == ("flac", "header_only")
        assert classify_decode_tier(
            entry._ogg_stats_payload(1)
        ) == ("ogg", "header_only")

    def test_malformed_never_raises(self):
        import numpy as np

        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import (
            _flac_stream_info,
            _ogg_stream_info,
        )

        rng = np.random.RandomState(17)
        for build in (entry._flac_stats_payload, entry._ogg_stats_payload):
            p = build(13)
            for k in range(0, len(p), 5):
                _flac_stream_info(p[:k]); _ogg_stream_info(p[:k])
            for _ in range(40):
                b = bytearray(p)
                b[rng.randint(0, len(b))] = rng.randint(0, 256)
                _flac_stream_info(bytes(b)); _ogg_stream_info(bytes(b))


class TestXmpProvenanceR18:
    """r18: xmp:CreatorTool as a software carrier — PNG iTXt
    XML:com.adobe.xmp and the JPEG XMP APP1."""

    def test_fixture_xmp_slots(self):
        import __spark_entry__ as entry
        from lotad_spark.pipeline.multimodal import image_provenance

        # did=18: v==0 and did%12==6 → PNG iTXt XMP carrier
        assert 18 % 6 == 0 and 18 % 12 == 6 and 18 % 7 != 3
        sw = f"gen-{18 % 4}/1.{18 % 3}"
        assert image_provenance(entry._provenance_container(18)) == (
            sw, f"c {18 % 11}"
        )
        # did=19: v==1 and did%12==7 → JPEG XMP APP1 carrier
        assert 19 % 6 == 1 and 19 % 12 == 7
        sw = f"gen-{19 % 4}/1.{19 % 3}"
        assert image_provenance(entry._provenance_container(19)) == (
            sw, f"c {19 % 11}"
        )

    def test_creator_tool_forms(self):
        from lotad_spark.pipeline.multimodal import _xmp_creator_tool

        assert _xmp_creator_tool(
            '<rdf:Description xmp:CreatorTool="Adobe Photoshop 25.0"/>'
        ) == "Adobe Photoshop 25.0"
        assert _xmp_creator_tool(
            "<xmp:CreatorTool>GIMP 2.10</xmp:CreatorTool>"
        ) == "GIMP 2.10"
        # legacy xap: prefix
        assert _xmp_creator_tool(
            "<xap:CreatorTool>old tool</xap:CreatorTool>"
        ) == "old tool"
        assert _xmp_creator_tool('xmp:CreatorTool=""') is None
        assert _xmp_creator_tool("<no tool here/>") is None

    def test_exif_software_still_wins_when_both(self):
        """Carrier precedence is first-resolved-wins in chunk order;
        a tEXt Software before the XMP packet keeps its value."""
        import struct
        import zlib

        from lotad_spark.pipeline.multimodal import image_provenance

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        xmp = b'<r xmp:CreatorTool="xmp-tool"/>'
        png = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"tEXt", b"Software\x00text-tool")
            + chunk(
                b"iTXt",
                b"XML:com.adobe.xmp\x00\x00\x00\x00\x00" + xmp,
            )
            + chunk(b"IEND", b"")
        )
        assert image_provenance(png) == ("text-tool", None)
