"""ML loop + multimodal plumbing tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


class TestML:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        from columnar_estimator_sample_spark.ml.train import (
            criteo_shaped_frame,
        )
        df = criteo_shaped_frame(spark, n_rows=3000)
        train = df.filter(F.col("id") % 5 != 0).cache()
        test = df.filter(F.col("id") % 5 == 0).cache()
        return train, test

    def test_criteo_frame_shape(self, spark):
        from columnar_estimator_sample_spark.ml.train import (
            criteo_shaped_frame,
        )
        df = criteo_shaped_frame(spark, n_rows=500)
        cols = set(df.columns)
        assert {"label", "row_hash", "int1", "int1_norm", "cat1"} <= cols
        # label is binary, both classes present
        labels = {r[0] for r in df.select("label").distinct().collect()}
        assert labels == {0.0, 1.0}

    def test_build_features_schema_driven(self, frames):
        from columnar_estimator_sample_spark.ml.train import (
            build_features, measure_buckets)
        train, _ = frames
        out, cols = build_features(train, buckets=measure_buckets(train))
        assert "row_hash" not in out.columns  # dropped (trainer.py:165-168)
        assert all(c.endswith("_norm") or c.endswith("_bucket")
                   for c in cols)
        assert any(c.endswith("_bucket") for c in cols)

    def test_linear_learns_signal(self, frames):
        from columnar_estimator_sample_spark.ml.train import train_linear
        train, test = frames
        res = train_linear(train, test)
        assert res.auc > 0.55, f"AUC {res.auc} — planted signal not learned"

    def test_dnn_learns_signal(self, frames):
        from columnar_estimator_sample_spark.ml.train import train_dnn
        train, test = frames
        res = train_dnn(train, test, max_iter=15)
        assert res.auc > 0.55, f"AUC {res.auc}"

    def test_gbt_learns_signal(self, frames):
        from columnar_estimator_sample_spark.ml.train import train_gbt
        train, test = frames
        res = train_gbt(train, test, max_iter=10)
        assert res.auc > 0.55, f"AUC {res.auc}"


class TestMultimodal:
    def test_media_schema(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.multimodal import (
            documents_as_media,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        media = documents_as_media(table(spark, sf_dir, "documents"))
        assert dict(media.dtypes)["payload"] == "binary"
        types = {r[0] for r in media.select("media_type").distinct().collect()}
        assert types == {"image", "audio", "video"}

    def test_decode_stub_contract(self):
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_stub,
        )
        with pytest.raises(NotImplementedError):
            decode_stub(b"abc", "image")
        feat = decode_stub(b"abcdefgh", "image", fake=True)
        assert len(feat) == 8
        assert abs(sum(feat) - 1.0) < 1e-9

    def test_extract_features_end_to_end(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.multimodal import (
            documents_as_media, extract_features,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        docs = table(spark, sf_dir, "documents")
        media = documents_as_media(docs)
        feats = extract_features(media)
        rows = feats.collect()
        assert len(rows) == docs.count()
        r = rows[0]
        assert r["n_bytes"] > 0 and len(r["feat"]) == 8
        # deterministic: run twice, same checksums
        again = {x["doc_id"]: x["checksum"]
                 for x in extract_features(media).collect()}
        assert all(again[x["doc_id"]] == x["checksum"] for x in rows)

    def test_containers_are_format_valid(self, spark, sf_dir):
        """The Catalyst-built containers must satisfy INDEPENDENT
        parsers: PNG chunk CRCs re-verified with zlib.crc32, WAV read by
        the stdlib `wave` module, JPEG dims by our marker walk — and all
        parsed fields must equal the construction formulas."""
        import io
        import struct
        import wave
        import zlib

        from columnar_estimator_sample_spark.operators.multimodal import (
            documents_as_media_containers, parse_jpeg_dims,
            parse_png_dims, parse_wav_meta,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        docs = table(spark, sf_dir, "documents").filter("doc_id < 30")
        rows = documents_as_media_containers(docs).collect()
        assert {r["media_type"] for r in rows} == {"image", "audio",
                                                   "video"}
        for r in rows:
            p, did = bytes(r["payload"]), r["doc_id"]
            if r["media_type"] == "image":
                w, h = parse_png_dims(p)
                assert (w, h) == (did % 640 + 32, did % 480 + 32)
                # independent CRC check of every chunk
                pos = 8
                while pos < len(p):
                    (length,) = struct.unpack_from(">I", p, pos)
                    body = p[pos + 4:pos + 8 + length]
                    (crc,) = struct.unpack_from(">I", p,
                                                pos + 8 + length)
                    assert zlib.crc32(body) == crc, f"chunk@{pos}"
                    pos += 12 + length
            elif r["media_type"] == "video":
                w, h = parse_jpeg_dims(p)
                assert (w, h) == (did % 640 + 32, did % 480 + 32)
                assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
            else:
                rate, dur = parse_wav_meta(p)
                assert rate == did % 8 * 1000 + 8000
                # stdlib wave as the independent reference parser
                wf = wave.open(io.BytesIO(p))
                assert wf.getframerate() == rate
                assert wf.getnchannels() == 1
                assert wf.getsampwidth() == 2
                assert dur == (1000 * wf.getnframes()) // rate

    def test_header_parsers_reject_garbage(self):
        from columnar_estimator_sample_spark.operators.multimodal import (
            parse_jpeg_dims, parse_png_dims, parse_wav_meta,
        )
        for fn in (parse_png_dims, parse_jpeg_dims, parse_wav_meta):
            with pytest.raises(ValueError):
                fn(b"not a media file at all........")

    def test_frame_sample_plan(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.multimodal import (
            documents_as_media, frame_sample_plan,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        media = documents_as_media(table(spark, sf_dir, "documents"))
        frames = frame_sample_plan(media)
        n_videos = media.filter(F.col("media_type") == "video").count()
        assert frames.select("doc_id").distinct().count() == n_videos
        assert frames.count() > n_videos  # fan-out happened


class TestCrossVal:
    def test_kfold_auc_above_chance_every_fold(self, spark):
        """Planted-signal frame: every fold must learn it (AUC > 0.6),
        and fold assignment must partition the rows exactly."""
        from columnar_estimator_sample_spark.ml.train import (
            criteo_shaped_frame, crossval_auc)
        df = criteo_shaped_frame(spark, n_rows=3000)
        results = crossval_auc(df, k=3, max_iter=10)
        assert len(results) == 3
        for r in results:
            assert r.auc > 0.6
            assert r.n_features > 0


class TestRealCodecs:
    """Round-5 real pixel/sample codecs: PNG (zlib + all five scanline
    filters + CRCs) and WAV PCM, stdlib-only."""

    def test_png_roundtrip_exercises_every_filter(self):
        import numpy as np
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_png_gray, encode_png_gray,
        )
        rng_img = (np.arange(12 * 17, dtype=np.int64)
                   .reshape(12, 17) * 31 % 256).astype(np.uint8)
        # >= 10 rows so filter types 0-4 each appear at least twice
        payload = encode_png_gray(rng_img)
        assert (decode_png_gray(payload) == rng_img).all()

    def test_png_edge_shapes(self):
        import numpy as np
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_png_gray, encode_png_gray,
        )
        for shape in [(1, 1), (1, 8), (8, 1), (5, 5)]:
            img = (np.arange(shape[0] * shape[1])
                   .reshape(shape) * 7 % 256).astype(np.uint8)
            assert (decode_png_gray(encode_png_gray(img)) == img).all()

    def test_png_crc_corruption_raises(self):
        import numpy as np
        import pytest
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_png_gray, encode_png_gray,
        )
        img = (np.arange(30).reshape(5, 6) % 256).astype(np.uint8)
        payload = bytearray(encode_png_gray(img))
        payload[40] ^= 0xFF  # flip a byte inside a chunk body
        with pytest.raises(ValueError):
            decode_png_gray(bytes(payload))

    def test_png_header_parser_agrees_with_decoder(self):
        import numpy as np
        from columnar_estimator_sample_spark.operators.multimodal import (
            encode_png_gray, parse_png_dims,
        )
        img = (np.zeros((9, 13))).astype(np.uint8)
        assert parse_png_dims(encode_png_gray(img)) == (13, 9)

    def test_wav_roundtrip_and_meta(self):
        import numpy as np
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_wav_pcm16, encode_wav_pcm16, parse_wav_meta,
        )
        samples = np.array([0, 1, -1, 32767, -32768, 1234], dtype="<i2")
        payload = encode_wav_pcm16(samples, 8000)
        rate, got = decode_wav_pcm16(payload)
        assert rate == 8000 and (got == samples).all()
        # the header parser sees the same file
        assert parse_wav_meta(payload) == (8000, 1000 * 6 // 8000)

    def test_wav_rejects_stereo(self):
        import struct
        import numpy as np
        import pytest
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_wav_pcm16, encode_wav_pcm16,
        )
        payload = bytearray(encode_wav_pcm16(
            np.array([1, 2], dtype="<i2"), 8000))
        # channels field lives at offset 12+8+2 within the fmt chunk
        struct.pack_into("<H", payload, 22, 2)
        with pytest.raises(ValueError):
            decode_wav_pcm16(bytes(payload))

    def test_jpeg_roundtrip_blocky_is_lossless(self):
        # block-constant images + unit quant tables give DC-only integer
        # coefficients, so the lossy format round-trips exactly here
        import numpy as np
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_jpeg_gray, encode_jpeg_gray, synth_blocky_image,
        )
        for doc_id in [2, 5, 8, 11, 23]:
            img = synth_blocky_image(doc_id)
            assert (decode_jpeg_gray(encode_jpeg_gray(img)) == img).all()

    def test_jpeg_roundtrip_arbitrary_content_near_exact(self):
        import numpy as np
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_jpeg_gray, encode_jpeg_gray,
        )
        rng = np.random.default_rng(7)
        for shape in [(8, 8), (24, 24), (64, 48), (8, 128)]:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            dec = decode_jpeg_gray(encode_jpeg_gray(img))
            assert dec.shape == img.shape
            # unit quant: only IDCT float rounding, never > 1 LSB
            assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1

    def test_jpeg_corruption_raises(self):
        import numpy as np
        import pytest
        from columnar_estimator_sample_spark.operators.multimodal import (
            decode_jpeg_gray, encode_jpeg_gray, synth_blocky_image,
        )
        payload = bytearray(encode_jpeg_gray(synth_blocky_image(2)))
        with pytest.raises(ValueError):
            decode_jpeg_gray(b"\x00\x00" + bytes(payload[2:]))  # no SOI
        # corrupt the SOF0 sampling byte -> unsupported-format error
        sof = payload.find(b"\xff\xc0")
        assert sof >= 0
        bad = bytearray(payload)
        bad[sof + 2 + 2 + 7] = 0x22  # H/V sampling 2x2
        with pytest.raises(ValueError):
            decode_jpeg_gray(bytes(bad))

    def test_synth_formulas_match_oracle_closed_form(self):
        from columnar_estimator_sample_spark.operators.multimodal import (
            synth_audio, synth_image,
        )
        img = synth_image(42)
        assert img.shape == (42 % 12 + 4, 42 % 16 + 4)
        assert img[2, 3] == (3 * 3 + 7 * 2 + 42) % 256
        rate, s = synth_audio(43)
        assert rate == 43 % 8 * 1000 + 8000 and len(s) == 43 % 50 + 10
        assert s[5] == ((31 * 43 + 17 * 5) % 65536) - 32768

    def test_pixel_stats_pipeline_spark(self, spark, sf_dir):
        """The end-to-end encode -> shuffle -> decode pipeline on the
        fixture (oracle-exactness is covered by the differential gate;
        this pins the Spark plumbing and schema)."""
        from columnar_estimator_sample_spark.registry import queries
        rows = {r["media_type"]: r for r in
                queries()["q_media_pixel_stats"](spark, sf_dir).collect()}
        assert set(rows) == {"image", "audio"}
        assert rows["image"]["max_value"] <= 255
        assert rows["audio"]["total_units"] > 0


class TestMediaNearDup:
    def test_map_distinct_blobs_once_per_distinct(self, spark):
        """Content-addressing contract: the decode kernel runs exactly
        once per DISTINCT payload (counted with an accumulator), and the
        re-expansion returns every doc_id with its payload's value —
        duplicated blobs share one kernel invocation."""
        from pyspark.sql import functions as F

        from columnar_estimator_sample_spark.operators.multimodal import (
            map_distinct_blobs,
        )
        acc = spark.sparkContext.accumulator(0)
        docs = spark.range(30).select(
            F.col("id").alias("doc_id"),
            F.lit("image").alias("media_type"),
            # 30 docs, 5 distinct payloads
            F.concat(F.lit("blob-"), (F.col("id") % 5).cast("string"))
            .cast("binary").alias("payload"))

        def kernel(p: bytes, _mt) -> dict:
            acc.add(1)
            return {"v": int(p[-1])}

        out = map_distinct_blobs(docs, kernel, "v long").collect()
        assert len(out) == 30
        got = {r["doc_id"]: r["v"] for r in out}
        assert all(got[d] == ord(str(d % 5)) for d in range(30))
        assert acc.value == 5

    def test_resize_cells_exact_partition(self):
        """resize_cells is an exact integer partition: cell sums add up
        to the image sum, a constant image distributes by cell pixel
        counts, and an evenly-dividing grid gives exact block sums."""
        import numpy as np

        from columnar_estimator_sample_spark.operators.multimodal import (
            resize_cells,
        )
        rng = np.random.RandomState(3)
        img = rng.randint(0, 256, size=(10, 14)).astype(np.uint8)
        cells = resize_cells(img)
        assert cells.sum() == img.astype(np.int64).sum()
        # evenly dividing 8x8 -> each 2x2 block sums exactly
        img2 = np.arange(64, dtype=np.int64).reshape(8, 8)
        cells2 = resize_cells(img2.astype(np.uint8)).reshape(4, 4)
        expect = img2.reshape(4, 2, 4, 2).sum(axis=(1, 3))
        assert (cells2 == expect).all()

    def test_dhash_brightness_invariance(self):
        """dHash compares neighbor cells, so a constant brightness shift
        that doesn't wrap mod 256 leaves every bit unchanged — the
        property that makes it a NEAR-dup key where md5 is useless.
        (Sum-based cells are shift-invariant when the grid divides the
        image evenly — 72x64 gives every cell exactly 8x8 pixels.)"""
        import numpy as np

        from columnar_estimator_sample_spark.operators.multimodal import (
            dhash_gray,
        )
        rng = np.random.RandomState(7)
        img = rng.randint(0, 200, size=(64, 72)).astype(np.uint8)
        assert dhash_gray(img) == dhash_gray(img + 40)

    def test_dhash_locality_and_determinism(self):
        import numpy as np

        from columnar_estimator_sample_spark.operators.multimodal import (
            dhash_gray,
        )
        rng = np.random.RandomState(11)
        img = rng.randint(0, 256, size=(16, 18)).astype(np.uint8)
        hi, lo = dhash_gray(img)
        assert (hi, lo) == dhash_gray(img.copy())
        assert 0 <= hi < 2 ** 32 and 0 <= lo < 2 ** 32
        # flipping one pixel moves at most the 2 bits its cell borders
        tweaked = img.copy()
        tweaked[3, 4] = (int(tweaked[3, 4]) + 128) % 256
        thi, tlo = dhash_gray(tweaked)
        ham = bin((hi ^ thi)).count("1") + bin((lo ^ tlo)).count("1")
        assert ham <= 2

    def test_neardup_census_spark(self, spark, sf_dir):
        """End-to-end plumbing: 4 spine rows, non-negative counts,
        member pairs >= rep pairs (contraction expands, never shrinks).
        Oracle exactness is covered by the differential gate."""
        from columnar_estimator_sample_spark.registry import queries
        rows = queries()["q_media_neardup"](spark, sf_dir).collect()
        assert [r["ham"] for r in rows] == [0, 1, 2, 3]
        for r in rows:
            assert r["n_member_pairs"] >= r["n_rep_pairs"] >= 0

    def test_audio_envelope_hash_and_shared_census(self, spark, sf_dir):
        """The shared census helper on a CONSTRUCTED hash frame: exact
        groups expand in closed form and every 1..3-bit pair survives
        the banded join (sf0.01's audio corpus happens to produce only
        exact groups, so the near lanes are pinned here instead)."""
        from columnar_estimator_sample_spark.operators.multimodal import (
            hamming_neardup_census,
        )
        # distances: G={1,2,3} (m=3); G-A=1 (lo bit0), G-B=1 (hi bit0),
        # G-C=3 (hi bit31 + lo bits 4,5 — crosses bands, pigeonhole
        # match on the all-zero second lo band), A-B=2, A-C=4 (dropped),
        # B-C=4 (dropped)
        rows = [
            (1, 0, 0b1010), (2, 0, 0b1010), (3, 0, 0b1010),  # group G
            (4, 0, 0b1011),            # A
            (5, 0b1, 0b1010),          # B
            (6, 1 << 31, 0b111010),    # C
        ]
        df = spark.createDataFrame(rows, "doc_id long, hi long, lo long")
        got = {r["ham"]: (r["n_member_pairs"], r["n_rep_pairs"])
               for r in hamming_neardup_census(df).collect()}
        assert got[0] == (3, 1)        # C(3,2) member pairs, 1 dup group
        assert got[1] == (6, 2)        # G-A and G-B, each expanding m=3
        assert got[2] == (1, 1)        # A-B
        assert got[3] == (3, 1)        # G-C expands m=3

    def test_audio_neardup_spark(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        rows = queries()["q_media_audio_neardup"](spark, sf_dir).collect()
        assert [r["ham"] for r in rows] == [0, 1, 2, 3]
        for r in rows:
            assert r["n_member_pairs"] >= r["n_rep_pairs"] >= 0

    def test_wht_phash_properties(self):
        """WHT pHash: deterministic, brightness-shift invariant on
        non-DC bits (a constant shift only moves the DC coefficient),
        and bit-identical to a direct O(n^2) transform."""
        import numpy as np

        from columnar_estimator_sample_spark.operators.multimodal import (
            phash_wht,
        )
        rng = np.random.RandomState(3)
        img = rng.randint(0, 200, size=(24, 16)).astype(np.uint8)
        hi, lo = phash_wht(img)
        assert (hi, lo) == phash_wht(img.copy())
        shi, slo = phash_wht(img + 40)
        # only bit 0 (the DC sign, position u=v=0 -> lo bit 0) may move
        assert hi == shi and (lo | 1) == (slo | 1)
        # direct-definition replay
        cells = img.astype(np.int64).reshape(8, 3, 8, 2).sum(axis=(1, 3))
        direct = np.zeros((8, 8), dtype=np.int64)
        for u in range(8):
            for v in range(8):
                for cy in range(8):
                    for cx in range(8):
                        s = (-1) ** (bin(u & cy).count("1")
                                     + bin(v & cx).count("1"))
                        direct[u, v] += s * cells[cy, cx]
        bits = (direct > 0).astype(np.int64).ravel()
        pw = np.arange(32, dtype=np.int64)
        assert hi == int((bits[32:] << pw).sum())
        assert lo == int((bits[:32] << pw).sum())

    def test_video_neardup_spark(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        rows = queries()["q_media_video_neardup"](spark, sf_dir).collect()
        assert [r["ham"] for r in rows] == [0, 1, 2, 3]
        for r in rows:
            assert r["n_member_pairs"] >= r["n_rep_pairs"] >= 0

    def test_dhash_and_envelope_direct_replay(self):
        """Both remaining perceptual hashes replayed from their direct
        definitions (the WHT test already replays phash_wht) — pins the
        vectorized numpy kernels to the spec the oracles evaluate."""
        import numpy as np

        from columnar_estimator_sample_spark.operators.multimodal import (
            dhash_gray, envelope_hash,
        )
        rng = np.random.RandomState(5)
        img = rng.randint(0, 256, size=(13, 17)).astype(np.uint8)
        h, w = img.shape
        cells = [[0] * 9 for _ in range(8)]
        for y in range(h):
            for x in range(w):
                cells[y * 8 // h][x * 9 // w] += int(img[y, x])
        bits = [1 if cells[cy][i + 1] > cells[cy][i] else 0
                for cy in range(8) for i in range(8)]
        lo = sum(b << p for p, b in enumerate(bits[:32]))
        hi = sum(b << p for p, b in enumerate(bits[32:]))
        assert dhash_gray(img) == (hi, lo)

        s = rng.randint(-32768, 32768, size=37).astype("<i2")
        n = len(s)
        ecells = [0] * 65
        for i in range(n):
            ecells[i * 65 // n] += abs(int(s[i]))
        ebits = [1 if ecells[c + 1] > ecells[c] else 0 for c in range(64)]
        elo = sum(b << p for p, b in enumerate(ebits[:32]))
        ehi = sum(b << p for p, b in enumerate(ebits[32:]))
        assert envelope_hash(s) == (ehi, elo)

    def test_census_matches_bruteforce_on_random_hashes(self, spark):
        """Adversarial check of the banding machinery itself: 120
        random 64-bit hashes (some duplicated), census vs a direct
        O(n^2) numpy replay — proves the 4x16-bit pigeonhole join loses
        nothing on arbitrary (non-formula) inputs."""
        import numpy as np

        from columnar_estimator_sample_spark.operators.multimodal import (
            DHASH_HAM_T, hamming_neardup_census,
        )
        rng = np.random.RandomState(42)
        base = rng.randint(0, 2 ** 32, size=(80, 2), dtype=np.uint64)
        # duplicates + near misses: copy rows and flip 1-4 random bits
        extra = []
        for k in range(40):
            hi, lo = base[k % 80]
            for _ in range(k % 5):  # 0..4 bit flips
                pos = rng.randint(64)
                if pos < 32:
                    lo = np.uint64(lo) ^ np.uint64(1 << pos)
                else:
                    hi = np.uint64(hi) ^ np.uint64(1 << (pos - 32))
            extra.append((hi, lo))
        allh = [(int(h), int(lo)) for h, lo in list(map(tuple, base)) + extra]
        rows = [(i, h, lo) for i, (h, lo) in enumerate(allh)]
        df = spark.createDataFrame(rows, "doc_id long, hi long, lo long")
        got = {r["ham"]: (r["n_member_pairs"], r["n_rep_pairs"])
               for r in hamming_neardup_census(df).collect()}

        # brute force
        import collections
        groups = collections.Counter(allh)
        exp = collections.Counter()
        reps = collections.Counter()
        for m in groups.values():
            if m >= 2:
                exp[0] += m * (m - 1) // 2
                reps[0] += 1
        ghs = list(groups.items())
        for a in range(len(ghs)):
            for b in range(a + 1, len(ghs)):
                (h1, l1), m1 = ghs[a]
                (h2, l2), m2 = ghs[b]
                ham = bin(h1 ^ h2).count("1") + bin(l1 ^ l2).count("1")
                if 1 <= ham <= DHASH_HAM_T:
                    exp[ham] += m1 * m2
                    reps[ham] += 1
        for ham in range(DHASH_HAM_T + 1):
            assert got[ham] == (exp[ham], reps[ham]), (
                f"ham={ham}: census {got[ham]} != brute "
                f"{(exp[ham], reps[ham])}")


def test_media_dedup_apply_balances(spark, sf_dir):
    """Survivor-selection accounting must balance: every image is
    exactly one of {exact-dup removal, near-dup removal, survivor},
    and survivors can't exceed the distinct-hash count."""
    import pyspark.sql.functions as F
    from columnar_estimator_sample_spark.operators.multimodal import (
        decode_png_gray, dhash_gray, encode_media_batches,
        hash_distinct_blobs, q_media_dedup_apply,
    )
    from columnar_estimator_sample_spark.sources.tables import table

    row = q_media_dedup_apply(spark, sf_dir).collect()[0]
    assert row["n_imgs"] == (row["removed_exact"] + row["removed_near"]
                             + row["n_kept"])
    media = (encode_media_batches(table(spark, sf_dir, "documents"))
             .filter(F.col("media_type") == "image"))
    distinct_hashes = (hash_distinct_blobs(
        media, lambda b: dhash_gray(decode_png_gray(b)))
        .select("hi", "lo").distinct().count())
    assert 0 < row["n_kept"] <= distinct_hashes
    assert row["pixels_kept"] > 0
