"""Training-data ops: LSH ANN recall vs brute force, media decode
plumbing, near-dup pipelines on synthetic near-duplicates."""

import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.operators import ann, media
from whitebox_tools_spark.operators import text as tx
from whitebox_tools_spark.sources.tables import documents, load

SF_DIR = "/root/testdata/sf0.001"


class TestAnn:
    def test_lsh_recall_vs_brute_force(self, spark):
        emb = load(spark, SF_DIR, "embeddings").cache()
        queries = emb.where(F.pmod("vec_id", F.lit(10)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        bf = ann.brute_force_topk(emb, queries, k=5)
        ls = ann.lsh_topk(emb, queries, k=5)
        truth = {(r["qid"], r["vec_id"]) for r in bf.collect()}
        approx = {(r["qid"], r["vec_id"]) for r in ls.collect()}
        recall = len(truth & approx) / len(truth)
        # deterministic planes + deterministic fixture => deterministic
        # recall: measured 0.42 on the sf0.001 random-64-dim worst case.
        # Floor = measured minus margin, so a hyperplane/signature
        # regression that halves recall (0.21) fails loudly.
        assert recall >= 0.35, f"LSH recall {recall} (expected ~0.42 measured)"

    def test_ivf_recall_vs_brute_force(self, spark):
        emb = load(spark, SF_DIR, "embeddings").cache()
        queries = emb.where(F.pmod("vec_id", F.lit(10)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        bf = ann.brute_force_topk(emb, queries, k=5)
        iv = ann.ivf_topk(emb, queries, k=5)
        truth = {(r["qid"], r["vec_id"]) for r in bf.collect()}
        approx = {(r["qid"], r["vec_id"]) for r in iv.collect()}
        recall = len(truth & approx) / len(truth)
        # deterministic k-means + fixture => deterministic recall;
        # measured on the sf0.001 random-64-dim worst case. 4/16 lists
        # probed; floor = measured minus margin.
        assert recall >= 0.5, f"IVF recall {recall}"

    def test_ivf_candidate_join_is_equi_join(self, spark):
        """The probe->candidates join must shuffle on the cluster key,
        never cross-join the corpus: the only BroadcastNestedLoopJoins
        allowed in the plan are against the 16-row centroid frame."""
        emb = load(spark, SF_DIR, "embeddings")
        queries = emb.limit(5).select(F.col("vec_id").alias("qid"), "embedding")
        plan = ann.ivf_topk(emb, queries, k=3)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        # candidate generation: an equi-join on cl must be present
        import re
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*cl", plan), plan[:2000]

    def test_brute_force_topk_shape(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        queries = emb.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
        out = ann.brute_force_topk(emb, queries, k=4).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["qid"], []).append(r)
        for q, rows in by_q.items():
            assert len(rows) == 4
            ranks = sorted(r["rank"] for r in rows)
            assert ranks == [1, 2, 3, 4]
            coss = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
            assert coss == sorted(coss, reverse=True)
            assert all(r["vec_id"] != q for r in rows)

    def test_non_default_dim(self, spark):
        """dim= sizes the LSH hyperplanes to the actual embedding length
        (VERDICT r4 #2): on 16-dim vectors, lsh_topk(dim=16) must use all
        16 components. Checked two ways: signatures differ from the
        64-plane default (which would zero-extend), and recall vs brute
        force on a clustered 16-dim corpus is high."""
        import math
        import random

        rng = random.Random(11)
        # 6 well-separated unit "concept" directions + small noise: LSH
        # recall on clustered data is near-1 when planes span ALL dims
        base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
        rows = []
        for i in range(120):
            b = base[i % 6]
            v = [x + rng.uniform(-0.05, 0.05) for x in b]
            rows.append((i, [float(x) for x in v]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = emb.where(F.pmod("vec_id", F.lit(12)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        bf = ann.brute_force_topk(emb, queries, k=5)
        ls = ann.lsh_topk(emb, queries, k=5, dim=16)
        iv = ann.ivf_topk(emb, queries, k=5)  # IVF is dim-agnostic
        truth = {(r["qid"], r["vec_id"]) for r in bf.collect()}
        ls_set = {(r["qid"], r["vec_id"]) for r in ls.collect()}
        iv_set = {(r["qid"], r["vec_id"]) for r in iv.collect()}
        assert len(truth & ls_set) / len(truth) >= 0.9
        assert len(truth & iv_set) / len(truth) >= 0.9
        # the planes really are 16-dim: a 16-dim plane table has no
        # components beyond index 15, so signatures computed at dim=16
        # and dim=64 agree (zip_with truncates) -- but at dim=8 they must
        # differ for at least one vector
        sig16 = emb.select(ann.lsh_signature(ann.as_double(F.col("embedding")), 16).alias("s")).collect()
        sig8 = emb.select(ann.lsh_signature(ann.as_double(F.col("embedding")), 8).alias("s")).collect()
        assert [r["s"] for r in sig16] != [r["s"] for r in sig8]

    def test_embedding_near_dup_finds_planted_dup(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        # plant a near-duplicate of vec 0 with id 100000
        dup = emb.where(F.col("vec_id") == 0).select(
            F.lit(100000).cast("long").alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.000001)).alias("embedding"),
            F.col("label"),
        )
        full = emb.unionByName(dup)
        pairs = ann.embedding_near_dup_pairs(full, threshold=0.99)
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        assert (0, 100000) in got


class TestNearDupText:
    def _with_dup(self, spark):
        docs = documents(spark, SF_DIR)
        # duplicate doc 0's text under a new id, tweak one token
        dup = docs.where(F.col("doc_id") == 0).select(
            F.lit(900000).cast("long").alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        return docs.unionByName(dup)

    def test_minhash_finds_planted_near_dup(self, spark):
        full = self._with_dup(spark)
        pairs = tx.minhash_dedup_pairs(full, threshold=0.8)
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        assert (0, 900000) in got

    def test_bitmap_verify_matches_array_verify(self, spark):
        # the dictionary-bitmap fast lane must emit exactly the rows and
        # jaccard values of the generic array-intersect path, including
        # pairs that involve an empty-token doc
        docs = self._with_dup(spark).unionByName(
            self._with_dup(spark)
            .limit(1)
            .select(
                F.lit(900002).cast("long").alias("doc_id"),
                F.lit("").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        arr = tx.minhash_dedup_pairs(docs, threshold=0.5, verify="array").select(
            "a", "b", F.round("jaccard", 9).alias("j")
        )
        bit = tx.minhash_dedup_pairs(docs, threshold=0.5, verify="bitmap").select(
            "a", "b", F.round("jaccard", 9).alias("j")
        )
        assert arr.exceptAll(bit).count() == 0
        assert bit.exceptAll(arr).count() == 0

    def test_simhash_planted_dup_close(self, spark):
        full = self._with_dup(spark)
        sig = {r["doc_id"]: r["simhash"] for r in tx.simhash(full).collect()}
        ham = bin(sig[0] ^ sig[900000]).count("1")
        assert ham <= 8

    def test_exact_dedup_keeps_min_id(self, spark):
        docs = documents(spark, SF_DIR)
        dup = docs.where(F.col("doc_id") == 3).select(
            F.lit(900001).cast("long").alias("doc_id"), "text", "lang", "source", "n_chars"
        )
        full = docs.unionByName(dup)
        kept = {r["doc_id"] for r in tx.exact_dedup(full).collect()}
        assert 3 in kept and 900001 not in kept


class TestMedia:
    def test_synth_and_decode(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))
        feats = media.decode_features(m).collect()
        assert len(feats) == documents(spark, SF_DIR).count()
        by_id = {r["doc_id"]: r for r in feats}
        for doc_id, r in by_id.items():
            assert r["n_bytes"] == 16 * (doc_id % 7 + 1)
            assert 0.0 <= r["mean_byte"] <= 255.0
            assert 0.0 <= r["entropy8"] <= 3.0

    def test_decode_deterministic(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))
        a = sorted(map(tuple, media.decode_features(m).collect()))
        b = sorted(map(tuple, media.decode_features(m).collect()))
        assert a == b

    def test_real_decoder_is_stub(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))
        with pytest.raises(Exception):
            media.decode_features(m, decoder="real").collect()

    def test_frame_sample(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))
        frames = media.frame_sample(m, every_n_bytes=16)
        n = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
        for r in n:
            assert r["n"] == (r["doc_id"] % 7) + 1  # 16*k bytes / 16


class TestBmpRealDecode:
    def test_bmp_codec_roundtrip(self):
        import numpy as np
        rng = np.random.default_rng(3)
        for h, w in ((1, 1), (3, 5), (4, 4), (7, 2)):
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            back = media.decode_bmp(media.encode_bmp(img))
            np.testing.assert_array_equal(back, img)

    def test_bmp_rejects_unsupported(self):
        import numpy as np
        with pytest.raises(ValueError):
            media.decode_bmp(b"XX" + b"\0" * 60)
        with pytest.raises(ValueError):
            media.encode_bmp(np.zeros((2, 2), dtype=np.uint8))  # not 3-channel
        # 8-bit BMP header -> NotImplementedError, the codec-library hook
        img = media.encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
        bad = bytearray(img)
        bad[28] = 8
        with pytest.raises(NotImplementedError):
            media.decode_bmp(bytes(bad))

    def test_real_lane_end_to_end(self, spark):
        m = media.synth_bmp_media(documents(spark, SF_DIR))
        feats = {r["doc_id"]: r for r in media.decode_image_features(m).collect()}
        assert feats
        for did, r in list(feats.items())[:20]:
            assert r["width"] == 2 + did % 6
            assert r["height"] == 2 + did % 4
            # channel means of the closed-form pixel field
            import numpy as np
            rr = np.arange(r["height"])[:, None]
            cc = np.arange(r["width"])[None, :]
            exp = ((did * 7 + rr * 13 + cc * 29) % 256).mean()
            assert abs(r["mean_r"] - exp) < 1e-12

    def test_non_bmp_codec_still_raises(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))  # codec='raw'
        with pytest.raises(Exception):
            media.decode_image_features(m).collect()


class TestWavRealDecode:
    def test_wav_codec_roundtrip(self):
        import numpy as np
        rng = np.random.default_rng(5)
        for n, ch, rate in ((1, 1, 8000), (9, 2, 16000), (24, 1, 44100)):
            s = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
            rate2, back = media.decode_wav(media.encode_wav(s, rate))
            assert rate2 == rate
            np.testing.assert_array_equal(back, s)
        # mono 1-D input round-trips as (n, 1)
        mono = rng.integers(-32768, 32768, 7).astype(np.int16)
        _, back = media.decode_wav(media.encode_wav(mono, 8000))
        np.testing.assert_array_equal(back[:, 0], mono)

    def test_wav_chunk_walk_skips_extras(self):
        """A LIST chunk between fmt and data must be skipped (RIFF files
        from real recorders carry INFO/fact chunks)."""
        import numpy as np
        import struct
        s = np.arange(-4, 4, dtype=np.int16).reshape(-1, 1)
        raw = media.encode_wav(s, 8000)
        fmt_end = 12 + 8 + 16
        extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\0"  # word pad
        patched = raw[:fmt_end] + extra + raw[fmt_end:]
        rate, back = media.decode_wav(patched)
        assert rate == 8000
        np.testing.assert_array_equal(back, s)

    def test_wav_rejects_unsupported(self):
        import numpy as np
        with pytest.raises(ValueError):
            media.decode_wav(b"RIFX" + b"\0" * 40)
        with pytest.raises(ValueError):
            media.encode_wav(np.zeros(4, dtype=np.float32), 8000)
        raw = bytearray(media.encode_wav(np.zeros(4, dtype=np.int16), 8000))
        raw[20] = 3  # IEEE-float tag with bits=16 is malformed
        with pytest.raises(NotImplementedError):
            media.decode_wav(bytes(raw))
        raw[20] = 2  # ADPCM -> the codec-library hook
        with pytest.raises(NotImplementedError):
            media.decode_wav(bytes(raw))

    @staticmethod
    def _wav(afmt, bits, body, ch=1, rate=8000, extensible=False):
        import struct
        if extensible:
            # 40-byte fmt: cbSize=22, validbits, chanmask, SubFormat GUID
            guid = struct.pack("<H", afmt) + b"\x00\x00" + bytes(
                [0x00, 0x00, 0x10, 0x00, 0x80, 0x00, 0x00, 0xAA,
                 0x00, 0x38, 0x9B, 0x71])
            fmt = struct.pack("<HHIIHHHHI", 0xFFFE, ch, rate,
                              rate * ch * bits // 8, ch * bits // 8, bits,
                              22, bits, 0) + guid
        else:
            fmt = struct.pack("<HHIIHH", afmt, ch, rate,
                              rate * ch * bits // 8, ch * bits // 8, bits)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(body)) + body
                  + (b"\x00" if len(body) & 1 else b""))
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def test_wav_pcm8_unsigned(self):
        import numpy as np
        u = np.array([0, 128, 255, 64], np.uint8)
        rate, s = media.decode_wav(self._wav(1, 8, u.tobytes()))
        np.testing.assert_array_equal(
            s[:, 0], ((u.astype(np.int32) - 128) << 8).astype(np.int16))

    def test_wav_pcm24_keeps_high_16(self):
        import numpy as np
        vals = np.array([0x123456, -0x123456, 0x7FFFFF, -0x800000], np.int32)
        body = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
        rate, s = media.decode_wav(self._wav(1, 24, body))
        np.testing.assert_array_equal(s[:, 0], (vals >> 8).astype(np.int16))

    def test_wav_pcm32_keeps_high_16(self):
        import numpy as np
        vals = np.array([1 << 30, -(1 << 30), 0, 0x7FFFFFFF], np.int32)
        rate, s = media.decode_wav(self._wav(1, 32, vals.tobytes()))
        np.testing.assert_array_equal(s[:, 0], (vals >> 16).astype(np.int16))

    def test_wav_float32_scaled_and_clipped(self):
        import numpy as np
        f = np.array([0.0, 0.5, -1.0, 1.5, -2.0], "<f4")
        rate, s = media.decode_wav(self._wav(3, 32, f.tobytes()))
        np.testing.assert_array_equal(
            s[:, 0], np.array([0, 16384, -32767, 32767, -32768], np.int16))

    def test_wav_float64(self):
        import numpy as np
        f = np.array([0.25, -0.25], "<f8")
        rate, s = media.decode_wav(self._wav(3, 64, f.tobytes()))
        np.testing.assert_array_equal(s[:, 0], np.array([8192, -8192], np.int16))

    def test_wav_extensible_resolves_subformat(self):
        import numpy as np
        vals = np.array([100, -100, 31000], np.int16)
        rate, s = media.decode_wav(
            self._wav(1, 16, vals.tobytes(), extensible=True))
        np.testing.assert_array_equal(s[:, 0], vals)
        f = np.array([0.5, -0.5], "<f4")
        rate, s = media.decode_wav(
            self._wav(3, 32, f.tobytes(), extensible=True))
        np.testing.assert_array_equal(s[:, 0], [16384, -16384])

    def test_wav_stereo_24bit_pairs(self):
        import numpy as np
        vals = np.array([0x010000, 0x020000, 0x030000, 0x040000], np.int32)
        body = b"".join(int(v).to_bytes(3, "little") for v in vals)
        _, s = media.decode_wav(self._wav(1, 24, body, ch=2))
        assert s.shape == (2, 2)
        np.testing.assert_array_equal(s, [[256, 512], [768, 1024]])

    def test_real_audio_lane_end_to_end(self, spark):
        m = media.synth_wav_media(documents(spark, SF_DIR))
        feats = {r["doc_id"]: r for r in media.decode_audio_features(m).collect()}
        assert feats
        import numpy as np
        for did, r in list(feats.items())[:20]:
            n, ch = 8 + did % 16, 1 + did % 2
            assert (r["n_samples"], r["channels"]) == (n, ch)
            assert r["sample_rate"] == 8000 + (did % 4) * 4000
            i = np.arange(n)[:, None]
            c = np.arange(ch)[None, :]
            v = (did * 31 + i * 17 + c * 101) % 65536 - 32768
            assert r["mean_sample"] == v.sum() / v.size
            assert r["peak"] == np.abs(v).max()

    def test_non_wav_codec_still_raises(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))  # codec='raw'
        with pytest.raises(Exception):
            media.decode_audio_features(m).collect()


class TestNgramJaccard:
    def test_symmetric_and_bounded(self, spark):
        out = tx.ngram_jaccard_pairs(documents(spark, SF_DIR), threshold=0.3)
        pdf = out.toPandas()
        assert len(pdf) > 0
        assert (pdf.id_a < pdf.id_b).all()
        assert ((pdf.jaccard > 0) & (pdf.jaccard <= 1.0)).all()
        assert (pdf.n_shared >= 1).all()

    def test_identical_docs_score_one(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w q r")],
            "doc_id long, text string",
        )
        pdf = tx.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
        assert len(pdf) == 1
        assert pdf.iloc[0].id_a == 1 and pdf.iloc[0].id_b == 2
        assert pdf.iloc[0].jaccard == 1.0

    def test_max_df_drops_stop_shingles(self, spark):
        # "c c c c" shingles appear in every doc -> with max_df=2 the
        # boilerplate shingle is dropped and the two docs that ONLY
        # share boilerplate no longer pair
        docs = spark.createDataFrame(
            [(1, "a b c c c c"), (2, "d e c c c c"), (3, "a b c c c c")],
            "doc_id long, text string",
        )
        # boilerplate-only overlap: docs 1-2 and 2-3 share just "c c c"
        # (jaccard 1/5 = 0.2); docs 1-3 are identical (jaccard 1.0)
        raw = tx.ngram_jaccard_pairs(docs, threshold=0.15).toPandas()
        assert {(r.id_a, r.id_b) for r in raw.itertuples()} == {
            (1, 2), (1, 3), (2, 3)
        }
        filt = tx.ngram_jaccard_pairs(docs, threshold=0.15, max_df=2).toPandas()
        assert {(r.id_a, r.id_b) for r in filt.itertuples()} == {(1, 3)}
        assert filt.iloc[0].jaccard == 1.0

    def test_plan_is_equi_join(self, spark):
        plan = tx.ngram_jaccard_pairs(
            documents(spark, SF_DIR)
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_png_media_lane_variants(spark):
    """decode_image_features handles every PNG colour shape through
    _to_rgb8 (grey replicate, alpha drop, 16-bit high byte), and the
    synthesized corpus really carries all five filter types."""
    import numpy as np
    import pandas as pd

    from whitebox_tools_spark.operators.png_codec import decode_png, encode_png

    rng = np.random.default_rng(21)
    rows = []
    imgs = {}
    for did, (ch, dt) in enumerate([(1, np.uint8), (2, np.uint8),
                                    (4, np.uint8), (3, np.uint16)]):
        img = rng.integers(0, 256 if dt == np.uint8 else 65536,
                           size=(3, 4, ch)).astype(dt)
        imgs[did] = img
        rows.append((did, f"png://{did}", encode_png(img, filter_type=did % 5),
                     {"kind": "image", "n_bytes": 0, "codec": "png"}))
    m = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "media_ref", "payload", "meta"]),
        schema=media.MEDIA_SCHEMA)
    got = {r["doc_id"]: r for r in media.decode_image_features(m).collect()}
    for did, img in imgs.items():
        rgb = media._to_rgb8(decode_png(encode_png(img, filter_type=did % 5)))
        assert got[did]["width"] == img.shape[1]
        assert got[did]["mean_r"] == float(rgb[:, :, 0].mean())
        assert got[did]["mean_b"] == float(rgb[:, :, 2].mean())
    # the catalog corpus spans all five filter bytes
    docs = load(spark, SF_DIR, "documents").limit(10)
    payloads = media.synth_png_media(docs).select("doc_id", "payload").collect()
    fts = set()
    for r in payloads:
        b = bytes(r["payload"])
        import struct as _s
        import zlib as _z
        idat = b[b.index(b"IDAT") + 4:-16]
        raw = _z.decompress(idat)
        (w,) = _s.unpack_from(">I", b, 16)
        fts.add(raw[0])
        assert raw[0] == r["doc_id"] % 5
    assert fts == {0, 1, 2, 3, 4}


class TestG711Wav:
    """G.711 µ-law (fmt 7) / A-law (fmt 6) telephony WAV decode."""

    @staticmethod
    def _ulaw_ref(code):
        # CCITT/Sun scalar reference (G.191 softtools ulaw_expand form)
        u = ~code & 0xFF
        t = (((u & 0xF) << 3) + 0x84) << ((u >> 4) & 7)
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    @staticmethod
    def _alaw_ref(code):
        a = code ^ 0x55
        seg = (a >> 4) & 7
        base = (a & 0xF) << 4
        if seg == 0:
            mag = base + 8
        elif seg == 1:
            mag = base + 0x108
        else:
            mag = (base + 0x108) << (seg - 1)
        return mag if (a & 0x80) else -mag

    def test_luts_match_scalar_reference_all_256(self):
        import numpy as np
        for code in range(256):
            assert media._ULAW_LUT[code] == self._ulaw_ref(code)
            assert media._ALAW_LUT[code] == self._alaw_ref(code)
        # canonical anchors: all-ones µ-law code is 0; A-law 0x55 is -8
        assert media._ULAW_LUT[0xFF] == 0
        assert media._ULAW_LUT[0x00] == -32124
        assert media._ALAW_LUT[0x55] == -8
        assert int(np.abs(media._ALAW_LUT).max()) == 32256

    def test_g711_wav_decode(self):
        import numpy as np
        codes = np.arange(256, dtype=np.uint8)
        for afmt, lut in ((7, media._ULAW_LUT), (6, media._ALAW_LUT)):
            rate, s = media.decode_wav(
                TestWavRealDecode._wav(afmt, 8, codes.tobytes()))
            np.testing.assert_array_equal(s[:, 0], lut[codes])
        # stereo interleave and WAVE_FORMAT_EXTENSIBLE routing
        rate, s = media.decode_wav(
            TestWavRealDecode._wav(7, 8, codes.tobytes(), ch=2,
                                   extensible=True))
        assert s.shape == (128, 2)
        np.testing.assert_array_equal(s.reshape(-1), media._ULAW_LUT[codes])

    def test_g711_wrong_bits_rejected(self):
        import numpy as np
        with pytest.raises(ValueError, match="8-bit"):
            media.decode_wav(TestWavRealDecode._wav(7, 16, b"\0" * 8))


class TestAudioStats:
    def test_stats_on_handcrafted_clip(self, spark):
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        s = np.array([[100], [-200], [32767], [-32768], [0], [5000]],
                     np.int16)
        payload = media.encode_wav(s, 8000)
        schema = media.MEDIA_SCHEMA
        pdf = pd.DataFrame({
            "doc_id": [1], "media_ref": ["wav://1"],
            "payload": [payload],
            "meta": [{"kind": "audio", "n_bytes": len(payload),
                      "codec": "wav"}],
        })
        m = spark.createDataFrame(pdf, schema=schema)
        row = media.audio_stats(m).collect()[0]
        v = s.astype(np.int64)[:, 0]
        assert row.rms_energy == float((v * v).sum()) / v.size
        # sign pattern (v>=0): T F T F T T -> 4 changes
        assert row.zero_crossings == 4
        assert row.silence_ratio == 3 / 6  # |100|,|‑200|,|0| < 1024
        assert row.clip_ratio == 2 / 6     # 32767, -32768

    def test_non_wav_codec_raises(self, spark):
        m = media.synth_media(documents(spark, SF_DIR))  # codec='raw'
        with pytest.raises(Exception):
            media.audio_stats(m).collect()


class TestImageStats:
    def test_stats_on_handcrafted_image(self, spark):
        import numpy as np
        import pandas as pd

        img = np.array([[[0, 0, 0], [255, 255, 255]],
                        [[10, 20, 30], [10, 20, 30]]], np.uint8)
        payload = media.encode_bmp(img)
        pdf = pd.DataFrame({
            "doc_id": [1], "media_ref": ["bmp://1"], "payload": [payload],
            "meta": [{"kind": "image", "n_bytes": len(payload),
                      "codec": "bmp"}],
        })
        m = spark.createDataFrame(pdf, schema=media.MEDIA_SCHEMA)
        row = media.image_stats(m).collect()[0]
        v = img.astype(np.int64)
        n = v.size
        mean = v.sum() / n
        assert row.brightness == mean
        assert row.contrast == (v * v).sum() / n - mean * mean
        dx = np.abs(v[:, 1:, :] - v[:, :-1, :])
        assert row.edge_energy == dx.sum() / dx.size

    def test_png_and_jpeg_codecs_route(self, spark):
        # image_stats shares the codec dispatch with the decode lane
        m = media.synth_png_media(documents(spark, SF_DIR).limit(5))
        rows = media.image_stats(m).collect()
        assert len(rows) == 5 and all(r.contrast >= 0 for r in rows)


class TestPiiScrub:
    def test_scrub_and_counts(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [
            "mail a@b.co and b@c.org plus https://x.y/z?q=a@b.co end",
            "phone 123456789012 then short 12345678 stays",
            "clean text with no pii at all",
        ]})
        docs = spark.createDataFrame(pdf)
        rows = {r.doc_id: r for r in tx.pii_scrub(docs).collect()}
        # URL consumed first, so the address inside the link is <URL>'s
        assert rows[1].clean_text == "mail <EMAIL> and <EMAIL> plus <URL> end"
        assert rows[1].n_urls == 1 and rows[1].n_emails == 3
        # >=9 digit runs scrubbed; 8-digit run kept
        assert rows[2].clean_text == "phone <NUM> then short 12345678 stays"
        assert rows[2].n_urls == 0 and rows[2].n_emails == 0
        assert rows[3].clean_text == "clean text with no pii at all"

    def test_plan_is_codegen_only(self, spark):
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        plan = tx.pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "ArrowEval" not in plan


class TestDedupClusters:
    def test_components_and_canonicals(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(8))}))
        # chains 0-1-2, 4-5; 3, 6, 7 singletons
        pairs = spark.createDataFrame(
            pd.DataFrame({"a": [0, 1, 4], "b": [1, 2, 5]}))
        rows = {r.doc_id: r for r in tx.dedup_clusters(docs, pairs).collect()}
        assert len(rows) == 8
        assert [rows[i].cluster_id for i in range(8)] == [0, 0, 0, 3, 4, 4, 6, 7]
        canon = {i for i in range(8) if rows[i].is_canonical}
        assert canon == {0, 3, 4, 6, 7}


class TestPackSequences:
    def test_concat_and_chunk_semantics(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        # token counts: 3, 5, 4 with max_tokens=4 ->
        # doc0 [0,3) bin0; doc1 [3,8) bins 0(1 tok)+1(4); doc2 [8,12) bins 2
        pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": [
            "a b c", "a b c d e", "a b c d"]})
        docs = spark.createDataFrame(pdf)
        rows = sorted(
            tx.pack_sequences(docs, max_tokens=4).collect(),
            key=lambda r: (r.doc_id, r.bin_id))
        got = [(r.doc_id, r.bin_id, r.bin_offset, r.span_len) for r in rows]
        assert got == [(0, 0, 0, 3), (1, 0, 3, 1), (1, 1, 0, 4),
                       (2, 2, 0, 4)]
        # every bin except possibly the last is exactly full
        per_bin = {}
        for r in rows:
            per_bin[r.bin_id] = per_bin.get(r.bin_id, 0) + r.span_len
        assert per_bin == {0: 4, 1: 4, 2: 4}

    def test_partitioned_packing_is_per_key(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        pdf = pd.DataFrame({
            "doc_id": [0, 1, 2, 3],
            "lang": ["en", "fr", "en", "fr"],
            "text": ["a b", "c d e", "f", "g h i j"],
        })
        docs = spark.createDataFrame(pdf)
        rows = tx.pack_sequences(docs, max_tokens=3,
                                 partition_cols=["lang"]).collect()
        en = sorted((r.doc_id, r.bin_id, r.bin_offset, r.span_len)
                    for r in rows if r.lang == "en")
        assert en == [(0, 0, 0, 2), (2, 0, 2, 1)]
        fr = sorted((r.doc_id, r.bin_id, r.bin_offset, r.span_len)
                    for r in rows if r.lang == "fr")
        assert fr == [(1, 0, 0, 3), (3, 1, 0, 3), (3, 2, 0, 1)]

    def test_validation(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0], "text": ["a"]}))
        with pytest.raises(ValueError, match="max_tokens"):
            tx.pack_sequences(docs, max_tokens=0)


class TestCorpusUtils:
    def test_split_is_deterministic_and_weighted(self, spark):
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        a = {r.doc_id: r.split for r in tx.split_corpus(docs).collect()}
        b = {r.doc_id: r.split
             for r in tx.split_corpus(docs.repartition(7)).collect()}
        assert a == b  # stable under re-partitioning
        n = len(a)
        frac_train = sum(1 for v in a.values() if v == "train") / n
        assert 0.9 < frac_train <= 1.0
        with pytest.raises(ValueError, match="sum to 100"):
            tx.split_corpus(docs, weights={"train": 50, "val": 10})

    def test_split_custom_weights_cover_all_buckets(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(500))}))
        rows = tx.split_corpus(
            docs, weights={"a": 50, "b": 30, "c": 20}).collect()
        assert all(r.split in ("a", "b", "c") for r in rows)
        assert all(
            (r.bucket < 50) == (r.split == "a")
            and (50 <= r.bucket < 80) == (r.split == "b") for r in rows)

    def test_vocab_ids_total_order(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [0, 1], "text": ["b a a c c", "c b x"]}))
        rows = sorted(tx.build_vocab(docs, top_k=3).collect(),
                      key=lambda r: r.token_id)
        # counts: c=3, a=2, b=2, x=1 -> ties broken by token ASC
        assert [(r.token_id, r.token, r.n) for r in rows] == [
            (0, "c", 3), (1, "a", 2), (2, "b", 2)]


class TestQuantizeEmbeddings:
    def test_error_bound_and_zero_vector(self, spark):
        import numpy as np
        import pandas as pd
        from whitebox_tools_spark.operators import ann

        rng = np.random.default_rng(3)
        vecs = [rng.normal(0, 1, 16).astype("float32").tolist()
                for _ in range(20)] + [[0.0] * 16]
        emb = spark.createDataFrame(pd.DataFrame({
            "vec_id": list(range(21)), "embedding": vecs}))
        rows = {r.vec_id: r for r in
                ann.quantize_embeddings(emb).collect()}
        for i, v in enumerate(vecs):
            r = rows[i]
            v = np.asarray(v, np.float64)
            if not v.any():
                assert r.scale == 0.0 and all(q == 0 for q in r.q)
                continue
            q = np.asarray(r.q)
            assert np.abs(q).max() <= 127
            # dequantization error bounded by scale/2 per component
            assert np.abs(q * r.scale - v).max() <= r.scale / 2 + 1e-12
            # the max-|x| component saturates exactly
            assert np.abs(q).max() == 127


class TestRound5ReviewRegressions:
    def test_pii_scrub_null_text_yields_zero_counts(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        pdf = pd.DataFrame({"doc_id": [1, 2],
                            "text": [None, "x https://a.b c"]})
        docs = spark.createDataFrame(pdf)
        rows = {r.doc_id: r for r in tx.pii_scrub(docs).collect()}
        # F.size(split(NULL)) is -1, so counts were -2 pre-fix
        assert rows[1].n_urls == 0 and rows[1].n_emails == 0
        assert rows[1].clean_text is None
        assert rows[2].n_urls == 1

    def test_audio_stats_empty_data_chunk(self, spark):
        import numpy as np
        import pandas as pd

        payload = media.encode_wav(np.zeros((0, 2), np.int16), 8000)
        pdf = pd.DataFrame({
            "doc_id": [1], "media_ref": ["wav://1"], "payload": [payload],
            "meta": [{"kind": "audio", "n_bytes": len(payload),
                      "codec": "wav"}],
        })
        m = spark.createDataFrame(pdf, schema=media.MEDIA_SCHEMA)
        row = media.audio_stats(m).collect()[0]
        # an empty clip is all-silence, not a ZeroDivisionError
        assert (row.rms_energy, row.zero_crossings,
                row.silence_ratio, row.clip_ratio) == (0.0, 0, 1.0, 0.0)

    def test_pack_sequences_uses_integer_div(self, spark):
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        out = tx.pack_sequences(docs, max_tokens=1000)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # bin ids must come from exact integer `div`, not double `/`
        # (+cast): the double quotient rounds at ~2^53 cumulative
        # tokens and mis-bins boundary docs at corpus scale
        assert " div " in plan.lower() or "integral_divide" in plan.lower(), plan


class TestRepetitionSignals:
    def test_hand_computed(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [
            "a b a b a b",        # heavy bigram repetition
            "x\ny\nx\nz",         # duplicate lines, single "token"
            "hello",              # one-token degenerate gram
        ]})
        rows = {r.doc_id: r for r in
                tx.repetition_signals(spark.createDataFrame(pdf)).collect()}
        r1 = rows[1]
        assert r1.dup_token_frac == 4 / 6            # 6 tokens, 2 distinct
        assert r1.dup_line_frac == 0.0
        # "a b" occurs 3x, len 3 -> 9; len(text) = 11
        assert r1.top_2gram_char_frac == 9 / 11
        # "a b a" occurs 2x, len 5 -> 10
        assert r1.top_3gram_char_frac == 10 / 11
        r2 = rows[2]
        assert r2.dup_line_frac == 1 / 4             # 4 lines, 3 distinct
        assert r2.dup_token_frac == 0.0              # 1 whitespace token
        r3 = rows[3]
        assert r3.dup_token_frac == 0.0 and r3.dup_line_frac == 0.0
        # degenerate clamped gram "hello hello": 1 * 11 / 5
        assert r3.top_2gram_char_frac == 11 / 5

    def test_plan_zero_shuffle_jvm_only(self, spark):
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        out = tx.repetition_signals(docs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan            # pure projection
        assert "Python" not in plan and "ArrowEval" not in plan
        opt = out._jdf.queryExecution().optimizedPlan().toString()
        # token/line arrays bound once each — the CollapseProject
        # recompute trap would inline split() into every n-gram branch
        assert opt.count("split(") <= 3, opt.count("split(")


class TestDecontaminate:
    def test_hand_computed(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [10, 11, 12],
            "text": [
                "the quick brown fox jumps over the lazy dog",  # contains bench gram
                "completely different words entirely here now",
                "quick brown fox appears again quick brown fox",  # 1 shared gram
            ]}))
        bench = spark.createDataFrame(pd.DataFrame({
            "bench_id": [0],
            "text": ["the quick brown fox runs"],
        }))
        # bench shingles: "the quick brown","quick brown fox","brown fox runs"
        got = {(r.doc_id, r.bench_id): r.n_shared
               for r in tx.decontaminate(docs, bench, min_shared=1).collect()}
        assert got == {(10, 0): 2, (12, 0): 1}
        got2 = {(r.doc_id, r.bench_id): r.n_shared
                for r in tx.decontaminate(docs, bench, min_shared=2).collect()}
        assert got2 == {(10, 0): 2}

    def test_plan_broadcasts_benchmark(self, spark):
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        bench = (docs.where(F.col("doc_id") < 5)
                 .select(F.col("doc_id").alias("bench_id"), "text"))
        plan = (tx.decontaminate(docs, bench)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestBm25Scores:
    def test_hand_computed(self, spark):
        import math

        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "spark join spark filter",
                "window scan merge",
                "vector vector vector vector",
            ]}))
        terms = ["spark", "window", "missing"]
        rows = {r.doc_id: r for r in
                tx.bm25_scores(docs, terms).collect()}
        n, dls = 3, {1: 4, 2: 3, 3: 4}
        avgdl = sum(dls.values()) / n
        tfs = {1: {"spark": 2}, 2: {"window": 1}, 3: {}}
        dfs = {"spark": 1, "window": 1, "missing": 0}
        for d in (1, 2, 3):
            bm = ti = 0.0
            for t in terms:
                tf, df = tfs[d].get(t, 0), dfs[t]
                idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
                bm += idf * (tf * 2.2) / (
                    tf + 1.2 * (0.25 + 0.75 * (dls[d] / avgdl)))
                if tf > 0:
                    ti += tf * math.log(n / df)
            assert rows[d].n_tokens == dls[d]
            assert abs(rows[d].bm25 - bm) < 1e-12, (d, rows[d].bm25, bm)
            assert abs(rows[d].tfidf - ti) < 1e-12

    def test_validation_and_plan(self, spark):
        import pytest as _pytest
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        with _pytest.raises(ValueError):
            tx.bm25_scores(docs, [])
        with _pytest.raises(ValueError, match="distinct"):
            tx.bm25_scores(docs, ["spark", "join", "spark"])
        out = tx.bm25_scores(docs, ["spark", "join"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        # global stats reach the per-doc rows via a broadcast of the
        # single-row aggregate, never a shuffle join or cartesian
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
        assert "Python" not in plan


class TestDupSpans:
    def test_hand_computed_cross_doc_span(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        shared = "one two three four five six seven eight nine ten"
        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                f"alpha beta {shared} gamma delta",
                f"start {shared} end",
                "totally unrelated words that never repeat anywhere at all",
            ]}))
        out = {r.doc_id: r for r in tx.dup_spans(docs, k=8).collect()}
        # doc 1: shared spans tokens 3..12 -> shingle starts 3,4,5 merge
        r1 = out[1]
        assert (r1.span_start, r1.span_end) == (3, 12)
        assert r1.span_tokens == 10 and r1.n_shingles == 3
        # doc 2: tokens 2..11
        r2 = out[2]
        assert (r2.span_start, r2.span_end) == (2, 11)
        assert r2.span_tokens == 10 and r2.n_shingles == 3
        assert 3 not in out

    def test_same_doc_repetition_and_short_docs(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        rep = "a b c d e f g h"            # 8 tokens, repeated twice
        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": [f"{rep} {rep}", "short doc under k tokens"],
        }))
        rows = tx.dup_spans(docs, k=8).collect()
        # the repeated 8-gram occurs at pos 1 and 9 of doc 1; the
        # in-between shingles are unique, so two islands merge into one
        # span only if consecutive — pos 1 and 9 are separate islands
        assert {(r.doc_id, r.span_start, r.span_end) for r in rows} == {
            (1, 1, 8), (1, 9, 16)}
        with __import__("pytest").raises(ValueError):
            tx.dup_spans(docs, k=1)

    def test_max_df_drops_stop_shingles(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        boiler = "p q r s t u v w"
        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": list(range(5)),
            "text": [f"{boiler} filler{i}" for i in range(5)],
        }))
        assert len(tx.dup_spans(docs, k=8).collect()) == 5
        assert tx.dup_spans(docs, k=8, max_df=4).collect() == []

    def test_plan_shape(self, spark):
        from whitebox_tools_spark.operators import text as tx

        out = tx.dup_spans(documents(spark, SF_DIR), k=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "Python" not in plan
        opt = out._jdf.queryExecution().optimizedPlan().toString()
        # the bind-then-posexplode_outer guard: the md5 shingle build
        # must not be inlined into a pushed scan filter
        assert "md5" not in plan.split("Scan parquet")[-1].split("\n")[0]


def _python_bpe(word_counts, n_merges):
    """Independent pure-Python BPE reference (Sennrich et al. 2016):
    greedy pair-count argmax with (count desc, pair lex asc) tie-break,
    leftmost-greedy merge application."""
    segs = {w: tuple(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        counts = {}
        for w, cnt in word_counts.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + cnt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), n = best
        merges.append((rank, left, right, n))
        merged = left + right
        for w, s in segs.items():
            out = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            segs[w] = tuple(out)
    return merges


class TestBpeTrain:
    def test_matches_pure_python_reference(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        texts = [
            "lower lower lowest newer newer newest wider wide widest",
            "low lower lowest new newer newest slow slower slowest",
            "the cat sat on the mat the cat ran",
        ]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
        wc = {}
        for t in texts:
            for w in t.split(" "):
                wc[w] = wc.get(w, 0) + 1
        expect = _python_bpe(wc, 10)
        got = tx.bpe_train(docs, n_merges=10)
        assert got == expect, (got, expect)

    def test_fixture_corpus_first_merges(self, spark):
        from whitebox_tools_spark.operators import text as tx

        docs = documents(spark, SF_DIR)
        wc = {}
        for r in docs.select("text").collect():
            for w in r.text.split(" "):
                wc[w] = wc.get(w, 0) + 1
        assert tx.bpe_train(docs, n_merges=6) == _python_bpe(wc, 6)

    def test_validation(self, spark):
        import pandas as pd
        import pytest as _pytest
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["a"]}))
        with _pytest.raises(ValueError):
            tx.bpe_train(docs, n_merges=0)
        # single one-char word: no pairs -> loop stops early, no merges
        assert tx.bpe_train(docs, n_merges=3) == []


class TestPq:
    def test_pq_recall_vs_exact_l2(self, spark):
        import numpy as np

        emb = load(spark, SF_DIR, "embeddings").cache()
        queries = emb.where(F.pmod("vec_id", F.lit(10)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        pdf = emb.toPandas()
        V = np.stack(pdf.embedding.values).astype(float)
        ids = pdf.vec_id.values
        truth = set()
        for qi in np.where(ids % 10 == 0)[0]:
            d = ((V - V[qi]) ** 2).sum(1)
            d[qi] = np.inf
            for j in np.lexsort((ids, d))[:5]:
                truth.add((ids[qi], ids[j]))
        pq = ann.pq_topk(emb, queries, k=5)
        approx = {(r["qid"], r["vec_id"]) for r in pq.collect()}
        recall = len(truth & approx) / len(truth)
        # deterministic codebooks + fixture => deterministic recall:
        # measured 0.22 on the sf0.001 random-64-dim worst case (32-bit
        # codes on structureless data; chance is 5/499 ~ 0.01). Floor =
        # measured minus margin so a codebook/ADC regression that drops
        # it to chance fails loudly.
        assert recall >= 0.15, f"PQ recall {recall} (expected ~0.22 measured)"

    def test_pq_recall_clustered_non_default_dim(self, spark):
        """16-dim clustered corpus, m=4 subquantizers: dim/m plumbing
        beyond the fixture shape, and recall on clusterable data."""
        import random

        import numpy as np

        rng = random.Random(11)
        base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
        rows = []
        for i in range(120):
            b = base[i % 6]
            rows.append(
                (i, [float(x + rng.uniform(-0.05, 0.05)) for x in b]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = emb.where(F.pmod("vec_id", F.lit(12)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        V = np.array([r[1] for r in rows])
        ids = np.array([r[0] for r in rows])
        truth = set()
        for qi in range(0, 120, 12):
            d = ((V - V[qi]) ** 2).sum(1)
            d[qi] = np.inf
            for j in np.lexsort((ids, d))[:5]:
                truth.add((qi, ids[j]))
        pq = ann.pq_topk(emb, queries, k=5, m=4, dim=16)
        approx = {(r["qid"], r["vec_id"]) for r in pq.collect()}
        assert len(truth & approx) / len(truth) >= 0.4  # measured 0.5

    def test_pq_index_shapes_and_code_range(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        cents, codes = ann.pq_index(emb)
        crows = cents.collect()
        assert {len(r["cent"]) for r in crows} == {ann.DIM // ann.PQ_M}
        assert all(0 <= r["cl"] < ann.PQ_K for r in crows)
        assert all(0 <= r["sub_id"] < ann.PQ_M for r in crows)
        per_vec = (codes.groupBy("vec_id")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.min("cl").alias("lo"), F.max("cl").alias("hi"))
                   .collect())
        assert all(r["n"] == ann.PQ_M for r in per_vec)
        assert all(0 <= r["lo"] and r["hi"] < ann.PQ_K for r in per_vec)

    def test_pq_validation_and_plan(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        with pytest.raises(ValueError, match="not divisible"):
            ann.pq_index(emb, m=7)
        queries = emb.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
        out = ann.pq_topk(emb, queries, k=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "Python" not in plan
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        for q, rs in by_q.items():
            assert sorted(r["rank"] for r in rs) == [1, 2, 3]
            ads = [r["ad2"] for r in sorted(rs, key=lambda r: r["rank"])]
            assert ads == sorted(ads) and all(a >= 0 for a in ads)
            assert all(r["vec_id"] != q for r in rs)


class TestBigramLm:
    def test_hand_computed(self, spark):
        import math

        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a b a b", "a b", "x"],
        }))
        rows = {r.doc_id: r for r in tx.bigram_lm_scores(docs).collect()}
        # corpus bigrams: (a,b) x3, (b,a) x1; prefix c1: a->3, b->1; V=3
        p_ab = math.log((3 + 1.0) / (3 + 3.0))
        p_ba = math.log((1 + 1.0) / (1 + 3.0))
        assert rows[1].n_bigrams == 3
        assert abs(rows[1].avg_logp - (p_ab + p_ba + p_ab) / 3.0) < 1e-12
        assert rows[2].n_bigrams == 1
        assert abs(rows[2].avg_logp - p_ab) < 1e-12
        assert 3 not in rows  # single-token doc has no bigrams

    def test_quality_signal_orders_typical_above_rare(self, spark):
        """The property a quality gate relies on: a document made of
        corpus-frequent bigrams outscores one whose bigrams occur
        nowhere else (which survives only on add-one smoothing)."""
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": list(range(20)) + [99],
            "text": ["the quick fox"] * 20 + ["zqj xvw pqm"],
        }))
        rows = {r.doc_id: r.avg_logp
                for r in tx.bigram_lm_scores(docs).collect()}
        assert rows[0] > rows[99]

    def test_plan_single_bigram_shuffle(self, spark):
        from whitebox_tools_spark.operators import text as tx

        out = tx.bigram_lm_scores(documents(spark, SF_DIR))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "Python" not in plan


class TestIvfPq:
    def test_composition_recall_and_shape(self, spark):
        import numpy as np

        emb = load(spark, SF_DIR, "embeddings").cache()
        queries = emb.where(F.pmod("vec_id", F.lit(10)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        rows = ann.ivfpq_topk(emb, queries, k=5).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        for q, rs in by_q.items():
            assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
            assert all(r["vec_id"] != q for r in rs)
        pdf = emb.toPandas()
        V = np.stack(pdf.embedding.values).astype(float)
        ids = pdf.vec_id.values
        truth = set()
        for qi in np.where(ids % 10 == 0)[0]:
            d = ((V - V[qi]) ** 2).sum(1)
            d[qi] = np.inf
            for j in np.lexsort((ids, d))[:5]:
                truth.add((ids[qi], ids[j]))
        ap = {(r["qid"], r["vec_id"]) for r in rows}
        recall = len(truth & ap) / len(truth)
        # measured 0.148 on the random-64-dim worst case (IVF pruning
        # to 4/16 lists stacked on 32-bit PQ codes; chance ~ 0.01);
        # floor = measured minus margin
        assert recall >= 0.08, f"IVF-PQ recall {recall}"

    def test_candidates_subset_of_probed_lists(self, spark):
        """Every returned candidate must live in one of the query's
        probed IVF lists — the pruning contract of the composition."""
        emb = load(spark, SF_DIR, "embeddings").cache()
        queries = emb.where(F.pmod("vec_id", F.lit(25)) == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        out = {(r["qid"], r["vec_id"])
               for r in ann.ivfpq_topk(emb, queries, k=5).collect()}
        cents, assigned = ann.ivf_index(emb)
        assign_map = {r["vec_id"]: r["cl"] for r in assigned.collect()}
        centl = [(r["cl"], r["cent"]) for r in cents.collect()]
        qrows = {r["vec_id"]: r["embedding"]
                 for r in emb.where(F.pmod("vec_id", F.lit(25)) == 0).collect()}
        for (q, v) in out:
            qv = [float(x) for x in qrows[q]]
            d2 = sorted(
                (sum((a - b) ** 2 for a, b in zip(qv, c)), cl)
                for cl, c in centl
            )
            probed = {cl for _, cl in d2[: ann.IVF_PROBE]}
            assert assign_map[v] in probed, (q, v)

    def test_plan_no_cartesian_no_python(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        queries = emb.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
        plan = (ann.ivfpq_topk(emb, queries, k=3)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan
        assert "Python" not in plan


class TestBpeEmptyTokens:
    def test_consecutive_spaces_no_phantom_merges(self, spark):
        """Real crawl text has consecutive/leading/trailing spaces;
        split(' ') then yields empty tokens, and Spark's
        sequence(1, 0) is DESCENDING — without the empty-word filter
        the engine emitted phantom ('','') merges (review-found)."""
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["a  b a  b a  b", " leading and trailing "],
        }))
        wc = {}
        for t in ["a  b a  b a  b", " leading and trailing "]:
            for w in t.split(" "):
                if w:
                    wc[w] = wc.get(w, 0) + 1
        got = tx.bpe_train(docs, n_merges=4)
        assert got == _python_bpe(wc, 4)
        assert all(m[1] != "" and m[2] != "" for m in got)


class TestPqDimGuard:
    def test_mismatched_dim_rejected(self, spark):
        """dim= must match the real embedding length: a silent slice
        past (or short of) the vector end trains garbage codebooks — a
        min/max length aggregate raises up front, also for a ragged
        corpus whose first row has the right length."""
        emb = load(spark, SF_DIR, "embeddings")
        with pytest.raises(ValueError, match="components"):
            ann.pq_index(emb, m=8, dim=32)
        with pytest.raises(ValueError, match="components"):
            ann.pq_topk(emb, emb.limit(2).select(
                F.col("vec_id").alias("qid"), "embedding"), k=3, dim=128)
        ragged = spark.createDataFrame(
            [(0, [1.0] * 32), (1, [1.0] * 32), (2, [1.0] * 31)],
            "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="31..32 components"):
            ann.pq_index(ragged, m=8, dim=32)


class TestBpeEncode:
    def test_matches_pure_python_reference(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        texts = [
            "lower lower lowest newer newer newest wider wide widest",
            "low lower  lowest new newer newest slow slower slowest",
            "the cat sat on the mat the cat ran",
        ]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
        wc = {}
        for t in texts:
            for w in t.split(" "):
                if w:
                    wc[w] = wc.get(w, 0) + 1
        merges = _python_bpe(wc, 10)
        got = {r.doc_id: r for r in
               tx.bpe_encode(docs, tx.bpe_train(docs, n_merges=10)).collect()}
        # apply the same merges in Python
        def encode(word):
            s = list(word)
            for _rank, l, r, _c in merges:
                out = []
                for x in s:
                    if out and out[-1] == l and x == r:
                        out[-1] = l + r
                    else:
                        out.append(x)
                s = out
            return len(s)
        for i, t in enumerate(texts):
            ws = [w for w in t.split(" ") if w]
            assert got[i].n_words == len(ws)
            assert got[i].n_tokens == sum(encode(w) for w in ws), (i, got[i])

    def test_no_merges_counts_chars(self, spark):
        import pandas as pd
        from whitebox_tools_spark.operators import text as tx

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["ab cde"]}))
        r = tx.bpe_encode(docs, []).collect()[0]
        assert (r.n_words, r.n_tokens) == (2, 5)
