"""Text analysis, dedup suite, ANN similarity, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ingest_spark.config import EngineConfig
from ingest_spark.functions import sketches as sk
from ingest_spark.functions import text as tx
from ingest_spark.operators import dedup, multimodal, similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestTextAnalysis:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, "  a  b   c "), (4, "don't stop, 42!")],
            "id long, text string",
        )
        got = {
            r.id: (r.ws, r.bpe)
            for r in df.select(
                "id",
                tx.ws_token_count(F.col("text")).alias("ws"),
                tx.bpe_ish_token_count(F.col("text")).alias("bpe"),
            ).collect()
        }
        assert got[1] == (2, 2)
        assert got[2] == (0, 0)
        assert got[3] == (3, 3)
        # don ' t stop , 42 ! → 7 BPE-ish tokens, 3 ws tokens
        assert got[4] == (3, 7)

    def test_quality_score_range_and_signal(self, spark, docs):
        scored = docs.select(tx.quality_score(F.col("text")).alias("q"))
        mn, mx = scored.agg(F.min("q"), F.max("q")).first()
        assert 0.0 <= mn <= mx <= 1.0
        garbage = spark.createDataFrame([(1, "!!! ??? 111 222 ###")], "id long, text string")
        good = spark.createDataFrame(
            [(1, "The quick brown fox jumps over the lazy dog and it is a fine day " * 5)],
            "id long, text string",
        )
        qg = garbage.select(tx.quality_score(F.col("text")).alias("q")).first().q
        qd = good.select(tx.quality_score(F.col("text")).alias("q")).first().q
        assert qd > qg

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is in the house and it is warm"),
                (2, "der Hund ist nicht in der Schule und das ist gut"),
                (3, "le chat est dans la maison et les enfants sont pour"),
                (4, "el perro es en la casa y los gatos son para el"),
                (5, "xyzzy plugh 12345"),
            ],
            "id long, text string",
        )
        got = {r.id: r.lang for r in df.select("id", tx.lang_id(F.col("text")).alias("lang")).collect()}
        assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
        assert got[4] == "es" and got[5] == "und"

    def test_fingerprints_deterministic(self, spark, docs):
        a = docs.select("doc_id", tx.md5_fingerprint(F.col("text")).alias("m"),
                        tx.rolling_fingerprint(F.col("text")).alias("r"))
        b = docs.select("doc_id", tx.md5_fingerprint(F.col("text")).alias("m"),
                        tx.rolling_fingerprint(F.col("text")).alias("r"))
        assert a.orderBy("doc_id").collect() == b.orderBy("doc_id").collect()
        # distinct texts → distinct rolling fingerprints (no collisions here)
        assert a.select("r").distinct().count() == docs.count()


class TestSketchKernels:
    def test_minhash_estimates_jaccard(self):
        rng = np.random.default_rng(1)
        base = "the quick brown fox jumps over the lazy dog " * 20
        # ~20% perturbation
        chars = list(base)
        idx = rng.choice(len(chars), size=len(chars) // 5, replace=False)
        for i in idx:
            chars[i] = "x"
        pert = "".join(chars)
        sa = sk.char_shingles(base, 5)
        sb = sk.char_shingles(pert, 5)
        true_j = len(np.intersect1d(sa, sb)) / len(np.union1d(sa, sb))
        est = sk.minhash_jaccard_estimate(
            sk.minhash_signature(sa, 128), sk.minhash_signature(sb, 128)
        )
        assert abs(est - true_j) < 0.15

    def test_minhash_batch_bit_identical(self):
        """minhash_signatures_batch (the UDF's kernel since round 5)
        must be BIT-identical to per-doc minhash_signature across doc
        sizes, chunk boundaries, and the empty-doc case."""
        rng = np.random.default_rng(7)
        docs = ["".join(chr(97 + c) for c in rng.integers(0, 26, n))
                for n in (0, 3, 7, 40, 500, 2000, 1, 999)] * 9
        sh = [sk.char_shingles(t, 5) for t in docs]
        per_doc = np.stack([sk.minhash_signature(s, 128) for s in sh])
        for chunk in (64, 1000, 16000):
            batch = sk.minhash_signatures_batch(sh, 128,
                                                max_chunk_hashes=chunk)
            assert (batch == per_doc).all(), chunk

    def test_simhash_close_for_similar(self):
        t1 = "spark makes large scale data processing simple and fast".split()
        t2 = "spark makes large scale data processing simple and quick".split()
        t3 = "completely different words entirely unrelated content here now".split()
        h = lambda ws: sk.simhash(np.array([sk.hash_str(w) for w in ws], dtype=np.uint64))  # noqa: E731
        d_sim = sk.hamming64([h(t1)], [h(t2)])[0]
        d_diff = sk.hamming64([h(t1)], [h(t3)])[0]
        assert d_sim < d_diff

    def test_hyperplane_buckets_deterministic(self):
        rng = np.random.default_rng(3)
        m = rng.standard_normal((50, 64))
        b1 = sk.hyperplane_buckets(m, 8)
        b2 = sk.hyperplane_buckets(m, 8)
        assert (b1 == b2).all()
        # near-identical vectors share buckets
        b3 = sk.hyperplane_buckets(m + 1e-9, 8)
        assert (b1 == b3).mean() > 0.95


class TestDedup:
    @pytest.fixture(scope="class")
    def dup_docs(self, spark, docs):
        """documents + exact copies of 10 docs (new ids) + near-copies."""
        base = docs.select("doc_id", "text")
        copies = (
            base.where(F.col("doc_id") < 10)
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
        near = (
            base.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 15))
            .select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail")).alias("text"),
            )
        )
        return base.unionByName(copies).unionByName(near).cache()

    def test_exact_duplicates(self, spark, dup_docs):
        pairs = dedup.exact_duplicates(dup_docs).collect()
        assert {(r.doc_id, r.canonical_id) for r in pairs} == {
            (i + 100000, i) for i in range(10)
        }
        kept = dedup.dedup_exact(dup_docs)
        assert kept.count() == dup_docs.count() - 10

    def test_minhash_finds_exact_and_near(self, spark, dup_docs):
        pairs = dedup.minhash_lsh_pairs(dup_docs, threshold=0.5).collect()
        found = {(r.doc_a, r.doc_b) for r in pairs}
        # all 10 exact copies must be found (est_jaccard = 1.0)
        for i in range(10):
            assert (i, i + 100000) in found
        # near-copies (tiny tail append) found too
        near_found = sum(1 for i in range(10, 15) if (i, i + 200000) in found)
        assert near_found >= 4

    def test_minhash_dedup_drops_dups(self, spark, dup_docs):
        kept = dedup.dedup_minhash(dup_docs, threshold=0.9)
        # all injected exact copies dropped, near-copies mostly dropped
        assert kept.where(F.col("doc_id").between(100000, 100009)).count() == 0
        assert kept.where(F.col("doc_id") >= 200000).count() <= 1
        # most originals kept (the testdata corpus has a few genuine
        # near-dups from its tiny vocabulary — those may drop too)
        assert kept.where(F.col("doc_id") < 100000).count() >= 450

    def test_simhash_pairs(self, spark, dup_docs):
        pairs = dedup.simhash_pairs(dup_docs, max_hamming=3).collect()
        found = {(r.doc_a, r.doc_b) for r in pairs}
        for i in range(10):
            assert (i, i + 100000) in found
        hams = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
        assert all(h == 0 for (a, b), h in hams.items() if b == a + 100000)

    def test_simhash_jvm_tokenizer_parity(self, spark, dup_docs):
        """JVM-side tokenization (F.split on \\s+) must produce
        byte-identical sketches to the legacy Python str.split() path
        on the corpus (ASCII whitespace; the documented divergence is
        Unicode-whitespace-only)."""
        jvm = {
            (r.doc_id, r.simhash)
            for r in dedup.with_simhash(dup_docs).collect()
        }
        legacy = {
            (r.doc_id, r.simhash)
            for r in dup_docs.select(
                "doc_id", dedup._simhash_udf()(F.col("text")).alias("simhash")
            ).collect()
        }
        assert jvm == legacy

    def test_simhash_degenerate_clique_bounded(self, spark):
        """10k identical/empty docs — the classic simhash skew bomb.
        All copies collapse to ONE distinct simhash value each, so the
        pigeonhole candidate join sees ≤2 value rows (zero or one
        candidate pair) instead of ~n²·(d+1); the only quadratic term
        is the required intra-clique OUTPUT, produced by an
        output-bound expansion join."""
        n = 5000
        rows = [(i, "") for i in range(n)] + [
            (n + i, "the same boilerplate page text every time") for i in range(n)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dedup.with_simhash(docs)
        vals = sh.select("simhash").distinct()
        assert vals.count() == 2
        # candidate stage is value-level: at most 1 candidate pair
        vp = dedup._simhash_value_pairs(vals, 3, hot_block_cap=1024)
        n_vp = vp.count()
        assert n_vp <= 1
        # the full operator completes and returns the two cliques
        # (plus the cross-clique pairs iff the two sims are within d)
        total = dedup.simhash_pairs(docs, max_hamming=3).count()
        clique = n * (n - 1) // 2
        expect = 2 * clique + (n * n if n_vp == 1 else 0)
        assert total == expect

    def test_simhash_hot_block_cap_parity(self, spark):
        """Hot-block sub-pigeonhole tier is EXACT: 300 distinct values
        all sharing pigeonhole block 0 (block-0 group far over cap)
        must yield the identical pair set with and without the cap."""
        import random

        rng = random.Random(7)
        base = rng.getrandbits(48) << 16 | 0x1234
        vals_py = {base}
        while len(vals_py) < 280:
            # random high bits, same low 16 (block 0)
            vals_py.add(rng.getrandbits(48) << 16 | 0x1234)
        # planted near pairs (single high-bit flips -> hamming 1)
        for v in list(vals_py)[:20]:
            vals_py.add(v ^ (1 << rng.randrange(20, 63)))
        to_i64 = lambda u: u - (1 << 64) if u >= (1 << 63) else u
        vals = spark.createDataFrame(
            [(to_i64(v),) for v in vals_py], "simhash long"
        )
        capped = {
            (r.sh_a, r.sh_b, r.hamming)
            for r in dedup._simhash_value_pairs(vals, 3, hot_block_cap=50).collect()
        }
        uncapped = {
            (r.sh_a, r.sh_b, r.hamming)
            for r in dedup._simhash_value_pairs(vals, 3, hot_block_cap=10**9).collect()
        }
        assert len(uncapped) >= 20
        assert capped == uncapped

    def test_simhash_star_tier_connectivity(self, spark):
        """Adversarial near-clique (values equal on block 0 AND the
        first complement sub-block, > cap of them): the final star tier
        keeps every member connected to the group rep with bounded
        candidates instead of going quadratic."""
        base = 0x0123456789ABCDEF & ((1 << 40) - 1)  # bits 40+ zero
        vals_py = [base] + [base | (1 << b) for b in range(40, 63)]
        # members FAR from the rep (hamming 5 > max_hamming) but close
        # to each other — the star pair must survive the hamming cut
        # (emitted with its true hamming) or they lose all their pairs
        far_a = base | (0b11111 << 40)
        far_b = base | (0b11110 << 40) | (1 << 45)
        vals_py += [far_a, far_b]
        vals = spark.createDataFrame([(v,) for v in vals_py], "simhash long")
        pairs = dedup._simhash_value_pairs(vals, 3, hot_block_cap=8).collect()
        seen = {r.sh_a for r in pairs} | {r.sh_b for r in pairs}
        # every member pairs with the rep — including the far ones
        assert seen == set(vals_py)
        star_h = {r.hamming for r in pairs if far_a in (r.sh_a, r.sh_b)}
        assert any(hh > 3 for hh in star_h)  # true hamming, not capped
        # star tier emits O(group) pairs, not O(group^2)
        assert len(pairs) <= 3 * len(vals_py)

    def test_ngram_jaccard_exact_pairs(self, spark, dup_docs):
        pairs = dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.9).collect()
        found = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
        for i in range(10):
            assert found.get((i, i + 100000)) == pytest.approx(1.0)

    def test_ngram_jaccard_hot_gram_skew_parity(self, spark):
        """Hot-gram corpus: a boilerplate trigram shared by EVERY doc
        (the naive explode-join would produce n² candidate rows on it).
        The prefix-filtered plan must still return the exact pair set —
        verified against a brute-force Python computation."""
        import itertools
        import re

        boiler = "all rights reserved worldwide"
        bodies = [
            f"unique text {i} alpha beta gamma delta epsilon {boiler}" for i in range(40)
        ] + [
            # true near-dups of doc 0 (high Jaccard)
            f"unique text 0 alpha beta gamma delta epsilon {boiler}",
            f"unique text 0 alpha beta gamma delta zeta {boiler}",
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(bodies)], "doc_id long, text string"
        )
        t = 0.5
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
        }

        def gramset(s):
            w = re.sub(r"[^a-z0-9]+", " ", s.lower()).split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        sets = [gramset(b) for b in bodies]
        want = {}
        for a, b in itertools.combinations(range(len(bodies)), 2):
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni and inter / uni >= t:
                want[(a, b)] = inter / uni
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k])

    def test_embedding_cosine_pairs(self, spark, embeddings):
        # exact copies of 5 vectors
        copies = embeddings.where(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
        )
        dup = embeddings.unionByName(copies)
        exact = dedup.embedding_cosine_pairs(dup, threshold=0.999, exact=True)
        got = {(r.id_a, r.id_b) for r in exact.collect()}
        for i in range(5):
            assert (i, i + 1000) in got
        # LSH path finds the identical pairs too (same bucket guaranteed)
        lsh = dedup.embedding_cosine_pairs(dup, threshold=0.999, n_planes=8)
        got_lsh = {(r.id_a, r.id_b) for r in lsh.collect()}
        for i in range(5):
            assert (i, i + 1000) in got_lsh


class TestSimilarity:
    def test_ann_lsh_contract_recall_bound(self, spark):
        """The contract's scale-path ANN entry (ann_lsh_topk) must keep
        recall >= 0.9 against the exact brute-force oracle on the
        driver's own testdata and parameters."""
        from ingest_spark.operators.similarity import ann_topk, cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        queries = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        exact = {
            (r.qid, r.vec_id)
            for r in cosine_topk(emb, queries, k=5).collect()
        }
        approx = {
            (r.qid, r.vec_id)
            for r in ann_topk(
                emb, queries, k=5, n_planes=4, n_probe=5, n_tables=8
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"ANN recall {recall:.3f} < 0.9"

    def test_exact_topk_self_match(self, spark, embeddings):
        queries = embeddings.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        rows = exact.collect()
        # rank 1 of each query must be the query itself (cosine 1.0)
        top1 = {r.qid: (r.vec_id, r.cosine) for r in rows if r.rank == 1}
        assert all(q == v and c == pytest.approx(1.0) for q, (v, c) in top1.items())
        assert all(len([r for r in rows if r.qid == q]) == 5 for q in top1)

    def test_ann_recall_on_clustered_vectors(self, spark):
        """LSH recall is only meaningful on structured data: 20 tight
        clusters — true neighbors share sign buckets with high prob."""
        rng = np.random.default_rng(9)
        centers = rng.standard_normal((20, 32))
        rows = []
        for i in range(400):
            c = centers[i % 20]
            v = c + rng.standard_normal(32) * 0.05
            rows.append((i, [float(x) for x in v]))
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = vecs.where(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        exact = similarity.cosine_topk(vecs, queries, k=5)
        approx = similarity.ann_topk(vecs, queries, k=5, n_planes=8, n_probe=9)
        e = {(r.qid, r.vec_id) for r in exact.collect()}
        a = {(r.qid, r.vec_id) for r in approx.collect()}
        assert len(e & a) / len(e) >= 0.9


class TestMultimodal:
    def test_unknown_format_requires_lib_or_fake(self, spark):
        """BMP/PPM/PNG/JPEG/GIF/WebP-lossless decode natively;
        unrecognized magic (e.g. AVIF) without PIL must raise rather
        than silently produce wrong pixels."""
        if multimodal.HAVE_PIL:
            pytest.skip("PIL present: unknown formats decode for real")
        avif = b"\x00\x00\x00\x1cftypavif" + b"\x00" * 64
        media = spark.createDataFrame(
            [(1, "image", avif, "image/avif", 16, 16, None, len(avif))],
            multimodal.MEDIA_SCHEMA,
        )
        with pytest.raises(Exception, match="PIL"):
            multimodal.decode_image(media, fake=False).collect()
        # fake=True pseudo-decodes it instead
        rows = multimodal.decode_image(media, fake=True).collect()
        assert len(rows) == 1 and len(rows[0].pixels) == 16 * 16 * 3

    def test_webp_routes_natively_and_corrupt_raises(self, spark):
        """WebP now routes to the native VP8L decoder (round 7) —
        valid payloads decode without PIL; a RIFF/WEBP container with
        no VP8L chunk raises rather than pseudo-decoding, even with
        fake=True (a recognized container that fails to parse is
        corrupt data, not an unknown format)."""
        from ingest_spark.functions import webp as webp_codec
        import numpy as np
        rgb = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
        good = webp_codec.encode(rgb, subtract_green=True)
        media = spark.createDataFrame(
            [(1, "image", good, "image/webp", 8, 8, None, len(good))],
            multimodal.MEDIA_SCHEMA,
        )
        rows = multimodal.decode_image(media, fake=False).collect()
        got = np.array(rows[0].pixels).reshape(8, 8, 3)
        assert (np.round(got * 255).astype(np.uint8) == rgb).all()
        bad = b"RIFF\x00\x01\x00\x00WEBP" + b"\x00" * 64
        media_bad = spark.createDataFrame(
            [(2, "image", bad, "image/webp", 16, 16, None, len(bad))],
            multimodal.MEDIA_SCHEMA,
        )
        with pytest.raises(Exception, match="VP8L|truncated"):
            multimodal.decode_image(media_bad, fake=True).collect()

    def test_png_codec_roundtrip_all_filters(self):
        import numpy as np

        rng = np.random.default_rng(0)
        for ft in range(5):
            for (h, w) in ((1, 1), (3, 5), (31, 17), (48, 64)):
                rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                data = multimodal.png_encode(rgb, filter_type=ft)
                assert data[:8] == multimodal._PNG_SIG
                assert np.array_equal(multimodal.png_decode(data), rgb)

    def test_png_crc_tamper_detected(self):
        import numpy as np

        rgb = multimodal.synthetic_pixels(7, 20, 18)
        data = bytearray(multimodal.png_encode(rgb, filter_type=2))
        data[40] ^= 1
        with pytest.raises(ValueError, match="CRC"):
            multimodal.png_decode(bytes(data))

    def test_png_rgba_alpha_dropped(self):
        import struct
        import zlib

        import numpy as np

        rng = np.random.default_rng(1)
        h, w = 4, 6
        rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        lines = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))

        def chunk(t, p):
            return (
                struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)
            )

        data = (
            multimodal._PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(lines))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(multimodal.png_decode(data), rgba[:, :, :3])

    def test_synthetic_media_mixes_bmp_and_png(self, spark):
        """Half the image rows ship as REAL PNGs (rotating through all
        five filter types) — the pixel-exact contract oracles therefore
        pin both the BMP and the PNG decoder."""
        import numpy as np

        rows = multimodal.synthetic_media(spark, n=60).where(
            F.col("kind") == "image"
        ).select("media_id", "mime", "content").collect()
        mimes = {r.mime for r in rows}
        assert mimes == {"image/bmp", "image/png"}
        for r in rows:
            raw = bytes(r.content)
            want = multimodal.synthetic_pixels(
                r.media_id, 16 + r.media_id % 16, 16 + (r.media_id * 7) % 16
            )
            if r.mime == "image/png":
                assert raw[:8] == multimodal._PNG_SIG
                got = multimodal.png_decode(raw)
            else:
                assert raw[:2] == b"BM"
                got = multimodal.bmp_decode(raw)
            assert np.array_equal(got, want), r.media_id

    def test_bmp_codec_roundtrip_and_golden(self):
        import numpy as np

        # odd width exercises 4-byte row padding; values exercise BGR swap
        rgb = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(3, 5, 3)
        data = multimodal.bmp_encode(rgb)
        assert data[:2] == b"BM"
        pad = (4 - (5 * 3) % 4) % 4
        assert len(data) == 54 + 3 * (5 * 3 + pad)
        back = multimodal.bmp_decode(data)
        assert (back == rgb).all()
        # golden 1x1 red pixel: header + bottom-up BGR row padded to 4
        one = multimodal.bmp_encode(np.array([[[255, 0, 0]]], dtype=np.uint8))
        assert one[-4:] == b"\x00\x00\xff\x00"  # B,G,R + 1 pad byte

    def test_ppm_codec_roundtrip(self):
        import numpy as np

        rgb = (np.arange(4 * 7 * 3, dtype=np.int64) * 13 % 256).astype(
            np.uint8
        ).reshape(7, 4, 3)
        data = multimodal.ppm_encode(rgb)
        assert data.startswith(b"P6\n4 7\n255\n")
        assert (multimodal.ppm_decode(data) == rgb).all()

    def test_wav_codec_roundtrip_and_chunk_walk(self):
        import numpy as np

        s = multimodal.synthetic_samples(9, 1001)  # odd count → odd chunk
        data = multimodal.wav_encode(s, 8000)
        sr, back = multimodal.wav_decode(data)
        assert sr == 8000 and (back == s).all()
        # extra chunk before data must be skipped by the walk
        extra = data[:12] + b"LIST\x04\x00\x00\x00abcd" + data[12:]
        head = bytearray(extra)
        # fix RIFF size
        import struct
        struct.pack_into("<I", head, 4, len(extra) - 8)
        sr2, back2 = multimodal.wav_decode(bytes(head))
        assert sr2 == 8000 and (back2 == s).all()

    def test_avi_codec_roundtrip_and_layout(self):
        import numpy as np
        import struct

        rng = np.random.default_rng(3)
        frames = rng.integers(0, 256, (5, 7, 9, 3), dtype=np.uint8)
        data = multimodal.avi_encode(frames, fps=4)
        # valid RIFF AVI: magic, size field, index present
        assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
        assert struct.unpack_from("<I", data, 4)[0] == len(data) - 8
        assert b"idx1" in data and b"00db" in data
        fps, back = multimodal.avi_decode(data)
        assert fps == 4 and back.shape == frames.shape
        assert (back == frames).all()

    def test_compressed_media_decode_stats(self, spark):
        """The round-6 compressed layer end-to-end through Spark:
        synthetic JPEG/GIF/PNG payloads decode via the magic-byte
        router; GIF/PNG rows are byte-exact, JPEG rows land within
        the documented tolerance, shapes match the closed form."""
        media = multimodal.synthetic_compressed_media(spark, n=60)
        rows = multimodal.decode_compressed_stats(media).collect()
        assert len(rows) == 60
        for r in rows:
            assert r.fmt == ["jpeg", "gif", "png"][r.media_id % 3]
            assert r.width == 12 + r.media_id % 13
            assert r.height == 12 + (r.media_id * 5) % 17
            assert r.n_px == r.width * r.height * 3
            assert r.within_tol, (r.media_id, r.fmt)
            if r.fmt != "jpeg":
                assert r.lossless_exact, (r.media_id, r.fmt)
        # the generic decode_image path routes the same payloads
        imgs = media.withColumnRenamed("fmt", "kind").withColumn(
            "kind", F.lit("image"))
        d = multimodal.decode_image(imgs).collect()
        assert len(d) == 60
        by_id = {r.media_id: r for r in d}
        for r in rows:
            assert len(by_id[r.media_id].pixels) == r.n_px

    def test_video_stats_match_pattern(self, spark):
        """decode_video_stats parses the real AVI payloads frame-exact:
        per-frame checksums equal the closed-form pattern sums."""
        import numpy as np

        media = multimodal.synthetic_media(spark, n=30)
        rows = multimodal.decode_video_stats(media).collect()
        assert rows, "no video rows decoded"
        for r in rows:
            want = multimodal.synthetic_video_pixels(
                r.media_id, r.frame_idx, r.width, r.height
            ).sum(dtype=np.int64)
            assert r.checksum == int(want), (r.media_id, r.frame_idx)
        # one frame-row per second of duration
        n_frames = {r.media_id for r in rows}
        vids = {m.media_id: m.duration_ms for m in media.collect()
                if m.kind == "video"}
        assert n_frames == set(vids)
        # multi-frame decode through Spark (synthetic_media durations
        # under n=500 are all < 2 s, so build 3/6/9-frame AVIs by hand)
        hand = []
        for mid, nf in ((2000, 3), (5000, 6), (8000, 9)):
            frames = np.stack([
                multimodal.synthetic_video_pixels(mid, t, 12, 10)
                for t in range(nf)
            ])
            blob = multimodal.avi_encode(frames, fps=1)
            hand.append((mid, "video", blob, "video/x-msvideo", 12, 10,
                         nf * 1000, len(blob)))
        hdf = spark.createDataFrame(hand, multimodal.MEDIA_SCHEMA)
        hrows = multimodal.decode_video_stats(hdf).collect()
        assert len(hrows) == 3 + 6 + 9
        for r in hrows:
            want = multimodal.synthetic_video_pixels(
                r.media_id, r.frame_idx, r.width, r.height
            ).sum(dtype=np.int64)
            assert r.checksum == int(want) and (r.width, r.height) == (12, 10)

    def test_real_decode_matches_pattern(self, spark):
        """decode_image on synthetic media parses the REAL BMP bytes and
        must reproduce the closed-form pixel pattern exactly."""
        import numpy as np

        media = multimodal.synthetic_media(spark, 30)
        rows = multimodal.decode_image(media).collect()
        assert len(rows) == 10
        for r in rows:
            want = multimodal.synthetic_pixels(r.media_id, r.width, r.height)
            got = np.rint(
                np.asarray(r.pixels, dtype=np.float32).reshape(
                    r.height, r.width, 3
                ) * 255.0
            ).astype(np.uint8)
            assert (got == want).all()

    def test_audio_stats_match_pattern(self, spark):
        media = multimodal.synthetic_media(spark, 30)
        rows = multimodal.decode_audio_stats(media).collect()
        assert len(rows) == 10
        for r in rows:
            n = r.n_samples
            s = multimodal.synthetic_samples(r.media_id, n)
            assert r.sample_rate == 8000
            assert r.checksum == int(s.sum())

    def test_fake_decode_pipeline(self, spark):
        media = multimodal.synthetic_media(spark, 30)
        decoded = multimodal.decode_image(media, fake=True)
        rows = decoded.collect()
        assert len(rows) == 10  # every 3rd is an image
        for r in rows:
            assert len(r.pixels) == r.height * r.width * 3
        resized = multimodal.resize(decoded, 4, 4).collect()
        assert all(len(r.pixels) == 4 * 4 * 3 for r in resized)
        feats = multimodal.feature_extract(decoded, dim=16).collect()
        assert all(len(r.embedding) == 16 for r in feats)
        # determinism
        again = multimodal.feature_extract(multimodal.decode_image(media, fake=True), dim=16).collect()
        assert sorted(map(lambda r: (r.media_id, tuple(r.embedding)), feats)) == \
            sorted(map(lambda r: (r.media_id, tuple(r.embedding)), again))

    def test_frame_sampling(self, spark):
        media = multimodal.synthetic_media(spark, 30)
        frames = multimodal.frame_sample(media, every_ms=1000)
        per_video = frames.groupBy("media_id").count()
        vids = media.where(F.col("kind") == "video").select("media_id", "duration_ms")
        joined = per_video.join(vids, "media_id")
        bad = joined.where(
            F.col("count") != F.greatest(F.floor(F.col("duration_ms") / 1000), F.lit(1))
        )
        assert bad.count() == 0


class TestNgramPrefixFilterProperty:
    @pytest.mark.parametrize("seed,t", [(1, 0.3), (2, 0.5), (3, 0.7), (4, 0.9)])
    def test_random_corpora_match_brute_force(self, spark, seed, t):
        """Prefix filtering is provably lossless — verify on random
        small-vocab corpora (which maximize shared grams and stress
        the prefix bound) across thresholds."""
        import itertools
        import re

        rng = np.random.default_rng(seed)
        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
        bodies = [
            " ".join(rng.choice(vocab, rng.integers(3, 12)))
            for _ in range(30)
        ]
        docs = spark.createDataFrame(
            [(i, b) for i, b in enumerate(bodies)], "doc_id long, text string"
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
        }

        def gramset(s):
            w = re.sub(r"[^a-z0-9]+", " ", s.lower()).split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        sets = [gramset(b) for b in bodies]
        want = set()
        for a, b in itertools.combinations(range(len(bodies)), 2):
            if not sets[a] or not sets[b]:
                continue
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= t:
                want.add((a, b))
        assert got == want


class TestConnectedComponents:
    def test_transitive_clusters_and_singletons(self, spark):
        from ingest_spark.operators.dedup import (
            connected_components, duplicate_components,
        )
        from pyspark.sql import functions as F

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 5), (5, 6), (10, 11)], "src long, dst long"
        )
        comp = {r.node: r.component for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5, 10: 10, 11: 10}

        docs = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id long")
        pairs = edges.withColumnRenamed("src", "doc_a").withColumnRenamed("dst", "doc_b")
        dc = {r.doc_id: r.component for r in duplicate_components(docs, pairs).collect()}
        assert dc[4] == 4 and dc[12] == 12  # singletons
        assert dc[3] == 1 and dc[6] == 5

    def test_long_chain_pointer_doubling(self, spark):
        """A 200-node path graph converges within the round bound only
        because of pointer doubling (plain propagation would need ~200
        rounds); result must still be exact min-label. Forces the
        DISTRIBUTED tier (driver_threshold=0)."""
        from ingest_spark.operators.dedup import connected_components

        n = 200
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )
        out = connected_components(edges, max_rounds=12, driver_threshold=0)
        comps = {r.component for r in out.collect()}
        assert comps == {0}
        assert out.count() == n + 1

    def test_driver_and_distributed_tiers_agree(self, spark):
        """The small-graph driver union-find and the distributed
        pointer-doubling loop are the same function (randomized)."""
        import random

        from ingest_spark.operators.dedup import connected_components

        rng = random.Random(3)
        edges = spark.createDataFrame(
            [(rng.randrange(400), rng.randrange(400)) for _ in range(300)],
            "src long, dst long",
        ).where(F.col("src") != F.col("dst"))
        a = {(r.node, r.component)
             for r in connected_components(edges).collect()}
        b = {(r.node, r.component)
             for r in connected_components(edges, driver_threshold=0).collect()}
        assert a == b

    @pytest.mark.parametrize("driver_threshold", [200_000, 0])
    def test_null_endpoint_edges_are_dropped(self, spark, driver_threshold):
        """An edge with a null end connects nothing: (null, 9) must not
        turn into the self-loop (9, 9) and make 9 a node, in either tier."""
        from ingest_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (None, 9), (7, None), (None, None)], "src long, dst long"
        )
        comp = {r.node: r.component for r in connected_components(
            edges, driver_threshold=driver_threshold).collect()}
        assert comp == {1: 1, 2: 1}

    def test_exact_vs_onehop_difference(self, spark):
        """The scenario one-hop dedup gets wrong: A~B and B~C without
        A~C. Components must merge all three."""
        from ingest_spark.operators.dedup import connected_components

        edges = spark.createDataFrame([(30, 20), (20, 10)], "src long, dst long")
        comp = {r.node: r.component for r in connected_components(edges).collect()}
        assert comp == {10: 10, 20: 10, 30: 10}


class TestIncrementalMinhash:
    def test_two_batches_equal_full_recompute(self, spark):
        """Feed the corpus in two batches through the signature-state
        machine; the union of per-batch pair sets must equal the
        one-shot full recompute (and the final state must cover every
        doc)."""
        from pyspark.sql import functions as F

        from ingest_spark.operators.dedup import (
            minhash_lsh_pairs, minhash_lsh_pairs_incremental, with_minhash,
        )

        base = "the quick brown fox jumps over the lazy dog while numbers run"
        rows = []
        for i in range(60):
            # clusters of 3 near-identical docs
            rows.append((i, base + f" cluster{i // 3} tail {i % 3}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        full = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(docs, threshold=0.6).collect()
        }

        b1 = docs.where(F.col("doc_id") < 40)
        b2 = docs.where(F.col("doc_id") >= 40)
        sigs0 = with_minhash(spark.createDataFrame([], "doc_id long, text string"))
        p1, st1 = minhash_lsh_pairs_incremental(sigs0, b1, threshold=0.6)
        p2, st2 = minhash_lsh_pairs_incremental(st1, b2, threshold=0.6)
        got = {(r.doc_a, r.doc_b) for r in p1.collect()} | {
            (r.doc_a, r.doc_b) for r in p2.collect()
        }
        assert got == full and len(full) > 0
        assert st2.count() == 60

    def test_replayed_batch_does_not_corrupt_state(self, spark):
        """At-least-once delivery: re-feeding an already-ingested doc id
        must not duplicate signature-state rows or fan out pairs."""
        from pyspark.sql import functions as F

        from ingest_spark.operators.dedup import (
            minhash_lsh_pairs_incremental, with_minhash,
        )

        docs = spark.createDataFrame(
            [(i, f"common shared text body tail {i % 2}") for i in range(10)],
            "doc_id long, text string",
        )
        b1 = docs.where(F.col("doc_id") < 6)
        sigs0 = with_minhash(spark.createDataFrame([], "doc_id long, text string"))
        p1, st1 = minhash_lsh_pairs_incremental(sigs0, b1, threshold=0.6)
        # replay: batch 2 re-delivers docs 4-5 alongside new 6-9
        b2 = docs.where(F.col("doc_id") >= 4)
        p2, st2 = minhash_lsh_pairs_incremental(st1, b2, threshold=0.6)
        assert st2.count() == 10  # no duplicate state rows
        assert st2.select("doc_id").distinct().count() == 10
        pairs2 = [(r.doc_a, r.doc_b) for r in p2.collect()]
        assert len(pairs2) == len(set(pairs2))  # no fanned-out duplicates

    def test_updated_text_on_redelivered_id_is_an_update(self, spark):
        """A redelivered id with CHANGED text must replace the stored
        signature and re-emit pairs (an update, not a replay)."""
        from pyspark.sql import functions as F

        from ingest_spark.operators.dedup import (
            minhash_lsh_pairs_incremental, with_minhash,
        )

        b1 = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon wholly unique content one"),
             (2, "completely different text body with nothing shared here")],
            "doc_id long, text string",
        )
        sigs0 = with_minhash(spark.createDataFrame([], "doc_id long, text string"))
        p1, st1 = minhash_lsh_pairs_incremental(sigs0, b1, threshold=0.6)
        assert p1.count() == 0
        # batch 2: doc 1 redelivered with text now near-identical to new doc 3
        b2 = spark.createDataFrame(
            [(1, "shared near duplicate body of text tail one"),
             (3, "shared near duplicate body of text tail two")],
            "doc_id long, text string",
        )
        p2, st2 = minhash_lsh_pairs_incremental(st1, b2, threshold=0.5)
        got = {(r.doc_a, r.doc_b) for r in p2.collect()}
        assert (1, 3) in got
        assert st2.count() == 3  # updated in place, no duplicate rows
        # the stored signature for doc 1 is the NEW one: pairing it
        # against its new twin must also hold on a THIRD batch
        b3 = spark.createDataFrame(
            [(4, "shared near duplicate body of text tail three")],
            "doc_id long, text string",
        )
        p3, _ = minhash_lsh_pairs_incremental(st2, b3, threshold=0.5)
        got3 = {(r.doc_a, r.doc_b) for r in p3.collect()}
        assert (1, 4) in got3 and (3, 4) in got3
