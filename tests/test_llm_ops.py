"""Unit tests for the LLM-data-pipeline operators: cross-engine
agreement (blocked vs naive, LSH vs exact), skew-cap fan-out bounds,
and plumbing checks the driver oracles can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_flink_210726_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from gmall_flink_210726_spark.operators.multimodal import (
    decode_media,
    media_from_documents,
)
from gmall_flink_210726_spark.operators.similarity import ann_lsh_topk, knn_bruteforce
from gmall_flink_210726_spark.sources.batch import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


class TestDedup:
    def test_exact_dedup_identical_texts(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "A  b C "), (4, "other text")],
            ["doc_id", "text"],
        )
        out = {r.keep_id: r.dup_count for r in exact_dedup(df).collect()}
        # normalization folds case/whitespace: 1,2,3 are one group
        assert out == {1: 3, 4: 1}

    def test_simhash_identical_and_different(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog again and again"),
                (2, "the quick brown fox jumps over the lazy dog again and again"),
                (3, "completely unrelated words nothing shared here at all today friends"),
            ],
            ["doc_id", "text"],
        )
        sigs = {r.id: r.simhash for r in simhash64(df).collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[3]
        pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(df).collect()}
        assert pairs == {(1, 2): 0}

    def test_simhash_near_pairs_overlap_jaccard(self, docs):
        """SimHash (hamming ≤ 3) should find mostly the same near-dups
        as exact 3-gram Jaccard on the fixture's bimodal data."""
        sim = {(r.id_a, r.id_b) for r in simhash_near_pairs(docs).collect()}
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        assert len(exact) > 0
        # token-multiset vs sequence signals differ; require strong overlap
        assert len(sim & exact) >= 0.7 * len(exact)

    def test_minhash_recall_on_fixture(self, docs):
        exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, k=64, bands=16, threshold=0.5).collect()}
        assert lsh == exact  # exact-verified candidates, full recall here

    def test_max_df_skew_cap(self, docs):
        capped = ngram_jaccard_pairs(docs, threshold=0.5, max_df=2)
        # dropping hot shingles must never create pairs from nothing
        uncapped = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        for r in capped.collect():
            assert (r.id_a, r.id_b) in uncapped

    def test_max_df_bounds_join_fanout(self, spark):
        """The skew guard the registered query relies on: a shingle
        shared by k docs fans the co-occurrence join out k·(k-1)/2 rows;
        max_df drops it entirely, so a pathological hot shingle adds
        ZERO join rows instead of k²."""
        hot = "common boilerplate header text"  # 4 words → 2 shingles
        rows = [(i, f"{hot} unique tail {i} alpha beta") for i in range(50)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from gmall_flink_210726_spark.operators.dedup import _shingle_table

        capped = _shingle_table(df, "doc_id", "text", 3, max_df=10)
        dfs = capped.groupBy("sh").count()
        assert dfs.filter(F.col("count") > 10).count() == 0
        # and the registered query's threshold still finds nothing here
        # (tails differ), capped or not — the cap only removes noise
        assert ngram_jaccard_pairs(df, threshold=0.5, max_df=10).count() == 0

    def test_bucket_pairs_degenerate_skew_bounded(self, spark):
        """Degenerate-skew guard: a corpus of k identical docs lands
        every doc in ONE (band, bv) bucket per band. The sliding-window
        pair miner must emit O(k·cap) pairs — never the k²/2 blow-up —
        and hold at most a cap-sized frame per task."""
        from gmall_flink_210726_spark.operators.dedup import _bucket_pairs

        g, cap = 200, 8
        banded = spark.createDataFrame(
            [(i, 0, 42) for i in range(g)], "id long, band int, bv long"
        )
        n = _bucket_pairs(banded, max_bucket=cap).count()
        # exact sliding-window pair count: sum_i min(i, cap)
        expected = sum(min(i, cap) for i in range(g))
        assert n == expected
        assert n < g * g // 4  # nowhere near the quadratic blow-up

    def test_bucket_pairs_exact_below_cap(self, spark):
        """For buckets of g ≤ cap+1 the capped miner is IDENTICAL to
        all-pairs i<j — the cap only changes degenerate buckets, so
        every existing oracle output is unchanged."""
        from gmall_flink_210726_spark.operators.dedup import _bucket_pairs

        banded = spark.createDataFrame(
            [(i, 0, 7) for i in range(6)] + [(10, 1, 9), (11, 1, 9)],
            "id long, band int, bv long",
        )
        got = {
            (r.ia, r.ib)
            for r in _bucket_pairs(banded)
            .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
            .collect()
        }
        want = {(i, j) for i in range(6) for j in range(i + 1, 6)} | {(10, 11)}
        assert got == want

    def test_capped_lsh_identical_docs_cluster_fully(self, spark):
        """End-to-end degenerate case: 120 identical docs, tiny cap.
        The capped candidate set still chains every doc, so
        connected-components recovers ONE cluster of all 120 — recall
        of the dedup GROUPS survives the cap even when long-range
        pairs are elided. The capped pair graph is chain-like (each doc
        linked to its ``cap`` sorted neighbors), so its diameter is
        g/cap — the O(log n) star-contraction CC is the right closer
        here, exactly as its docstring prescribes for deep chains."""
        from gmall_flink_210726_spark.operators.dedup import (
            connected_components_star,
        )

        g = 120
        df = spark.createDataFrame(
            [(i, "the same exact document body repeated many times over")
             for i in range(g)],
            ["doc_id", "text"],
        )
        pairs = minhash_lsh_pairs(df, max_bucket=4)
        cc = connected_components_star(
            pairs, df.select(F.col("doc_id").alias("id")), node_col="id"
        )
        clusters = {r.cluster_id for r in cc.collect()}
        assert clusters == {0}


class TestSimilarity:
    def test_knn_self_excluded_and_k(self, emb):
        out = knn_bruteforce(emb, query_ids=[0, 1, 2], k=5).collect()
        assert len(out) == 15
        assert all(r.neighbor_id != r.query_id for r in out)
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
        for q, rows in by_q.items():
            rows.sort()
            coss = [c for _, c in rows]
            assert coss == sorted(coss, reverse=True)

    def test_blocked_knn_equals_jvm_fold(self, emb):
        from gmall_flink_210726_spark.operators.similarity import knn_bruteforce_blocked

        qids = list(range(10))
        a = {(r.query_id, r.rank): (r.neighbor_id, r.cos) for r in knn_bruteforce(emb, qids, 5).collect()}
        b = {(r.query_id, r.rank): (r.neighbor_id, r.cos) for r in knn_bruteforce_blocked(emb, qids, 5).collect()}
        assert a == b

    def test_lsh_ann_recall(self, emb):
        """Multi-table bucketed ANN: top-1 recall vs brute force ≥ 60%
        with 16 tables × 4 planes (documented tradeoff, not exactness)."""
        qids = list(range(20))
        bf = {r.query_id: r.neighbor_id for r in knn_bruteforce(emb, qids, k=1).collect()}
        ann = {r.query_id: r.neighbor_id for r in ann_lsh_topk(emb, qids, k=1).collect()}
        hits = sum(1 for q, n in ann.items() if bf.get(q) == n)
        assert len(ann) == len(qids)
        assert hits / len(ann) >= 0.6

    def test_lsh_ann_48_tables_identical_to_exact(self, emb):
        """The registered config (48 tables, seed 11) is pinned to be
        IDENTICAL to exact KNN on the fixture — this is what lets the
        driver use the exact-KNN SQL as its oracle."""
        qids = list(range(10))
        exact = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
                 for r in knn_bruteforce(emb, qids, k=5).collect()}
        lsh = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
               for r in ann_lsh_topk(emb, qids, k=5, n_tables=48).collect()}
        assert lsh == exact

    def test_blocked_threshold_pairs_equal_naive(self, emb):
        from gmall_flink_210726_spark.operators.similarity import (
            cosine_threshold_pairs,
            cosine_threshold_pairs_blocked,
        )

        naive = {(r.id_a, r.id_b): r.cos
                 for r in cosine_threshold_pairs(emb, 0.4).collect()}
        for n_blocks in (1, 3, 8):
            blocked = {(r.id_a, r.id_b): r.cos
                       for r in cosine_threshold_pairs_blocked(emb, 0.4, n_blocks).collect()}
            assert blocked == naive

    def test_lsh_threshold_pairs_high_threshold(self, spark):
        """At HIGH thresholds the LSH-bucketed pair miner is exact-in-
        practice: synthetic near-dup vectors (cos ≥ 0.95) all collide in
        ≥1 of 16 tables; verification inside buckets means no false
        positives at any threshold."""
        import numpy as np

        from gmall_flink_210726_spark.operators.similarity import (
            cosine_threshold_pairs,
            cosine_threshold_pairs_lsh,
        )

        rng = np.random.RandomState(3)
        base = rng.standard_normal((20, 16))
        rows = []
        for i, v in enumerate(base):
            rows.append((2 * i, [float(x) for x in v]))
            near = v + 0.05 * rng.standard_normal(16)  # cos ≈ 0.999
            rows.append((2 * i + 1, [float(x) for x in near]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        naive = {(r.id_a, r.id_b) for r in cosine_threshold_pairs(df, 0.95).collect()}
        lsh = {(r.id_a, r.id_b) for r in cosine_threshold_pairs_lsh(df, 0.95).collect()}
        assert lsh <= naive  # no false positives, ever
        assert len(lsh & naive) >= 0.9 * len(naive)  # near-total recall


class TestMultimodal:
    def test_decode_plumbing(self, spark, docs):
        media = media_from_documents(docs)
        decoded = decode_media(media).cache()
        assert decoded.count() == docs.count()
        joined = decoded.join(
            docs.select(F.col("doc_id").alias("media_id"), F.length("text").alias("n")),
            "media_id",
        )
        assert joined.filter(F.col("n_bytes") != F.col("n")).count() == 0
        assert decoded.filter(F.col("header") <= 0).count() == 0

    def test_real_codec_is_stubbed(self):
        from gmall_flink_210726_spark.operators.multimodal import decode_image

        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG....")

    def test_real_header_decode_round_trip(self, spark):
        """synthesize_media writes real BMP/WAV bytes; decode_media_headers
        must recover every header field + the exact payload byte sum the
        fixture formulas predict — WITHOUT seeing the formulas."""
        from gmall_flink_210726_spark.operators.multimodal import (
            _BMP_H,
            _BMP_W,
            _WAV_CH,
            _WAV_NS,
            _WAV_SR,
            decode_media_headers,
            synthesize_media,
        )

        docs = spark.createDataFrame(
            [(i,) for i in range(0, 40)], "doc_id long"
        )
        got = {
            r.media_id: r
            for r in decode_media_headers(synthesize_media(docs)).collect()
        }
        assert len(got) == 40
        for i in range(40):
            r = got[i]
            if i % 2 == 0:
                w, h = _BMP_W(i), _BMP_H(i)
                n = (w * 3 + 3) // 4 * 4 * h
                assert (r.format, r.width, r.height) == ("bmp", w, h)
                assert (r.bits_per_sample, r.data_bytes) == (24, n)
                assert r.n_bytes == 54 + n
                assert r.payload_sum == sum(
                    (i * 31 + 7 * k) % 256 for k in range(n)
                )
            else:
                ch, sr, ns = _WAV_CH(i), _WAV_SR(i), _WAV_NS(i)
                n = ns * ch * 2
                assert (r.format, r.n_channels, r.sample_rate) == ("wav", ch, sr)
                assert (r.bits_per_sample, r.data_bytes) == (16, n)
                assert r.n_bytes == 44 + n
                exp = 0
                for j in range(ns * ch):
                    v = (i * 13 + 5 * j + 32768) % 65536
                    exp += v % 256 + v // 256
                assert r.payload_sum == exp

    def test_resize_nearest_neighbor_exact(self, spark):
        """8x8 thumbnail of a synthesized BMP: every sampled byte must
        equal the LCG value at source offset sy*rowb + sx*3 + c."""
        from gmall_flink_210726_spark.operators.multimodal import (
            _BMP_H,
            _BMP_W,
            resize_images,
            synthesize_media,
        )

        ids = [0, 2, 6, 28]  # spans small and near-max widths
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        media = synthesize_media(docs)
        got = {r.media_id: r for r in resize_images(media, 8, 8).collect()}
        for i in ids:
            w, h = _BMP_W(i), _BMP_H(i)
            rowb = (w * 3 + 3) // 4 * 4
            exp_bytes = bytes(
                (i * 31 + 7 * ((y * h // 8) * rowb + (x * w // 8) * 3 + c)) % 256
                for y in range(8)
                for x in range(8)
                for c in range(3)
            )
            r = got[i]
            assert (r.format, r.out_w, r.out_h) == ("bmp", 8, 8)
            assert bytes(r.thumb) == exp_bytes
            assert r.thumb_sum == sum(exp_bytes)

    def test_frame_sample_stride_and_channels(self, spark):
        """Every 4th frame of a synthesized WAV: stride walks FRAMES
        (all channels of a frame kept), signed int16 values."""
        from gmall_flink_210726_spark.operators.multimodal import (
            _WAV_CH,
            _WAV_NS,
            frame_sample_audio,
            synthesize_media,
        )

        ids = [1, 7, 63]
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        media = synthesize_media(docs)
        got = {r.media_id: r for r in frame_sample_audio(media, 4).collect()}
        for i in ids:
            ch, ns = _WAV_CH(i), _WAV_NS(i)
            vals = [
                (i * 13 + 5 * (f * ch + c)) % 65536 - 32768
                for f in range(0, ns, 4)
                for c in range(ch)
            ]
            r = got[i]
            assert (r.format, r.n_frames) == ("wav", (ns + 3) // 4)
            assert r.frame_sum == sum(vals)
            assert r.frame_abs_sum == sum(abs(v) for v in vals)

    def test_channel_stats_exclude_row_padding(self, spark):
        """Per-channel sums count PIXEL bytes only: doc_id 2 has w=6
        (3*6=18, padded to 20), so a stride-naive payload sum would
        include 2 padding bytes per row and mismatch."""
        from gmall_flink_210726_spark.operators.multimodal import (
            _BMP_H,
            _BMP_W,
            image_channel_stats,
            synthesize_media,
        )

        ids = [0, 2, 4]  # w=4 (aligned), w=6, w=8 (padded rows)
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r.media_id: r
            for r in image_channel_stats(synthesize_media(docs)).collect()
        }
        for i in ids:
            w, h = _BMP_W(i), _BMP_H(i)
            rowb = (w * 3 + 3) // 4 * 4
            sums = [0, 0, 0]
            for y in range(h):
                for x in range(w):
                    for c in range(3):
                        sums[c] += (i * 31 + 7 * (y * rowb + x * 3 + c)) % 256
            r = got[i]
            assert (r.format, r.n_pixels) == ("bmp", w * h)
            assert (r.sum_c0, r.sum_c1, r.sum_c2) == tuple(sums)
            if w * 3 % 4 != 0:  # the padded-width case is actually hit
                padded_total = sum(
                    (i * 31 + 7 * k) % 256 for k in range(rowb * h)
                )
                assert sum(sums) != padded_total

    def test_resize_and_frame_sample_reject_wrong_format(self, spark):
        from gmall_flink_210726_spark.operators.multimodal import (
            _make_bmp,
            _make_wav,
            frame_sample_audio,
            resize_images,
        )

        rows = [(1, _make_wav(1)), (2, _make_bmp(2)), (3, None)]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        rs = {r.media_id: r for r in resize_images(df, 8, 8).collect()}
        assert rs[1].format == "unknown" and rs[1].thumb is None
        assert rs[2].format == "bmp"
        assert rs[3].format == "unknown" and rs[3].thumb_sum == 0
        fs = {r.media_id: r for r in frame_sample_audio(df, 4).collect()}
        assert fs[1].format == "wav"
        assert fs[2].format == "unknown" and fs[2].n_frames == 0
        assert fs[3].format == "unknown"

    def test_corrupt_blobs_degrade_to_unknown(self, spark):
        """Truncated/garbage/null blobs yield the clean unknown-format
        row — never a partially-populated one, never a thrown task."""
        import struct

        from gmall_flink_210726_spark.operators.multimodal import (
            _make_wav,
            decode_media_headers,
        )

        wav = _make_wav(7)
        # truncated mid-data: fmt chunk parses, data csz overruns buffer
        truncated = wav[: 44 + 10]
        # data-chunk size field inflated past the buffer
        bad_sz = bytearray(wav)
        bad_sz[40:44] = struct.pack("<I", 1 << 30)
        rows = [
            (1, truncated),
            (2, bytes(bad_sz)),
            (3, b"\x00\x01\x02garbage-not-a-media-file"),
            (4, None),
            (5, b"RIFF\x00\x00\x00\x00WAVE"),  # RIFF magic, no chunks, <44B
        ]
        df = spark.createDataFrame(rows, "media_id long, content binary")
        got = {r.media_id: r for r in decode_media_headers(df).collect()}
        assert len(got) == 5
        for mid, r in got.items():
            assert r.format == "unknown", mid
            assert (r.width, r.height, r.n_channels, r.sample_rate) == (0, 0, 0, 0)
            assert (r.bits_per_sample, r.data_bytes, r.payload_sum) == (0, 0, 0)
        assert got[4].n_bytes == 0
        assert got[1].n_bytes == 54


class TestGopherFilter:
    def test_rules_and_composite(self, spark):
        from gmall_flink_210726_spark.operators.text import gopher_quality_filter

        rows = [
            # long well-formed prose: passes everything
            (1, "the quick brown fox jumps over the lazy dog and it is " * 10),
            # too short
            (2, "the cat is in the hat"),
            # symbol spam: '#' per word > 0.1
            (3, "the # of # things # is # high # here " * 10),
            # no stopwords at all
            (4, "alpha beta gamma delta epsilon zeta " * 12),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in gopher_quality_filter(df).collect()}
        assert out[1].kept
        assert not out[2].kept and not out[2].r_word_count
        assert not out[3].kept and not out[3].r_symbol_ratio
        assert not out[4].kept and not out[4].r_stopwords

    def test_empty_doc_is_rejected_not_crashed(self, spark):
        from gmall_flink_210726_spark.operators.text import gopher_quality_filter

        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        r = gopher_quality_filter(df).collect()[0]
        assert not r.kept and r.g_words == 0


class TestRepetitionFilter:
    def test_planted_repetition_is_caught(self, spark):
        from gmall_flink_210726_spark.operators.text import repetition_features

        rows = [
            (1, "a normal document with mostly distinct words in it today"),
            (2, "spam spam spam spam spam spam spam spam spam ham"),  # top word 0.9
            (3, "line one\nline two\nline two\nline two\nline two"),  # dup lines 0.6
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in repetition_features(df).collect()}
        assert out[1].rep_kept
        assert not out[2].rep_kept and not out[2].r_top_word
        assert not out[3].rep_kept and not out[3].r_dup_lines


class TestHashSplit:
    def test_split_is_deterministic_and_partitioned(self, spark):
        from gmall_flink_210726_spark.operators.text import hash_split

        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.split for r in hash_split(df).collect()}
        b = {r.doc_id: r.split for r in hash_split(df).collect()}
        assert a == b
        from collections import Counter

        dist = Counter(a.values())
        assert set(dist) == {"train", "val", "test"}
        assert 0.7 < dist["train"] / 2000 < 0.9

    def test_assignment_stable_under_growth(self, spark):
        """A doc's split never changes when the corpus grows — the
        property randomSplit lacks."""
        from gmall_flink_210726_spark.operators.text import hash_split

        small = spark.range(0, 100).withColumnRenamed("id", "doc_id")
        big = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.split for r in hash_split(small).collect()}
        b = {r.doc_id: r.split for r in hash_split(big).collect()}
        assert all(b[k] == v for k, v in a.items())


class TestIVF:
    def test_ivf_registered_config_identical_to_exact(self, emb):
        """The registered config (16 cells, nprobe 12) is pinned
        IDENTICAL to exact KNN on the fixture — what lets the driver use
        the exact-KNN SQL as its oracle (same contract as the LSH
        query's 48-table pin)."""
        from gmall_flink_210726_spark.operators.similarity import ann_ivf_topk

        qids = list(range(10))
        exact = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
                 for r in knn_bruteforce(emb, qids, k=5).collect()}
        ivf = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
               for r in ann_ivf_topk(emb, qids, k=5, n_cells=16, nprobe=12).collect()}
        assert ivf == exact

    def test_ivf_prunes_on_clustered_data(self, spark):
        """On CLUSTERED embeddings — the real-world shape — nprobe=1 of
        8 cells already achieves exact top-k: the index scans ~1/8 of
        the corpus. This is the scale case the isotropic bench fixture
        cannot show."""
        import numpy as np

        from gmall_flink_210726_spark.operators.similarity import (
            ann_ivf_topk,
            ivf_assign,
            ivf_centroids,
            knn_bruteforce,
        )

        rng = np.random.RandomState(3)
        centers = rng.standard_normal((8, 32)) * 5
        rows = []
        for i in range(400):
            c = i % 8
            v = centers[c] + rng.standard_normal(32) * 0.3
            rows.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        qids = [0, 1, 2, 3]
        exact = {(r.query_id, r.rank): r.neighbor_id
                 for r in knn_bruteforce(df, qids, k=3).collect()}
        ivf = {(r.query_id, r.rank): r.neighbor_id
               for r in ann_ivf_topk(df, qids, k=3, n_cells=8, nprobe=1).collect()}
        assert ivf == exact

        # and the index really partitions: every cell is non-trivial
        C = ivf_centroids(df, n_cells=8)
        sizes = (
            ivf_assign(df, C).groupBy("cell").count().collect()
        )
        assert len(sizes) == 8
        assert all(r["count"] >= 20 for r in sizes)

    def test_ivf_centroids_deterministic(self, emb):
        import numpy as np

        from gmall_flink_210726_spark.operators.similarity import ivf_centroids

        a = ivf_centroids(emb, n_cells=16)
        b = ivf_centroids(emb, n_cells=16)
        assert np.array_equal(a, b)
        assert np.allclose(np.linalg.norm(a, axis=1), 1.0)


class TestLshThresholdPairs:
    def test_lsh_pairs_identical_to_exact_at_48_tables(self, emb):
        """48-table LSH candidates + exact verify agree with the exact
        blocked-matmul pairs on the fixture (recall 1-(1-p^4)^48 at
        cos 0.5 ~ 0.99998/pair). Not registered as a bench query: on
        isotropic data 48 tables collide ~95% of ALL pairs, so the
        exact blocked matmul is strictly faster — LSH pairs win only in
        the high-threshold clustered regime (next test)."""
        from gmall_flink_210726_spark.operators.similarity import (
            cosine_threshold_pairs_blocked,
            cosine_threshold_pairs_lsh,
        )

        exact = {(r.id_a, r.id_b): r.cos
                 for r in cosine_threshold_pairs_blocked(emb, 0.5).collect()}
        lsh = {(r.id_a, r.id_b): r.cos
               for r in cosine_threshold_pairs_lsh(emb, 0.5, n_tables=48).collect()}
        assert lsh == exact

    def test_lsh_pairs_no_false_positives_high_threshold(self, spark):
        """Planted near-dups: LSH finds exactly the planted pairs at a
        high threshold, nothing else."""
        import numpy as np

        from gmall_flink_210726_spark.operators.similarity import (
            cosine_threshold_pairs_lsh,
        )

        rng = np.random.RandomState(5)
        rows = []
        for i in range(100):
            v = rng.standard_normal(32)
            rows.append((i, [float(x) for x in v]))
            if i < 5:  # plant a near-dup of docs 0..4 as ids 100..104
                w = v + rng.standard_normal(32) * 0.05
                rows.append((100 + i, [float(x) for x in w]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {(r.id_a, r.id_b) for r in
               cosine_threshold_pairs_lsh(df, 0.9, n_tables=16).collect()}
        assert out == {(i, 100 + i) for i in range(5)}


class TestConnectedComponents:
    """Min-label propagation must produce exact components — including
    on long chains, which force multiple propagation rounds."""

    def _cc(self, spark, edges, n_nodes):
        from gmall_flink_210726_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
        out = connected_components(pairs, nodes, node_col="id")
        return {r["id"]: r["cluster_id"] for r in out.collect()}

    def test_chain_propagates_to_min(self, spark):
        # 0-1-2-3-4 chain (diameter 4 → several rounds) + isolated 5
        got = self._cc(spark, [(0, 1), (1, 2), (2, 3), (3, 4)], 6)
        assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5}

    def test_two_components_and_singletons(self, spark):
        got = self._cc(spark, [(1, 2), (2, 3), (5, 6)], 8)
        assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}

    def test_cluster_id_is_component_min(self, docs):
        from gmall_flink_210726_spark.operators.dedup import connected_components

        pairs = ngram_jaccard_pairs(docs, threshold=0.5)
        cc = connected_components(
            pairs, docs.select(F.col("doc_id").alias("id")), node_col="id"
        )
        rows = cc.collect()
        assert len(rows) == docs.count()  # every doc labeled exactly once
        assert all(r["cluster_id"] <= r["id"] for r in rows)
        # both endpoints of every pair share a label
        lbl = {r["id"]: r["cluster_id"] for r in rows}
        for p in pairs.collect():
            assert lbl[p["id_a"]] == lbl[p["id_b"]]


class TestVocabAndSample:
    def test_vocab_topk_cut_is_deterministic(self, docs):
        from gmall_flink_210726_spark.operators.text import vocab_df_idf

        a = [tuple(r) for r in vocab_df_idf(docs, top_k=50).collect()]
        b = [tuple(r) for r in vocab_df_idf(docs, top_k=50).collect()]
        assert a == b and 0 < len(a) <= 50  # fixture vocab < top_k is fine
        dfs = [r[1] for r in a]
        assert dfs == sorted(dfs, reverse=True)

    def test_stratified_sample_stable_under_growth(self, spark):
        from gmall_flink_210726_spark.operators.text import stratified_sample

        base = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de") for i in range(100)],
            "doc_id long, lang string",
        )
        grown = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de") for i in range(200)],
            "doc_id long, lang string",
        )
        pick = lambda df: {
            r["doc_id"] for r in stratified_sample(df, n_per_stratum=10).collect()
        }
        small, big = pick(base), pick(grown)
        # growth can only displace boundary rows, never reshuffle: the
        # retained old docs are exactly old_sample ∩ new_sample and the
        # overlap stays large (hash order is uniform, 100→200 doubles
        # the competition, keeping ≈half in expectation)
        assert len(small & big) >= 5
        assert all(d < 100 for d in small)


class TestTextCleaning:
    """C4 line filter / PII scrub / boilerplate detection — the
    corpus-cleaning trio."""

    def test_c4_line_rules(self, spark):
        from gmall_flink_210726_spark.operators.text import c4_line_filter

        good = "this line has enough words to keep."
        df = spark.createDataFrame(
            [
                (1, f"{good}\nshort line.\nno terminal punctuation here at all\n{good}"),
                (2, f"{good}\ncode {{ block }} marker here today."),
                (3, "Lorem Ipsum dolor sit amet consectetur adipiscing elit."),
                (4, "nothing keepable\nat all"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in c4_line_filter(df).collect()}
        assert out[1].n_lines == 4 and out[1].n_kept_lines == 2
        assert out[1].clean_text == f"{good}\n{good}"
        assert out[1].c4_kept
        assert not out[2].c4_kept  # curly brace pages dropped
        assert not out[3].c4_kept  # lorem ipsum pages dropped
        assert out[3].n_kept_lines == 1  # line rule itself passes
        assert out[4].n_kept_lines == 0 and not out[4].c4_kept
        assert out[4].clean_text == ""

    def test_pii_scrub_counts_and_masking(self, spark):
        from gmall_flink_210726_spark.operators.text import pii_scrub

        df = spark.createDataFrame(
            [
                (1, "mail bob@10.1.2.3.example.com then call 555-1234 now"),
                (2, "server at 10.0.0.1 and 192.168.1.1 no mail"),
                (3, "clean text with nothing sensitive at all"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in pii_scrub(df).collect()}
        # the dotted quad lives inside the email hostname: counts once
        # as email, never again as IP
        assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 1)
        assert out[1].scrubbed == "mail <EMAIL> then call <PHONE> now"
        assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 2, 0)
        assert out[2].scrubbed == "server at <IP> and <IP> no mail"
        assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 0)
        assert out[3].scrubbed == "clean text with nothing sensitive at all"
        assert out[3].n_scrubbed_chars == len(out[3].scrubbed)

    def test_pii_adversarial_bounds(self, spark):
        """Octet bounds and fuller phone shapes: invalid IPs stay
        unmasked; (NXX) NXX-XXXX / NXX-NXX-XXXX mask as ONE phone;
        overlong digit runs mask nothing."""
        from gmall_flink_210726_spark.operators.text import pii_scrub

        df = spark.createDataFrame(
            [
                (1, "bad 999.999.999.999 and 256.1.1.1 ips"),
                (2, "long 1234.1.1.1 and 1.1.1.1234 runs"),
                (3, "edge 0.0.0.0 and 255.255.255.255 valid"),
                (4, "call (555) 123-4567 or 555-123-4567 or 555-1234"),
                (5, "not 555-123-45678 nor 55-1234 numbers"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in pii_scrub(df).collect()}
        assert out[1].n_ips == 0
        assert out[1].scrubbed == "bad 999.999.999.999 and 256.1.1.1 ips"
        assert out[2].n_ips == 0
        assert out[2].scrubbed == "long 1234.1.1.1 and 1.1.1.1234 runs"
        assert out[3].n_ips == 2
        assert out[3].scrubbed == "edge <IP> and <IP> valid"
        assert out[4].n_phones == 3
        assert out[4].scrubbed == "call <PHONE> or <PHONE> or <PHONE>"
        assert out[5].n_phones == 0
        assert out[5].scrubbed == "not 555-123-45678 nor 55-1234 numbers"

    def test_boilerplate_shared_chunks(self, spark):
        from gmall_flink_210726_spark.operators.text import boilerplate_lines

        shared = "copyright two thousand"  # one 3-word chunk
        df = spark.createDataFrame(
            [
                (1, f"{shared} alpha beta gamma"),
                (2, f"{shared} delta epsilon zeta"),
                (3, "totally unique content here"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in boilerplate_lines(df).collect()}
        assert out[1].n_chunks == 2 and out[1].n_boiler_chunks == 1
        assert out[1].boiler_pct == 50
        assert out[2].n_boiler_chunks == 1
        assert out[3].n_boiler_chunks == 0 and out[3].boiler_pct == 0

    def test_boilerplate_empty_doc_guard(self, spark):
        """The sequence(0, -1) hazard: an empty or whitespace-only doc
        must emit ZERO chunks — not two bogus descending-range chunks —
        and must not inflate the corpus-wide df of the '' chunk."""
        from gmall_flink_210726_spark.operators.text import boilerplate_lines

        df = spark.createDataFrame(
            [
                (1, ""),
                (2, "   \n\t  "),
                (3, "one two three four five six"),
                (4, "one two three four five six"),
            ],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in boilerplate_lines(df).collect()}
        assert set(out) == {3, 4}  # empty docs absent, not corrupted
        assert out[3].n_chunks == 2 and out[3].n_boiler_chunks == 2
        assert out[3].boiler_pct == 100


class TestStarContraction:
    """large-star/small-star CC must agree exactly with min-label
    propagation — including on a long chain, where star contraction's
    O(log n) rounds actually matter."""

    def _both(self, spark, edges, n_nodes):
        from gmall_flink_210726_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
        prop = connected_components(pairs, nodes, node_col="id", max_iters=50)
        # force the distributed contraction rounds so the agreement
        # check still exercises them now that small graphs default to
        # the driver fast path
        star = connected_components_star(
            pairs, nodes, node_col="id", small_graph_edges=0
        )
        return (
            {r["id"]: r["cluster_id"] for r in prop.collect()},
            {r["id"]: r["cluster_id"] for r in star.collect()},
        )

    def test_chain_30(self, spark):
        edges = [(i, i + 1) for i in range(29)]
        prop, star = self._both(spark, edges, 31)
        assert star == prop
        assert star[29] == 0 and star[30] == 30

    def test_random_graph_agreement(self, spark):
        import random

        rng = random.Random(13)
        edges = [
            (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        prop, star = self._both(spark, edges, 60)
        assert star == prop

    def test_star_on_fixture_pairs(self, docs):
        from gmall_flink_210726_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        pairs = ngram_jaccard_pairs(docs, threshold=0.5)
        nodes = docs.select(F.col("doc_id").alias("id"))
        a = {
            r["id"]: r["cluster_id"]
            for r in connected_components(pairs, nodes, node_col="id").collect()
        }
        b = {
            r["id"]: r["cluster_id"]
            for r in connected_components_star(pairs, nodes, node_col="id").collect()
        }
        assert a == b


class TestUnigramLogprob:
    def test_hand_computed_tiny_corpus(self, spark):
        """Corpus 'a a b' + 'a c': N=5, p(a)=3/5, p(b)=p(c)=1/5; scores
        are mean rounded-ln per doc; empty doc absent."""
        import math

        from gmall_flink_210726_spark.operators.text import unigram_logprob_score

        df = spark.createDataFrame(
            [(1, "a a b"), (2, "A c"), (3, "   ")], ["doc_id", "text"]
        )
        out = {r.doc_id: r for r in unigram_logprob_score(df).collect()}
        assert set(out) == {1, 2}  # whitespace-only doc absent
        lp_a = round(math.log(3 / 5), 6)
        lp_b = round(math.log(1 / 5), 6)
        assert out[1].n_tokens == 3
        assert out[1].sum_logprob == pytest.approx(2 * lp_a + lp_b, abs=1e-9)
        assert out[1].avg_logprob == pytest.approx((2 * lp_a + lp_b) / 3, abs=1e-9)
        assert out[2].n_tokens == 2
        assert out[2].sum_logprob == pytest.approx(lp_a + lp_b, abs=1e-9)
        # common-word doc scores higher than rare-word doc
        assert out[1].avg_logprob > out[2].avg_logprob


class TestIncrementalDedup:
    def test_batch_dedups_against_history_and_itself(self, spark):
        from gmall_flink_210726_spark.operators.dedup import (
            incremental_dedup,
            normalized_text,
        )

        history = spark.createDataFrame(
            [(100, "seen before"), (101, "also known text")], ["doc_id", "text"]
        )
        seen = history.select(
            F.sha2(normalized_text("text"), 256).alias("digest")
        )
        incoming = spark.createDataFrame(
            [
                (1, "Seen   BEFORE "),   # dup of history after normalization
                (2, "brand new text"),
                (3, "brand  NEW text"),  # in-batch dup of 2 → keep min id
                (4, "also known text"),  # dup of history
                (5, "another fresh one"),
            ],
            ["doc_id", "text"],
        )
        out = incremental_dedup(incoming, seen)
        ids = {r.doc_id for r in out.collect()}
        assert ids == {2, 5}
        # the emitted digests close the loop: append them and replay —
        # everything is now a dup
        seen2 = seen.unionByName(out.select("digest"))
        assert incremental_dedup(incoming, seen2).count() == 0


class TestZOrderLayout:
    def test_interleave_bijective_on_grid(self, spark):
        """On a full 16x16 grid the Morton keys are a permutation of
        0..255 (bijectivity = no key collisions = stable sort key)."""
        from gmall_flink_210726_spark.operators.layout import zorder_key

        grid = spark.createDataFrame(
            [(x, y) for x in range(16) for y in range(16)], "x long, y long"
        )
        zs = sorted(r.z for r in grid.select(zorder_key("x", "y", 4).alias("z")).collect())
        assert zs == list(range(256))

    def test_layout_bounds_both_dimensions(self, spark, tmp_path):
        """The data-skipping claim, measured: write the same table (a)
        sorted by x only and (b) z-ordered on (x, y), then compare the
        per-file min-max WIDTH of y. Z-order must bound y's per-file
        range (pruning works for y predicates); the x-sorted layout
        leaves y unbounded in every file."""
        import glob

        from gmall_flink_210726_spark.operators.layout import zorder_layout

        n, files = 4096, 8
        rows = [(i % 64, (i * 37) % 64) for i in range(n)]  # x, y in [0, 64)
        df = spark.createDataFrame(rows, "x long, y long")

        p_x = str(tmp_path / "by_x")
        df.repartitionByRange(files, "x").sortWithinPartitions("x").write.parquet(p_x)
        p_z = str(tmp_path / "by_z")
        zorder_layout(df, "x", "y", files, bits=6).write.parquet(p_z)

        def total_y_width(path):
            import pyarrow.parquet as pq

            widths = []
            for f in glob.glob(f"{path}/*.parquet"):
                t = pq.read_table(f, columns=["y"])
                if t.num_rows:
                    col = t.column("y").to_pylist()
                    widths.append(max(col) - min(col))
            return sum(widths)

        w_x, w_z = total_y_width(p_x), total_y_width(p_z)
        # x-sorted files each span ~the full y domain; z-ordered files
        # must cut the summed y-width at least in half
        assert w_z < 0.5 * w_x, (w_z, w_x)
        # and the z layout is loss-free
        got = sorted((r.x, r.y) for r in spark.read.parquet(p_z).collect())
        assert got == sorted(rows)


class TestTriangles:
    def test_k4_chain_and_hub_cap(self, spark):
        from gmall_flink_210726_spark.operators.dedup import triangle_list

        # K4 on {1,2,3,4} (4 triangles), a chain 10-11-12 (0 triangles)
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges = k4 + [(10, 11), (11, 12)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        tris = {
            (r.id_a, r.id_b, r.id_c) for r in triangle_list(df).collect()
        }
        assert tris == {(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)}
        # each K4 node has degree 3: capping at 2 drops every hub,
        # leaving only the chain — zero triangles, bounded fan-out
        assert triangle_list(df, max_degree=2).count() == 0
        # cap above the max degree changes nothing
        assert triangle_list(df, max_degree=3).count() == 4


class TestPngCodec:
    """stdlib-zlib PNG encode/decode: inflate + unfilter must exactly
    invert the encoder for every spec filter, and malformed blobs must
    degrade to the unknown row, never throw."""

    def test_all_five_filters_roundtrip(self, spark):
        import numpy as np

        from gmall_flink_210726_spark.operators.multimodal import (
            _decode_png,
            _make_png,
        )

        mid = 12  # not a _PNG_BAD id
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3]):
            w, h, px = _decode_png(_make_png(mid, filters=filters))
            expect = (
                (mid * 37 + 11 * np.arange(h * w * 3, dtype=np.int64)) % 256
            ).reshape(h, w, 3)
            assert (px == expect).all(), f"filters={filters}"

    def test_malformed_blobs_degrade_to_unknown(self, spark):
        import pandas as pd

        from gmall_flink_210726_spark.operators.multimodal import (
            PNG_SCHEMA,
            _make_png,
            _png_pixels_walk,
            blob_batch,
        )

        good = _make_png(12)
        flipped_crc = good[:40] + bytes([good[40] ^ 0xFF]) + good[41:]
        cases = {
            1: None,  # null blob
            2: b"",  # empty
            3: good[:33],  # truncated after IHDR (the _PNG_BAD shape)
            4: flipped_crc,  # corrupt byte → CRC mismatch
            5: b"\x89PNG\r\n\x1a\njunkjunkjunk",  # sig ok, garbage chunks
            6: good,  # control: still decodes
        }
        out = blob_batch(_png_pixels_walk, PNG_SCHEMA, "png")(
            pd.DataFrame(
                {"media_id": list(cases), "content": list(cases.values())}
            )
        )
        by_id = {r.media_id: r for r in out.itertuples()}
        for mid in (1, 2, 3, 4, 5):
            assert by_id[mid].format == "unknown", mid
            assert by_id[mid].n_pixels == 0, mid
        assert by_id[6].format == "png"
        assert by_id[6].n_pixels > 0

    def test_query_has_corrupt_and_good_rows(self, spark):
        from gmall_flink_210726_spark.registry import load_all

        from tests.conftest import SF_SMALL

        df = load_all()["multimodal_png_pixels"].fn(spark, SF_SMALL)
        rows = {r.media_id: r for r in df.collect()}
        formats = {r.format for r in rows.values()}
        assert formats == {"png", "unknown"}  # both branches exercised
        bad = [m for m, r in rows.items() if r.format == "unknown"]
        assert all(m % 97 == 0 for m in bad)


class TestSkewedGraphs:
    """Power-law / hub skew (r4 VERDICT #7): the escape hatches the
    docstrings promise — star contraction's O(log n) round bound and
    triangle_list's max_degree hub cap — exercised under real skew, at
    a size where an uncapped hub would previously have produced a
    degree-squared wedge bucket."""

    def _powerlaw(self, rng, n_spokes):
        """One hub (node 0) with ``n_spokes`` spokes, a sparse ring among
        the spokes, a 40-deep chain in a separate component, and two
        hub-free triangles in a third."""
        edges = [(0, s) for s in range(1, n_spokes + 1)]
        edges += [(s, s + 1) for s in range(1, n_spokes, 7)]  # sparse ring bits
        chain0 = 10_000
        edges += [(chain0 + i, chain0 + i + 1) for i in range(40)]
        edges += [(20_000, 20_001), (20_001, 20_002), (20_000, 20_002)]
        edges += [(20_010, 20_011), (20_011, 20_012), (20_010, 20_012)]
        rng.shuffle(edges)
        nodes = sorted({n for e in edges for n in e})
        return edges, nodes

    def test_star_cc_converges_within_log_bound_on_hub_graph(self, spark):
        import math
        import random

        from gmall_flink_210726_spark.operators.dedup import (
            connected_components_star,
        )

        edges, node_ids = self._powerlaw(random.Random(7), 300)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
        # O(log n) bound (+1 fixpoint-detection round, +1 slack): if the
        # hub or the 40-chain needed more rounds, labels come out wrong
        # and the assertions below fail
        bound = int(math.ceil(math.log2(len(node_ids)))) + 2
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components_star(
                pairs, nodes, node_col="id", max_rounds=bound,
                small_graph_edges=0,  # force the distributed rounds
            ).collect()
        }
        for n in node_ids:
            if n < 10_000:
                assert got[n] == 0, n  # hub component labels to its min
            elif n < 20_000:
                assert got[n] == 10_000, n  # deep chain fully contracted
            elif n < 20_010:
                assert got[n] == 20_000, n
            else:
                assert got[n] == 20_010, n

    def test_star_cc_agrees_with_label_prop_under_skew(self, spark):
        import random

        from gmall_flink_210726_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        edges, node_ids = self._powerlaw(random.Random(11), 120)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
        prop = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                pairs, nodes, node_col="id", max_iters=60
            ).collect()
        }
        star = {
            r["id"]: r["cluster_id"]
            for r in connected_components_star(
                pairs, nodes, node_col="id", small_graph_edges=0
            ).collect()
        }
        assert star == prop

    def test_triangle_hub_cap_drops_only_hub_triangles(self, spark):
        import random

        from gmall_flink_210726_spark.operators.dedup import triangle_list

        edges, _ = self._powerlaw(random.Random(3), 300)
        # i<j ordering required by triangle_list's ordered enumeration
        pairs = spark.createDataFrame(
            sorted({(min(a, b), max(a, b)) for a, b in edges}),
            "id_a long, id_b long",
        )
        uncapped = {
            (r.id_a, r.id_b, r.id_c) for r in triangle_list(pairs).collect()
        }
        # hub triangles exist: (0, s, s+1) for every ring edge
        hub_tris = {t for t in uncapped if 0 in t}
        assert len(hub_tris) > 10
        capped = {
            (r.id_a, r.id_b, r.id_c)
            for r in triangle_list(pairs, max_degree=10).collect()
        }
        # the cap removes exactly the triangles through the (degree-300)
        # hub; every hub-free triangle survives — including the two
        # planted components far from the hub
        assert capped == uncapped - hub_tris
        assert (20_000, 20_001, 20_002) in capped
        assert (20_010, 20_011, 20_012) in capped


class TestHilbertLayout:
    def test_matches_classic_xy2d(self, spark):
        """The 4-state machine reproduces the textbook rotate-and-
        reflect xy2d exactly — exhaustive over the full 64x64 grid at
        bits=6 (the state tables were derived from this algorithm; this
        pins them)."""
        from gmall_flink_210726_spark.operators.layout import hilbert_key

        def xy2d(n, x, y):
            d, s = 0, n // 2
            while s > 0:
                rx = 1 if (x & s) > 0 else 0
                ry = 1 if (y & s) > 0 else 0
                d += s * s * ((3 * rx) ^ ry)
                if ry == 0:
                    if rx == 1:
                        x, y = s - 1 - x, s - 1 - y
                    x, y = y, x
                s //= 2
            return d

        grid = spark.createDataFrame(
            [(x, y) for x in range(64) for y in range(64)], "x long, y long"
        )
        rows = grid.select(
            "x", "y", hilbert_key("x", "y", 6).alias("h")
        ).collect()
        assert all(r.h == xy2d(64, r.x, r.y) for r in rows)
        # bijective: a permutation of 0..4095 (stable sort key)
        assert sorted(r.h for r in rows) == list(range(4096))

    def test_adjacency_beats_morton(self, spark):
        """Hilbert's locality claim, measured: consecutive keys are
        always Manhattan-adjacent cells (distance exactly 1), while
        Morton order jumps at power-of-two boundaries."""
        from gmall_flink_210726_spark.operators.layout import (
            hilbert_key,
            zorder_key,
        )

        grid = spark.createDataFrame(
            [(x, y) for x in range(32) for y in range(32)], "x long, y long"
        )
        rows = grid.select(
            "x",
            "y",
            hilbert_key("x", "y", 5).alias("h"),
            zorder_key("x", "y", 5).alias("z"),
        ).collect()

        def max_step(keyed):
            keyed = sorted(keyed)
            return max(
                abs(x2 - x1) + abs(y2 - y1)
                for (_, x1, y1), (_, x2, y2) in zip(keyed, keyed[1:])
            )

        h_step = max_step([(r.h, r.x, r.y) for r in rows])
        z_step = max_step([(r.z, r.x, r.y) for r in rows])
        assert h_step == 1
        assert z_step > 1
