"""Operator-level tests on tiny DataFrames: dedup family, similarity,
textstats — brute-force Python oracles recomputed in-test."""

import itertools
import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "another unrelated short text"),
        (5, ""),                                               # empty doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shingles(text, n=3):
    toks = [t for t in text.lower().split() if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    u = a | b
    return (len(a & b) / len(u)) if u else 1.0


def _union_find(edges):
    """Plain-Python reference for connected components: node -> minimum
    node id of its component, for every endpoint of ``edges``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for e in edges for x in e}


def _round_robin(spark, edges, parts):
    """Edges spread round-robin over ``parts`` partitions, so most
    components span several partitions."""
    return spark.createDataFrame(edges, "a long, b long").repartition(parts)


class TestExactDedup:
    def test_groups(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import exact_dedup_groups

        got = {r["keeper_doc_id"]: r["n_docs"] for r in exact_dedup_groups(docs).collect()}
        assert got[0] == 2  # docs 0 and 3 identical
        assert got[1] == 1

    def test_keep_first(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import exact_dedup_keep_first

        kept = {r["doc_id"] for r in exact_dedup_keep_first(docs).collect()}
        assert 0 in kept and 3 not in kept
        assert kept == {0, 1, 2, 4, 5}


class TestMinhash:
    def test_near_dups_found_and_verified(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import minhash_dedup_pairs

        pairs = {
            (r["a"], r["b"]): r["jaccard"]
            for r in minhash_dedup_pairs(docs, threshold=0.3, num_hashes=16, bands=8).collect()
        }
        assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # identical docs always pair
        assert (0, 1) in pairs  # near-dup pair caught
        expected = round(_jaccard(_shingles("the quick brown fox jumps over the lazy dog"),
                                  _shingles("the quick brown fox jumps over the lazy cat")), 6)
        assert abs(pairs[(0, 1)] - expected) < 1e-9
        assert not any({a, b} == {0, 2} for a, b in pairs)

    def test_signature_shape(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import minhash_signatures

        sigs = minhash_signatures(docs.where("doc_id in (0,2)"), num_hashes=8).collect()
        assert len(sigs) == 16  # 2 docs × 8 perms
        assert all(len(r["sig"]) == 32 for r in sigs)  # md5 hex


class TestSimhash:
    def test_identical_docs_same_fingerprint(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import simhash_fingerprints

        fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs.where("doc_id != 5")).collect()}
        assert fp[0] == fp[3]
        # near-dups closer (hamming) than unrelated docs
        ham = lambda a, b: bin(a ^ b).count("1")
        assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])

    def test_near_pairs(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import simhash_near_pairs

        pairs = {(r["a"], r["b"]): r["hamming"] for r in
                 simhash_near_pairs(docs.where("doc_id != 5"), max_hamming=4).collect()}
        assert pairs.get((0, 3)) == 0


class TestNgramJaccard:
    def test_pairs(self, spark, docs):
        from nimbus_crawler_spark.operators.textdedup import ngram_jaccard_pairs

        pairs = {(r["a"], r["b"]) for r in
                 ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=10).collect()}
        assert (0, 1) in pairs and (0, 3) in pairs


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [-1.0, 0.0, 0.0, 0.0]),
            (4, [0.7, 0.7, 0.0, 0.0]),
        ]
        return spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    def test_bruteforce_topk(self, spark, emb):
        from nimbus_crawler_spark.operators.similarity import cosine_topk_bruteforce

        got = cosine_topk_bruteforce(emb, emb.where("vec_id = 0"), k=2).collect()
        assert [(r["neighbor_id"], r["rank"]) for r in got] == [(1, 1), (4, 2)]
        # verify score against math
        assert abs(got[0]["score"] - round(0.9 / math.sqrt(0.82), 6)) < 1e-9

    def test_bucketed_restricts_candidates(self, spark, emb):
        from nimbus_crawler_spark.operators.similarity import cosine_topk_bucketed

        got = cosine_topk_bucketed(emb, emb.where("vec_id = 0"), k=4, bits=2).collect()
        ids = {r["neighbor_id"] for r in got}
        assert 3 not in ids  # opposite sign bucket pruned
        assert 1 in ids

    def test_embedding_cosine_pairs(self, spark, emb):
        from nimbus_crawler_spark.operators.similarity import embedding_cosine_pairs

        # bands over 2+2 components; every candidate pair shares ≥1 band key
        # (all vectors share band 1: components 3-4 are 0 ⇒ sign +), then the
        # exact cosine filter keeps only true near-dups
        got = embedding_cosine_pairs(emb, threshold=0.6, bits=2, bands=2).collect()
        pairs = {(r["a"], r["b"]): r["cosine"] for r in got}
        assert set(pairs) == {(0, 1), (0, 4), (1, 4), (2, 4)}
        assert pairs[(0, 1)] == round(0.9 / math.sqrt(0.82), 6)
        assert all(a < b for a, b in pairs)
        assert all(c >= 0.6 for c in pairs.values())

    def test_ivf_assigns_cells_and_probes_own_cell(self, spark, emb):
        from nimbus_crawler_spark.operators.similarity import cosine_topk_ivf

        # centroids = vectors 0 and 1 (nlist=2). Assignments by max cosine:
        # 0→cell 0; 1,2,3,4→cell 1. Query 4 probes cell 1 only, so vector 0
        # (higher cosine to 4 than vector 3 has) is pruned — the IVF trade.
        got = cosine_topk_ivf(emb, emb.where("vec_id = 4"), k=4, nlist=2).collect()
        by_rank = sorted(got, key=lambda r: r["rank"])
        assert all(r["cell"] == 1 for r in got)
        assert [r["neighbor_id"] for r in by_rank] == [1, 2, 3]
        assert 0 not in {r["neighbor_id"] for r in got}  # other-cell candidate pruned
        scores = [r["score"] for r in by_rank]
        assert scores == sorted(scores, reverse=True)
        assert abs(scores[0] - round(0.7 / (math.sqrt(0.98) * math.sqrt(0.82)), 6)) < 1e-9


class TestTextstats:
    def test_token_counts(self, spark, docs):
        from nimbus_crawler_spark.operators.textstats import token_counts

        got = {r["doc_id"]: r for r in token_counts(docs).collect()}
        assert got[0]["n_ws_tokens"] == 9
        assert got[5]["n_ws_tokens"] == 0

    def test_lang_id(self, spark):
        from nimbus_crawler_spark.operators.textstats import lang_id

        rows = [
            (0, "the cat and the dog is with me"),
            (1, "der hund und die katze ist mit mir"),
            (2, "xyzzy plugh"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
        assert got[0] == "en" and got[1] == "de" and got[2] == "und"

    def test_quality_empty_doc(self, spark, docs):
        from nimbus_crawler_spark.operators.textstats import quality_metrics

        got = {r["doc_id"]: r for r in quality_metrics(docs).collect()}
        assert got[5]["n_tokens"] == 0 and got[5]["quality_score"] == 0.0
        assert got[0]["quality_score"] > 0.3

    def test_repetition_stats(self, spark):
        from collections import Counter

        from nimbus_crawler_spark.operators.textstats import repetition_stats

        rows = [
            (0, "a a a b"),          # top unigram 3/4; bigrams: (a a)x2, (a b)
            (1, "x y x y x y"),      # heavy bigram repetition
            (2, "all distinct words here"),
            (3, "solo"),             # 1 token: no bigrams/trigrams
            (4, ""),                 # empty
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_stats(df).collect()}

        def oracle(text):
            toks = [t for t in text.lower().split() if t]
            out = {"n_tokens": len(toks)}
            for n, name in ((1, "unigram"), (2, "bigram"), (3, "trigram")):
                grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                c = Counter(grams)
                tot = len(grams)
                rnd = lambda x: math.floor(x * 10000 + 0.5) / 10000
                out[f"top_{name}_frac"] = rnd(max(c.values()) / tot) if tot else 0.0
                if n > 1:
                    out[f"dup_{name}_frac"] = rnd((tot - len(c)) / tot) if tot else 0.0
            return out

        for doc_id, text in rows:
            exp = oracle(text)
            for k, v in exp.items():
                assert got[doc_id][k] == v, (doc_id, k, got[doc_id][k], v)
        assert got[0]["top_unigram_frac"] == 0.75
        assert got[1]["dup_bigram_frac"] == 0.6  # 5 bigrams, 2 distinct
        assert got[3]["top_bigram_frac"] == 0.0

    def test_term_stats(self, spark):
        from nimbus_crawler_spark.operators.textstats import term_stats

        rows = [
            (0, "apple banana apple cherry"),
            (1, "banana apple"),
            (2, "cherry"),
            (3, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = term_stats(df, top_k=2).collect()
        assert [(r["token"], r["n_occurrences"], r["n_docs"], r["rank"]) for r in got] == [
            ("apple", 3, 2, 1),
            ("banana", 2, 2, 2),  # ties with cherry on docs, wins on occurrences
        ]
        full = {r["token"]: r for r in term_stats(df, top_k=10).collect()}
        assert full["cherry"]["n_occurrences"] == 2 and full["cherry"]["n_docs"] == 2
        assert len(full) == 3  # empty doc contributes nothing

    def test_curation_pipeline(self, spark):
        from nimbus_crawler_spark.operators.textstats import curation_pipeline

        good = (
            "the quick brown fox jumps over the lazy dog and runs off with "
            "a fine bone while the happy farmer is watching from the porch"
        )
        rows = [
            (0, good),                                   # kept
            (1, good),                                   # exact dup of 0 → dropped
            (2, "der hund und die katze ist mit mir"),   # wrong lang → dropped
            (3, " ".join(["the"] * 20)),                 # en + quality ok, top-bigram frac 1.0 → dropped
            (4, ""),                                     # quality 0 → dropped
            (5, good + " again"),                        # kept (distinct fingerprint)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(r["doc_id"] for r in curation_pipeline(df).collect())
        assert got == [0, 5]

    def test_curation_evaluates_each_regex_once(self, spark):
        """Plan-shape pin for curation's rand() Filter barrier: without it
        Catalyst pushes the three gates through the scoring Project and
        every regexp_extract_all of the language and quality features is
        planned twice (once in the pushed Filter, once in the Project)."""
        import io
        from contextlib import redirect_stdout

        from nimbus_crawler_spark.operators.textstats import (
            _quality_feature_cols,
            curation_pipeline,
            lang_pred_col,
            quality_score_col,
        )

        t = F.col("text")
        once = sum(
            str(c).count("regexp_extract_all")
            for c in (lang_pred_col(t), quality_score_col(_quality_feature_cols(t)))
        )
        df = spark.createDataFrame([(0, "the cat sat on the mat")], "doc_id long, text string")
        buf = io.StringIO()
        with redirect_stdout(buf):
            curation_pipeline(df).explain("formatted")
        assert once > 0
        assert buf.getvalue().count("regexp_extract_all") == once


class TestMultimodal:
    def test_feature_plumbing(self, spark, docs):
        from nimbus_crawler_spark.operators.multimodal import (
            decode_media,
            extract_features,
        )

        media = docs.where("doc_id < 3").select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit("x/i").alias("mime"),
            F.encode("text", "utf-8").alias("payload"),
            F.lit(None).cast("string").alias("meta_json"),
        )
        feats = {r["media_id"]: r for r in extract_features(media).collect()}
        assert feats[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
        assert len(feats[0]["histogram"]) == 16
        assert feats[0]["byte_entropy"] > 0

    def test_unknown_codec_rejected(self):
        from nimbus_crawler_spark.operators.multimodal import decode_media

        with pytest.raises(ValueError):
            decode_media(b"x", "image", codec="pillow")

    def test_bmp_decode(self):
        from nimbus_crawler_spark.operators.multimodal import decode_media, make_bmp

        f = decode_media(make_bmp(10, 7, seed=3), "image")
        assert f["format"] == "bmp" and (f["width"], f["height"]) == (10, 7)
        assert f["frames_sampled"] == 1 and sum(f["histogram"]) == 70
        # deterministic: same bytes → same features
        assert f == decode_media(make_bmp(10, 7, seed=3), "image")

    def test_wav_decode(self):
        from nimbus_crawler_spark.operators.multimodal import decode_media, make_wav

        f = decode_media(make_wav(800, rate=8000, seed=1), "audio")
        assert f["format"] == "wav" and f["sample_rate"] == 8000
        assert f["frames_sampled"] == 800 and f["duration_s"] == 0.1
        assert sum(f["histogram"]) == 800

    def test_truncated_media_falls_back_to_raw(self):
        from nimbus_crawler_spark.operators.multimodal import decode_media, make_bmp

        f = decode_media(make_bmp(10, 7)[:20], "image")  # valid magic, short body
        assert f["format"] == "raw" and f["n_bytes"] == 20

    def test_real_codecs_through_spark(self, spark):
        from nimbus_crawler_spark.operators.multimodal import (
            extract_features,
            make_bmp,
            make_wav,
        )

        rows = [
            (0, "image", "image/bmp", bytearray(make_bmp(6, 4, seed=9)), None),
            (1, "audio", "audio/wav", bytearray(make_wav(400, rate=4000, seed=9)), None),
            (2, "video", "x/v", bytearray(b"not-a-container"), None),
        ]
        from nimbus_crawler_spark.operators.multimodal import MEDIA_SCHEMA

        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = {r["media_id"]: r for r in extract_features(media).collect()}
        assert feats[0]["format"] == "bmp" and feats[0]["width"] == 6
        assert feats[1]["format"] == "wav" and feats[1]["duration_s"] == 0.1
        assert feats[2]["format"] == "raw" and feats[2]["frames_sampled"] >= 1


class TestMediaFixture:
    def test_decoded_equals_independent_expected(self):
        """Every fixture payload decoded by the operator's decoders must
        match the plain-Python expected features bit-for-bit (including the
        HALF_UP 6dp entropies) — the full-path oracle's premise."""
        from nimbus_crawler_spark.operators.multimodal import decode_media
        from nimbus_crawler_spark.sources.media_fixture import (
            _COLUMNS,
            fixture_expected_rows,
            fixture_media_rows,
        )

        media, exp = fixture_media_rows(), fixture_expected_rows()
        assert {r["format"] for r in exp} == {"bmp", "wav", "raw"}
        for (mid, kind, _mime, payload, _), e in zip(media, exp):
            d = decode_media(payload, kind)
            got = {
                "media_id": mid, "kind": kind, "format": d["format"],
                "n_bytes": d["n_bytes"], "byte_entropy": d["byte_entropy"],
                "hist_csv": ",".join(map(str, d["histogram"])),
                "frames_sampled": d["frames_sampled"],
                "width": d.get("width"), "height": d.get("height"),
                "sample_rate": d.get("sample_rate"),
                "duration_s": d.get("duration_s"),
            }
            assert {c: got[c] for c in _COLUMNS} == e

    def test_expected_parquet_idempotent(self, tmp_path):
        from nimbus_crawler_spark.sources.media_fixture import write_expected_parquet

        p = str(tmp_path / "exp.parquet")
        assert write_expected_parquet(p) == p
        mtime = __import__("os").path.getmtime(p)
        assert write_expected_parquet(p) == p  # no rewrite
        assert __import__("os").path.getmtime(p) == mtime

    def test_resize_matches_independent_expected(self, spark):
        """Spark block-mean resize (numpy slice sums) must equal the
        plain-Python expected grids exactly — integer semantics, no float
        resampling ambiguity."""
        from nimbus_crawler_spark.operators.multimodal import MEDIA_SCHEMA, resize_images
        from nimbus_crawler_spark.sources.media_fixture import (
            fixture_expected_resize_rows,
            fixture_media_rows,
        )

        media = spark.createDataFrame(fixture_media_rows(12), MEDIA_SCHEMA)
        got = {r["media_id"]: r for r in resize_images(media, 8, 8).collect()}
        exp = {e["media_id"]: e for e in fixture_expected_resize_rows(n=12)}
        assert set(got) == set(exp)  # one row per decodable BMP, none else
        for mid, e in exp.items():
            g = got[mid]
            assert (g["src_w"], g["src_h"]) == (e["src_w"], e["src_h"])
            assert ",".join(map(str, g["pixels"])) == e["pixels_csv"]
            assert g["mean_lum"] == e["mean_lum"]
            assert len(g["pixels"]) == 64

    def test_resize_upscale_and_downscale_cells_cover_input(self):
        """Every output cell averages a non-empty input block, upscaling
        included (3x2 -> 8x8 must not divide by zero or skip pixels)."""
        import numpy as np

        from nimbus_crawler_spark.operators.multimodal import _block_mean_resize

        lum = np.arange(6, dtype=np.uint32).reshape(2, 3) * 40
        up = _block_mean_resize(lum, 8, 8)
        assert up.shape == (8, 8) and up.min() >= 0 and up.max() <= 200
        down = _block_mean_resize(np.full((64, 64), 7, dtype=np.uint32), 8, 8)
        assert (down == 7).all()

    def test_frame_sampling_matches_independent_expected(self, spark):
        from nimbus_crawler_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames
        from nimbus_crawler_spark.sources.media_fixture import (
            fixture_expected_frames_rows,
            fixture_media_rows,
        )

        media = spark.createDataFrame(fixture_media_rows(9), MEDIA_SCHEMA)
        got = sorted(
            (tuple(r) for r in sample_frames(media, k=4).collect())
        )
        exp = sorted(
            (
                (e["media_id"], e["kind"], e["format"], e["n_frames"],
                 e["frame_idx"], e["frame_val"], e["window_mean"])
                for e in fixture_expected_frames_rows(k=4, n=9)
            )
        )
        assert got == exp

    def test_uniform_indices_distinct_and_cover(self):
        from nimbus_crawler_spark.operators.multimodal import _uniform_indices

        assert _uniform_indices(100, 4) == [0, 25, 50, 75]
        assert _uniform_indices(3, 4) == [0, 1, 2]  # n < k: every frame once
        assert _uniform_indices(0, 4) == []
        idx = _uniform_indices(7, 4)
        assert len(idx) == len(set(idx)) and all(0 <= i < 7 for i in idx)


class TestGlobalRowNumberDeterministicBounds:
    def test_ordinals_correct_with_exchange_reuse_disabled(self, spark):
        """The bucket id is a literal-bounds expression of the row's own key,
        so ordinals must stay exact even with exchange reuse disabled (the
        configuration that corrupted the old spark_partition_id design)."""
        from nimbus_crawler_spark.operators.ranking import global_row_number

        spark.conf.set("spark.sql.exchange.reuse", "false")
        try:
            rows = [(k,) for k in [5, 3, 9, 1, 7, 2, 8, 0, 6, 4] * 50]
            df = spark.createDataFrame(
                [(k * 1000 + i,) for i, (k,) in enumerate(rows)], "key long"
            )
            out = global_row_number(df, ["key"], "rn", num_partitions=7, start=3)
            got = [r["key"] for r in out.orderBy("rn").collect()]
            assert got == sorted(got)
            rns = sorted(r["rn"] for r in out.collect())
            assert rns == list(range(3, 3 + len(rows)))
        finally:
            spark.conf.set("spark.sql.exchange.reuse", "true")

    def test_sampled_bounds_permutation_and_parallelism_stability(self, spark):
        """Regression for the round-5 ordinal-corruption bug: the old
        repartitionByRange fork relied on ReusedExchange, which Catalyst's
        divergent column pruning defeats — at 2M rows 1.97M ordinals came out
        wrong. With literal sampled bounds the ordinal is bounds-invariant:
        n > num_partitions * 100 here forces PARTIAL sampling (the regime the
        old design corrupted), string keys exercise the UTF-8 ordering match,
        and two different bucket counts must agree bit-for-bit."""
        from pyspark.sql import functions as F

        from nimbus_crawler_spark.operators.ranking import global_row_number

        n = 40_000
        df = spark.range(n).select(
            F.concat(
                F.lit("u"), F.format_string("%07d", (F.col("id") * F.lit(48271)) % F.lit(n))
            ).alias("key")
        )
        a = global_row_number(df, ["key"], "rn", num_partitions=16)
        stats = a.agg(
            F.min("rn").alias("mn"), F.max("rn").alias("mx"), F.countDistinct("rn").alias("d")
        ).collect()[0]
        assert (stats.mn, stats.mx, stats.d) == (0, n - 1, n)
        b = global_row_number(df, ["key"], "rn2", num_partitions=5)
        assert a.join(b, "key").filter("rn != rn2").count() == 0


class TestConnectedComponents:
    def test_chain_and_isolated_component(self, spark):
        """A path graph (1-2-3-4-5) exercises multiple hook+jump rounds; a
        disjoint pair and a triangle verify component separation."""
        from nimbus_crawler_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
            "a long, b long",
        )
        got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_long_path_converges_within_log_rounds(self, spark):
        """64-node path: naive min-propagation needs 63 rounds; pointer
        jumping must finish inside the max_iter=10 bound (≈ log2 + slack)."""
        from nimbus_crawler_spark.operators.graph import connected_components

        # round-robin over 8 partitions: each partition holds ~8 scattered
        # path edges, so the per-partition contraction leaves a long chain
        # that hook+jump must close across partitions
        edges = _round_robin(spark, [(i, i + 1) for i in range(63)], 8)
        got = {r["node"]: r["comp"] for r in connected_components(edges, max_iter=10).collect()}
        assert set(got.values()) == {0}
        assert len(got) == 64

    def test_dedup_clusters_keeper(self, spark):
        from nimbus_crawler_spark.operators.graph import dedup_clusters

        pairs = spark.createDataFrame([(7, 3), (3, 9), (12, 14)], "a long, b long")
        rows = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
        assert rows[3]["cluster_id"] == 3 and rows[3]["is_keeper"]
        assert rows[7]["cluster_id"] == 3 and not rows[7]["is_keeper"]
        assert rows[9]["cluster_size"] == 3
        assert rows[12]["cluster_id"] == 12 and rows[14]["cluster_size"] == 2

    def test_dedup_survivors(self, spark):
        """Survivor set = singletons (size 1) + one keeper per cluster; all
        non-keepers gone. Pairs (1,2),(2,3) chain into one cluster; (5,6) is
        a second; 4 never appears in a pair."""
        from nimbus_crawler_spark.operators.graph import dedup_survivors

        docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
        got = {
            r["doc_id"]: r["cluster_size"]
            for r in dedup_survivors(docs, pairs).collect()
        }
        assert got == {1: 3, 4: 1, 5: 2}

    def test_empty_pairs(self, spark):
        """A corpus with no near-dup pairs must yield an empty cluster table
        with the right schema (not an error) — the sf0.001 regime."""
        from nimbus_crawler_spark.operators.graph import dedup_clusters

        pairs = spark.createDataFrame([], "a long, b long")
        out = dedup_clusters(pairs)
        assert out.columns == ["doc_id", "cluster_id", "cluster_size", "is_keeper"]
        assert out.count() == 0

    def test_nonconvergence_raises(self, spark):
        """Exhausting max_iter must raise, never silently return partial
        labels (split clusters would each elect a keeper and silently
        under-deduplicate)."""
        import pytest

        from nimbus_crawler_spark.operators.graph import connected_components

        # spread over partitions so the global loop has work left after the
        # per-partition contraction (one partition would solve it outright)
        edges = _round_robin(spark, [(i, i + 1) for i in range(63)], 8)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=1)

    def test_cluster_size_is_aggregate_not_window(self, spark):
        """cluster_size must come from a map-side-combinable HashAggregate +
        join, never Window.partitionBy(comp): a window buffers an entire
        component in one task, and web-scale near-dup graphs contain one
        giant boilerplate component that would OOM it."""
        from nimbus_crawler_spark.operators.graph import dedup_clusters

        import io
        from contextlib import redirect_stdout

        pairs = spark.createDataFrame([(7, 3), (3, 9)], "a long, b long")
        buf = io.StringIO()
        with redirect_stdout(buf):
            dedup_clusters(pairs).explain("formatted")
        plan = buf.getvalue()
        assert "Window" not in plan
        assert "HashAggregate" in plan


class TestLocalComponentsKernel:
    """The per-partition numpy kernel of connected_components, without Spark,
    against the union-find reference."""

    @staticmethod
    def _check(edges):
        import numpy as np

        from nimbus_crawler_spark.operators.graph import local_components

        u = np.array([a for a, _ in edges], dtype=np.int64)
        v = np.array([b for _, b in edges], dtype=np.int64)
        nodes, comp = local_components(u, v)
        assert nodes.tolist() == sorted(set(u.tolist()) | set(v.tolist()))
        assert dict(zip(nodes.tolist(), comp.tolist())) == _union_find(edges)

    @pytest.mark.parametrize("seed", range(8))
    def test_random_graphs(self, seed):
        import random

        rng = random.Random(seed)
        n = rng.choice([3, 30, 400])
        # sparse, shuffled ids (up to 2^62) so dense re-indexing is exercised
        ids = rng.sample(range(2**62), n)
        edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(rng.randint(1, 2 * n))]
        self._check(edges)

    def test_self_loops_and_duplicate_edges(self):
        self._check([(5, 5), (9, 9), (9, 9), (3, 7), (7, 3), (3, 7), (7, 1), (5, 5)])

    def test_long_path_any_order(self):
        import random

        path = [(i, i + 1) for i in range(63)]
        self._check(path)
        rev = [(b, a) for a, b in reversed(path)]
        self._check(rev)
        random.Random(5).shuffle(path)
        self._check(path)

    def test_empty(self):
        self._check([])


class TestConnectedComponentsPartitioned:
    """connected_components over inputs whose components span partitions,
    so the global loop must merge what the per-partition contraction split."""

    @pytest.mark.parametrize("parts", [1, 3, 8])
    def test_round_robin_matches_union_find(self, spark, parts):
        import random

        from nimbus_crawler_spark.operators.graph import connected_components

        rng = random.Random(parts)
        edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
        edges += [(1000 + i, 1001 + i) for i in range(40)]  # a path
        edges += [(2000, 2000), (2001, 2001), (2001, 2002)]  # self-loops
        df = _round_robin(spark, edges, parts)
        assert df.rdd.getNumPartitions() == parts
        got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
        assert got == _union_find(edges)

    def test_job_count_pin(self, spark):
        """A one-partition input is solved by the local kernel, so the
        global loop confirms in one round: ≤ 20 Spark jobs for ~2k edges
        (the hook+jump loop alone needs one round per halving of the
        longest label chain, ~a dozen jobs each)."""
        import random

        from nimbus_crawler_spark.operators.graph import connected_components

        rng = random.Random(7)
        edges = [(rng.randrange(2500), rng.randrange(2500)) for _ in range(2000)]
        df = spark.createDataFrame(edges, "a long, b long").coalesce(1)
        sc = spark.sparkContext
        sc.setJobGroup("cc-job-count-pin", "connected_components job count")
        try:
            got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert got == _union_find(edges)
        # the collect above is one job of its own
        jobs = sc.statusTracker().getJobIdsForGroup("cc-job-count-pin")
        assert len(jobs) - 1 <= 20, len(jobs)


class TestDecontaminate:
    def test_flags_overlapping_train_docs(self, spark):
        from nimbus_crawler_spark.operators.textdedup import decontaminate

        train = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon"),   # shares 'alpha beta gamma', 'beta gamma delta'
                (1, "one two three four"),                # no overlap
                (2, "alpha beta gamma"),                  # shares one trigram
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "alpha beta gamma delta")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["n_shared_ngrams"] for r in decontaminate(train, ev).collect()}
        assert got == {0: 2, 2: 1}


class TestPiiScrub:
    def test_counts_and_redaction(self, spark):
        from nimbus_crawler_spark.operators.textstats import pii_scrub

        docs = spark.createDataFrame(
            [
                (0, "reach me at jane.doe+spam@mail.example.org or +1-415-555-0000 thanks"),
                (1, "no pii here"),
                (2, "two mails a@b.io c@d.co and +44-020-794-0000"),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
        assert (rows[0]["n_emails"], rows[0]["n_phones"]) == (1, 1)
        assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (0, 0)
        assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (2, 1)
        import hashlib

        expected = "reach me at <EMAIL> or <PHONE> thanks"
        assert rows[0]["scrubbed_fp"] == hashlib.md5(expected.encode()).hexdigest()
        assert rows[1]["scrubbed_fp"] == hashlib.md5(b"no pii here").hexdigest()

    def test_phone_inside_email_not_double_counted(self, spark):
        """Counts must agree with the redaction: a phone-shaped substring in
        an email local part is consumed by the email redaction (which runs
        first), so it is 1 email and 0 phones — the output contains only
        <EMAIL>."""
        import hashlib

        from nimbus_crawler_spark.operators.textstats import pii_scrub

        docs = spark.createDataFrame(
            [(0, "mail user+1-234-567-8901@x.com and dial +1-234-567-8901")],
            "doc_id long, text string",
        )
        row = pii_scrub(docs).collect()[0]
        assert (row["n_emails"], row["n_phones"]) == (1, 1)
        expected = "mail <EMAIL> and dial <PHONE>"
        assert row["scrubbed_fp"] == hashlib.md5(expected.encode()).hexdigest()

        only_email = spark.createDataFrame(
            [(0, "mail user+1-234-567-8901@x.com bye")], "doc_id long, text string"
        )
        row = pii_scrub(only_email).collect()[0]
        assert (row["n_emails"], row["n_phones"]) == (1, 0)
        assert row["scrubbed_fp"] == hashlib.md5(b"mail <EMAIL> bye").hexdigest()


class TestSampling:
    def _docs(self, spark, n=40):
        rows = [(i, f"tok{i} the and word{i % 7} of", f"src{i % 4}") for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_mixture_membership_matches_manual_md5(self, spark):
        """Per-row keep decision must equal the hand-computed hash-threshold
        rule — layout-independent, so repartitioning cannot change it."""
        import hashlib

        from nimbus_crawler_spark.operators.sampling import mixture_sample

        docs = self._docs(spark)
        weights = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
        default = 0.25
        got = {r["doc_id"] for r in mixture_sample(docs, weights, default).collect()}

        def key(i):
            return hashlib.md5(f"mix:{i}".encode()).hexdigest()[:8]

        exp = set()
        for i in range(40):
            rate = weights.get(f"src{i % 4}", default)
            if rate >= 1.0 or (rate > 0 and key(i) < format(int(rate * 2**32), "08x")):
                exp.add(i)
        assert got == exp
        assert {i for i in got if i % 4 == 0} == {i for i in range(40) if i % 4 == 0}
        assert not any(i % 4 == 2 for i in got)  # rate 0.0 keeps nothing
        # layout independence: a different partitioning samples the same rows
        regot = {
            r["doc_id"]
            for r in mixture_sample(docs.repartition(7), weights, default).collect()
        }
        assert regot == got

    def test_mixture_salt_redraws(self, spark):
        from nimbus_crawler_spark.operators.sampling import mixture_sample

        docs = self._docs(spark, n=200)
        a = {r["doc_id"] for r in mixture_sample(docs, {}, 0.5, salt="a").collect()}
        b = {r["doc_id"] for r in mixture_sample(docs, {}, 0.5, salt="b").collect()}
        assert a != b  # independent draws
        assert 40 < len(a) < 160  # ~rate·n, loose deterministic bounds

    def test_threshold_hex_rejects_out_of_range(self):
        import pytest

        from nimbus_crawler_spark.operators.sampling import weight_threshold_hex

        assert weight_threshold_hex(0.5) == "80000000"
        assert weight_threshold_hex(0.0) == "00000000"
        with pytest.raises(ValueError):
            weight_threshold_hex(1.0)

    def test_stratified_topk_equals_naive_window(self, spark):
        """Two-phase bounded top-k must return exactly the naive
        window-rank result (same score, same tie-break)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from nimbus_crawler_spark.operators.sampling import stratified_topk
        from nimbus_crawler_spark.operators.textstats import (
            _quality_feature_cols,
            quality_score_col,
        )

        docs = self._docs(spark, n=60).repartition(8)
        got = sorted(tuple(r) for r in stratified_topk(docs, k=3).collect())
        scored = docs.select(
            "doc_id", "source",
            quality_score_col(_quality_feature_cols(F.col("text"))).alias("quality_score"),
        )
        w = Window.partitionBy("source").orderBy(F.desc("quality_score"), F.asc("doc_id"))
        exp = sorted(
            tuple(r)
            for r in scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .collect()
        )
        assert got == exp
        per_src = {}
        for _, src, _, rank in got:
            per_src[src] = per_src.get(src, 0) + 1
            assert 1 <= rank <= 3
        assert all(v == 3 for v in per_src.values())

    def test_topk_map_side_window_group_limit_in_plan(self, spark):
        """topk_per_group relies on InferWindowGroupLimit (SPARK-37099): a
        map-side WindowGroupLimit BELOW the exchange must prune each input
        partition to its per-group top-k before the shuffle. If this
        disappears (optimizer change, pattern mismatch), the window task
        buffers whole groups again — fail loudly."""
        import io
        from contextlib import redirect_stdout

        from pyspark.sql import functions as F

        from nimbus_crawler_spark.operators.similarity import topk_per_group

        docs = self._docs(spark, n=50)
        out = topk_per_group(
            docs, "source", [F.desc("doc_id")], 3
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        tree = buf.getvalue()
        tree = tree[: tree.index("(1)")]  # operator tree only
        assert tree.count("WindowGroupLimit") >= 2
        # printed top-down: the final WindowGroupLimit sits BELOW Exchange,
        # i.e. on the map side, before any row is shuffled
        assert tree.rindex("WindowGroupLimit") > tree.index("Exchange")


class TestIndexing:
    """inverted_index + bpe_pair_counts (operators/indexing.py): the
    search-index and BPE-merge-count aggregations over the crawled corpus."""

    def _docs(self, spark):
        rows = [
            (0, "a b a c"),
            (1, "a b"),
            (2, "a c c"),
            (3, "b"),
            (4, ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_inverted_index_postings(self, spark):
        from nimbus_crawler_spark.operators.indexing import inverted_index

        docs = self._docs(spark)
        # df: a→3 (docs 0,1,2), b→3 (docs 0,1,3), c→2 (docs 0,2) —
        # c is dropped by min_doc_freq=3
        got = [
            tuple(r)
            for r in inverted_index(
                docs, min_doc_freq=3, max_doc_freq=10, max_postings=2
            )
            .orderBy("token", "posting_rank")
            .collect()
        ]
        assert got == [
            ("a", 3, 0, 2, 1),  # tf 2 in doc 0 wins
            ("a", 3, 1, 1, 2),  # tf tie (docs 1,2 both 1) → doc_id asc
            ("b", 3, 0, 1, 1),
            ("b", 3, 1, 1, 2),  # doc 3 cut by max_postings=2
        ]

    def test_inverted_index_df_gates(self, spark):
        from nimbus_crawler_spark.operators.indexing import inverted_index

        docs = self._docs(spark)
        # floor=1 admits the hapax-ish c; cap=2 drops the stopword-grade a,b
        got = [
            tuple(r)
            for r in inverted_index(
                docs, min_doc_freq=1, max_doc_freq=2, max_postings=10
            )
            .orderBy("token", "posting_rank")
            .collect()
        ]
        assert got == [("c", 2, 2, 2, 1), ("c", 2, 0, 1, 2)]

    def test_inverted_index_postings_cut_is_bounded(self, spark):
        """The per-term postings cut must run through WindowGroupLimit —
        sort-based rank-limit streaming, never a group-buffering window.
        Catalyst picks one of two safe shapes depending on the df-join
        strategy: (a) sort-merge join → the window reuses the join's
        clustering, NO Exchange between Window and Join; (b) broadcast
        join → an Exchange appears, but a MAP-SIDE WindowGroupLimit below
        it prunes each partition to its per-term top-k before the shuffle.
        Either way no task buffers a stopword-grade postings list; the
        unsafe shape (Exchange with no limit below it) must fail."""
        import io
        from contextlib import redirect_stdout

        from nimbus_crawler_spark.operators.indexing import inverted_index

        out = inverted_index(self._docs(spark), min_doc_freq=1, max_postings=2)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        tree = buf.getvalue()
        tree = tree[: tree.index("(1)")]
        i_win = tree.index("Window ")
        i_join = tree.index("Join")
        span = tree[i_win:i_join]  # printed top-down: window … down to the join
        assert "WindowGroupLimit" in span
        if "Exchange" in span:
            # broadcast shape: a map-side limit must sit BELOW the exchange
            assert "WindowGroupLimit" in span[span.index("Exchange"):]

    def test_bpe_pair_counts(self, spark):
        from nimbus_crawler_spark.operators.indexing import bpe_pair_counts

        rows = [
            (0, "x y x y x"),  # adjacencies: x y, y x, x y, y x
            (1, "x y z"),
            (2, "solo"),
            (3, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = [tuple(r) for r in bpe_pair_counts(docs, top_k=3).collect()]
        assert got == [("x y", 3, 1), ("y x", 2, 2), ("y z", 1, 3)]
        # the merge candidate is the top-1 row; repeats within a doc count
        top = bpe_pair_counts(docs, top_k=1).collect()
        assert [(top[0]["pair"], top[0]["n_occurrences"])] == [("x y", 3)]

    def test_bm25_topk(self, spark):
        import math

        import pytest

        from nimbus_crawler_spark.operators.indexing import bm25_topk

        rows = [
            (0, "cat dog cat"),
            (1, "dog dog dog dog"),
            (2, "cat fish"),
            (3, "bird"),
            (4, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = [tuple(r) for r in bm25_topk(docs, "cat dog", k=10).collect()]

        # independent pure-Python BM25 (Lucene idf; k1=1.2, b=0.75)
        toks = {i: [t for t in txt.lower().split() if t] for i, txt in rows}
        n, avgdl = len(rows), sum(map(len, toks.values())) / len(rows)
        dfreq = {q: sum(q in tk for tk in toks.values()) for q in ("cat", "dog")}
        exp = []
        for i, tk in toks.items():
            s = 0.0
            for q in ("cat", "dog"):
                tf = tk.count(q)
                if tf:
                    idf = math.log(1 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
                    s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(tk) / avgdl))
            if s:
                exp.append((i, round(s, 6)))
        exp.sort(key=lambda x: (-x[1], x[0]))
        assert got == [(i, s, r + 1) for r, (i, s) in enumerate(exp)]
        assert [g[0] for g in got] == [0, 1, 2]  # two hits > high-tf > low-tf

        with pytest.raises(ValueError):
            bm25_topk(docs, "   ")

    _BM25_ROWS = [(0, "cat dog cat"), (1, "dog dog dog dog"), (2, "cat fish"), (3, "bird"), (4, "")]

    def test_bm25_topk_string_ids(self, spark):
        """The rank window's constant key must not read doc_id as a number:
        string ids rank exactly like the same corpus with long ids."""
        from nimbus_crawler_spark.operators.indexing import bm25_topk

        longs = spark.createDataFrame(self._BM25_ROWS, "doc_id long, text string")
        strs = spark.createDataFrame(
            [(f"d{i}", t) for i, t in self._BM25_ROWS], "doc_id string, text string"
        )
        exp = [(f"d{i}", s, r) for i, s, r in bm25_topk(longs, "cat dog").collect()]
        assert [tuple(r) for r in bm25_topk(strs, "cat dog").collect()] == exp

    def test_bm25_topk_null_id_shares_the_window(self, spark):
        """A null doc_id must rank in the same window as every other row,
        not in a partition of its own (which gave a second rank 1)."""
        from nimbus_crawler_spark.operators.indexing import bm25_topk

        rows = [(None if i == 1 else i, t) for i, t in self._BM25_ROWS]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = bm25_topk(docs, "cat dog").collect()
        assert [r["doc_id"] for r in got] == [0, None, 2]
        assert [r["rank"] for r in got] == [1, 2, 3]


class TestHistograms:
    """metric_histogram / quality_histogram (textstats): distribution
    evidence for curation-threshold tuning."""

    def test_metric_histogram_buckets_and_clamping(self, spark):
        from nimbus_crawler_spark.operators.textstats import metric_histogram

        rows = [(0.0,), (0.049,), (0.05,), (0.9999,), (1.0,), (-0.2,), (1.7,)]
        df = spark.createDataFrame(rows, "x double")
        got = {
            r["bucket"]: (r["lo_edge"], r["n"])
            for r in metric_histogram(df, "x", n_buckets=20).collect()
        }
        # 0.0 and 0.049 in bucket 0; -0.2 clamps up into it
        # 0.05 is exactly the bucket-1 edge; 1.0 and 1.7 clamp into bucket 19
        assert got[0] == (0.0, 3)
        assert got[1] == (0.05, 1)
        assert got[19][1] == 3 and abs(got[19][0] - 0.95) < 1e-12
        assert set(got) == {0, 1, 19}
        assert sum(n for _, n in got.values()) == len(rows)  # nothing dropped

    def test_metric_histogram_grouped(self, spark):
        from nimbus_crawler_spark.operators.textstats import metric_histogram

        rows = [("a", 0.1), ("a", 0.12), ("b", 0.1), ("b", 0.9)]
        df = spark.createDataFrame(rows, "src string, x double")
        got = {
            (r["src"], r["bucket"]): r["n"]
            for r in metric_histogram(df, "x", n_buckets=10, by="src").collect()
        }
        assert got == {("a", 1): 2, ("b", 1): 1, ("b", 9): 1}

    def test_quality_histogram_totals(self, spark):
        from nimbus_crawler_spark.operators.textstats import quality_histogram

        rows = [
            (0, "the quick brown fox is with the lazy dog", "s0"),
            (1, "the the the the", "s0"),
            (2, "xyzzy", "s1"),
            (3, "", "s1"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = quality_histogram(docs, n_buckets=10, by="source").collect()
        per_src = {}
        for r in got:
            assert 0 <= r["bucket"] <= 9
            assert abs(r["lo_edge"] - r["bucket"] * 0.1) < 1e-12
            per_src[r["source"]] = per_src.get(r["source"], 0) + r["n"]
        assert per_src == {"s0": 2, "s1": 2}  # every doc lands in a bucket


class TestChunkDocuments:
    """Fixed-token-window chunking vs a plain-Python oracle."""

    def _expected(self, rows, chunk, stride):
        out = []
        for doc_id, text in rows:
            toks = [t for t in text.split() if t]
            for start in range(0, len(toks), stride):
                win = toks[start : start + chunk]
                out.append((doc_id, start // stride, start, len(win), " ".join(win)))
        return sorted(out)

    def _got(self, spark, rows, chunk, stride):
        from nimbus_crawler_spark.operators.chunking import chunk_documents

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return sorted(
            (r["doc_id"], r["chunk_idx"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
            for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
        )

    def test_overlapping_windows_exact(self, spark):
        rows = [
            (0, " ".join(f"w{i}" for i in range(23))),   # short tail window
            (1, " ".join(f"x{i}" for i in range(8))),    # single short chunk
            (2, "one two   three\tfour"),                # whitespace jitter
            (3, ""),                                      # no tokens -> no rows
            (4, " ".join(f"y{i}" for i in range(16))),   # exactly 2 full windows
        ]
        assert self._got(spark, rows, 8, 5) == self._expected(rows, 8, 5)

    def test_disjoint_stride_reconstructs_document(self, spark):
        rows = [(7, " ".join(f"tok{i}" for i in range(37)))]
        got = self._got(spark, rows, 10, 10)
        assert got == self._expected(rows, 10, 10)
        # stride == chunk_tokens partitions the token stream exactly
        rebuilt = " ".join(text for (_d, _i, _s, _n, text) in got)
        assert rebuilt == rows[0][1]

    def test_no_shuffle_in_plan(self, spark):
        from nimbus_crawler_spark.operators.chunking import chunk_documents

        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Generate" in plan

    def test_rejects_degenerate_params(self, spark):
        from nimbus_crawler_spark.operators.chunking import chunk_documents

        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=0)
        with pytest.raises(ValueError):
            chunk_documents(df, stride=0)


class TestPackSequences:
    def test_matches_sequential_packing(self, spark):
        from nimbus_crawler_spark.operators.chunking import pack_sequences

        rows = [(d, c, 7 + (d * 3 + c) % 9) for d in range(6) for c in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, chunk_idx int, n_chunk_tokens int")
        got = {
            (r["doc_id"], r["chunk_idx"]): (r["token_offset"], r["seq_id"], r["offset_in_seq"])
            for r in pack_sequences(df, seq_len=16).collect()
        }
        off = 0
        for d, c, n in sorted(rows):
            assert got[(d, c)] == (off, off // 16, off % 16), (d, c)
            off += n

    def test_layout_invariant(self, spark):
        """The distributed prefix sum must be bit-stable across input
        partition layouts (the cluster-size-independence the crawl_seq
        machinery guarantees)."""
        from nimbus_crawler_spark.operators.chunking import pack_sequences

        rows = [(d, c, 1 + (d + c) % 13) for d in range(40) for c in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, chunk_idx int, n_chunk_tokens int")
        a = sorted(map(tuple, pack_sequences(df.repartition(1), seq_len=32).collect()))
        b = sorted(map(tuple, pack_sequences(df.repartition(17), seq_len=32).collect()))
        assert a == b


class TestHashSplit:
    def test_assignment_matches_manual_md5_and_is_layout_stable(self, spark):
        """Every row lands in exactly one split; the assignment equals the
        hand-computed cumulative-threshold rule and survives repartitioning."""
        import hashlib

        from nimbus_crawler_spark.operators.sampling import hash_split

        docs = spark.range(500).withColumnRenamed("id", "doc_id")
        got = {r["doc_id"]: r["split"] for r in
               hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
        assert len(got) == 500  # total, no row lost or duplicated

        t1 = format(int(0.8 * 2**32), "08x")
        t2 = format(int(0.9 * 2**32), "08x")
        for i in range(500):
            k = hashlib.md5(f"split:{i}".encode()).hexdigest()[:8]
            exp = "train" if k < t1 else ("val" if k < t2 else "test")
            assert got[i] == exp
        regot = {r["doc_id"]: r["split"] for r in
                 hash_split(docs.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
        assert regot == got

    def test_rejects_bad_fractions(self, spark):
        import pytest

        from nimbus_crawler_spark.operators.sampling import hash_split

        docs = spark.range(2).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            hash_split(docs, {"train": 0.8, "val": 0.1})  # sums to 0.9
        with pytest.raises(ValueError):
            hash_split(docs, {"all": 1.0})  # single split
        with pytest.raises(ValueError):
            hash_split(docs, {"a": 1.2, "b": -0.2})  # out of range


class TestRemoveRepeatedLines:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "Home\nAbout\nunique alpha\nCopyright 2026"),
                (2, "Home\nunique beta\nCopyright 2026"),
                (3, "unique gamma\n  Home  \nsolo line"),
                (4, "all mine here"),
                (5, "Home\nCopyright 2026"),  # fully boilerplate
            ],
            "doc_id long, text string",
        )

    def test_matches_python_oracle_order_preserved(self, spark):
        """Cross-document line df >= 2 drops (trim-exact); survivors rejoin
        in original order; a fully-boilerplate doc survives with ''."""
        from nimbus_crawler_spark.operators.textdedup import remove_repeated_lines

        got = {r["doc_id"]: (r["text_clean"], r["n_lines_kept"], r["n_lines_dropped"])
               for r in remove_repeated_lines(self._docs(spark), min_docs=2).collect()}
        assert got == {
            1: ("About\nunique alpha", 2, 2),
            2: ("unique beta", 1, 2),
            3: ("unique gamma\nsolo line", 2, 1),  # '  Home  ' trim-matches
            4: ("all mine here", 1, 0),
            5: ("", 0, 2),
        }

    def test_min_docs_bound_and_within_doc_repeats(self, spark):
        """A line repeated only WITHIN one doc has df 1 and is kept; raising
        min_docs loosens the filter monotonically."""
        from nimbus_crawler_spark.operators.textdedup import remove_repeated_lines

        docs = spark.createDataFrame(
            [(1, "x\nx\nmine"), (2, "y\nshared"), (3, "z\nshared")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["text_clean"]
               for r in remove_repeated_lines(docs, min_docs=2).collect()}
        assert got == {1: "x\nx\nmine", 2: "y", 3: "z"}
        loose = {r["doc_id"]: r["n_lines_dropped"]
                 for r in remove_repeated_lines(docs, min_docs=3).collect()}
        assert loose == {1: 0, 2: 0, 3: 0}


class TestEpochShuffle:
    def test_matches_sequential_rank_and_redraws_per_epoch(self, spark):
        """epoch_pos must equal the sequential rank of (md5 key, id); a
        different epoch permutes; a different partition layout does not."""
        import hashlib

        from nimbus_crawler_spark.operators.sampling import epoch_shuffle

        docs = spark.range(300).withColumnRenamed("id", "doc_id").repartition(5)
        got = {r["doc_id"]: (r["shuffle_key"], r["epoch_pos"])
               for r in epoch_shuffle(docs, epoch=1, num_partitions=6).collect()}

        keys = {i: hashlib.md5(f"epoch1:{i}".encode()).hexdigest() for i in range(300)}
        order = sorted(range(300), key=lambda i: (keys[i], i))
        for pos, i in enumerate(order):
            assert got[i] == (keys[i], pos)

        other = {r["doc_id"]: r["epoch_pos"]
                 for r in epoch_shuffle(docs, epoch=2, num_partitions=6).collect()}
        assert other != {i: p for i, (_, p) in got.items()}  # epoch redraws
        relayout = {r["doc_id"]: r["epoch_pos"]
                    for r in epoch_shuffle(docs.repartition(11), epoch=1,
                                           num_partitions=3).collect()}
        assert relayout == {i: p for i, (_, p) in got.items()}  # layout-stable


class TestPageRank:
    def test_matches_python_power_iteration(self, spark):
        """5-node graph with a hub, a source (no in-edges), and a dangling
        sink (no out-edges, mass leaks — the documented variant); expected
        ranks recomputed in-test with the identical arithmetic."""
        from collections import Counter

        from nimbus_crawler_spark.operators.graph import pagerank

        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)]
        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
        n, d = len(nodes), 0.85
        outdeg = Counter(u for u, _ in edges)
        r = {v: 1.0 / n for v in nodes}
        for _ in range(5):
            inc = {v: 0.0 for v in nodes}
            for u, v in edges:
                inc[v] += r[u] / outdeg[u]
            r = {v: (1.0 - d) / n + d * inc[v] for v in nodes}

        got = {
            row["node"]: row["rank"]
            for row in pagerank(
                spark.createDataFrame(edges, "src long, dst long"), iters=5
            ).collect()
        }
        assert set(got) == set(nodes)
        for v in nodes:
            assert got[v] == pytest.approx(r[v], abs=1e-9)
        # the sink received mass but leaked its own: total mass < 1
        assert sum(got.values()) < 1.0

    def test_single_iteration_uniform_in_regular_cycle(self, spark):
        """On a directed cycle every node keeps exactly 1/n at every
        iteration — a closed-form fixpoint check."""
        from nimbus_crawler_spark.operators.graph import pagerank

        cyc = [(i, (i + 1) % 4) for i in range(4)]
        got = {
            row["node"]: row["rank"]
            for row in pagerank(
                spark.createDataFrame(cyc, "src long, dst long"), iters=3
            ).collect()
        }
        for v in range(4):
            assert got[v] == pytest.approx(0.25, abs=1e-9)

    def test_empty_edges_fail_loudly(self, spark):
        from nimbus_crawler_spark.operators.graph import pagerank

        with pytest.raises(ValueError, match="empty edge set"):
            pagerank(spark.createDataFrame([], "src long, dst long")).collect()


class TestUnigramLM:
    def test_vocab_cap_and_oov_mass(self, spark):
        """top_vocab=2 keeps {b:3, a:2} of N=7; c and d share the leftover
        mass 2/7. Expected per-doc NLL recomputed with math.log in-test;
        the empty doc yields no row."""
        from nimbus_crawler_spark.operators.lm import unigram_lm_score

        docs = spark.createDataFrame(
            [(0, "a a b c"), (1, "b b d"), (2, "")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["avg_nll"])
            for r in unigram_lm_score(docs, top_vocab=2).collect()
        }
        pa, pb, poov = 2 / 7, 3 / 7, 2 / 7
        exp0 = -(2 * math.log(pa) + math.log(pb) + math.log(poov)) / 4
        exp1 = -(2 * math.log(pb) + math.log(poov)) / 3
        assert set(got) == {0, 1}
        assert got[0][0] == 4 and got[1][0] == 3
        assert got[0][1] == pytest.approx(exp0, abs=1e-6)
        assert got[1][1] == pytest.approx(exp1, abs=1e-6)

    def test_uncapped_is_mle(self, spark):
        """With the whole vocabulary kept, the model is plain MLE and a
        one-token doc scores exactly -ln(count/N)."""
        from nimbus_crawler_spark.operators.lm import unigram_lm_score

        docs = spark.createDataFrame(
            [(0, "x x x"), (1, "y")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["avg_nll"]
            for r in unigram_lm_score(docs, top_vocab=100).collect()
        }
        assert got[0] == pytest.approx(-math.log(3 / 4), abs=1e-6)
        assert got[1] == pytest.approx(-math.log(1 / 4), abs=1e-6)

    def test_importance_weights_log_ratio(self, spark):
        """DSIR log-ratio against a hand-computed two-model oracle: target
        = doc 0 only, source = all docs, top_vocab=2 so each model has both
        in-vocab and shared-OOV lookups."""
        from nimbus_crawler_spark.operators.lm import importance_weights

        docs = spark.createDataFrame(
            [(0, "a a b"), (1, "b c"), (2, "c c c d")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["log_importance"])
            for r in importance_weights(
                docs, docs.where("doc_id = 0"), top_vocab=2
            ).collect()
        }
        # target (doc 0): a:2, b:1, N=3, both kept, oov mass 1 -> p 1/3
        # source: c:4, a:2 kept of N=9; b,d share oov mass 3 -> p 3/9
        lt = {"a": math.log(2 / 3), "b": math.log(1 / 3), "_": math.log(1 / 3)}
        ls = {"c": math.log(4 / 9), "a": math.log(2 / 9), "_": math.log(3 / 9)}

        def ratio(tok):
            return lt.get(tok, lt["_"]) - ls.get(tok, ls["_"])

        exp = {
            0: (3, (2 * ratio("a") + ratio("b")) / 3),
            1: (2, (ratio("b") + ratio("c")) / 2),
            2: (4, (3 * ratio("c") + ratio("d")) / 4),
        }
        assert set(got) == {0, 1, 2}
        for k, (n, li) in exp.items():
            assert got[k][0] == n
            assert got[k][1] == pytest.approx(li, abs=1e-6)


class TestHostRank:
    def test_host_graph_and_rank_match_python_oracle(self, spark):
        """Closed loop over the engine's own data: pages → Arrow-batched
        parse → host edges → PageRank, each stage checked against a pure
        Python recomputation through the SAME kernels."""
        from collections import Counter

        from nimbus_crawler_spark.functions import extract as _extract
        from nimbus_crawler_spark.functions import urlnorm as _urlnorm
        from nimbus_crawler_spark.operators.graph import host_link_graph, host_rank
        from nimbus_crawler_spark.sources.corpus import (
            corpus_to_pages_df,
            make_corpus,
        )

        corpus = make_corpus(seed=13, n_hosts=4, pages_per_host=5)
        pages = corpus_to_pages_df(spark, corpus)

        edges: Counter = Counter()
        for r in pages.select("url", "html").collect():
            if r["html"] is None:
                continue
            _, links = _extract.parse_page(r["html"], r["url"])
            src = _urlnorm.hostname(r["url"])
            for lk in links:
                dst = _urlnorm.hostname(lk)
                if dst and dst != src:
                    edges[(src, dst)] += 1
        assert edges, "corpus must contain cross-host links"

        got_edges = {
            (r["src_host"], r["dst_host"]): r["n_links"]
            for r in host_link_graph(pages).collect()
        }
        assert got_edges == dict(edges)

        eset = sorted(edges)
        nodes = sorted({u for u, _ in eset} | {v for _, v in eset})
        n, d = len(nodes), 0.85
        outdeg = Counter(u for u, _ in eset)
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(4):
            inc = {v: 0.0 for v in nodes}
            for u, v in eset:
                inc[v] += rank[u] / outdeg[u]
            rank = {v: (1.0 - d) / n + d * inc[v] for v in nodes}

        got_rank = {r["host"]: r["rank"] for r in host_rank(pages, iters=4).collect()}
        assert set(got_rank) == set(nodes)
        for v in nodes:
            assert got_rank[v] == pytest.approx(rank[v], abs=1e-9)


class TestR6OptimizationInternals:
    """Pin the round-6 rewrites against reference formulations: the
    first-matching-band LSH emission (replaced a distinct), the ngram
    intersection-bound prune (must drop nothing the verify would keep),
    and the hook-fused CC label init (must still be min-id components)."""

    def _mk_docs(self, spark, seed=13, n=40):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        rows = []
        for i in range(n):
            toks = [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
            rows.append((i, " ".join(toks)))
        # inject exact and near duplicates so bands collide across groups
        rows.append((n, rows[0][1]))
        rows.append((n + 1, rows[1][1] + " w0"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    @staticmethod
    def _band_join_distinct(rows, id_col, band_keys, carry=()):
        """The shape ``banded_pairs`` replaced: explode (band, key) structs,
        self-join on them, keep a < b and collapse repeats with a distinct."""
        structs = F.array(*[
            F.struct(F.lit(j).alias("band"), k.alias("band_key")) for j, k in enumerate(band_keys)
        ])
        banded = rows.select(F.col(id_col), *carry, F.explode(structs).alias("_bk")).select(
            id_col, *carry, F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key")
        )

        def side(s):
            return banded.select(
                F.col(id_col).alias(s), *[F.col(c).alias(f"{c}_{s}") for c in carry], "band", "band_key"
            )

        return (
            side("a").join(side("b"), ["band", "band_key"]).where(F.col("a") < F.col("b"))
            .select("a", "b", *[f"{c}_{s}" for s in "ab" for c in carry]).distinct()
        )

    def _minhash_case(self, spark):
        from nimbus_crawler_spark.operators.textdedup import (
            minhash_lsh_candidates,
            minhash_signatures_wide,
        )

        # one signature per band: many pairs agree in several bands
        docs = self._mk_docs(spark)
        h, bands, n = 8, 8, 2
        got = minhash_lsh_candidates(docs, num_hashes=h, bands=bands, shingle_n=n)
        keys = [F.md5(F.concat_ws(",", F.col(f"s{j}"))) for j in range(bands)]
        ref = self._band_join_distinct(minhash_signatures_wide(docs, h, n), "doc_id", keys)
        return got, ref

    def _simhash_case(self, spark):
        from nimbus_crawler_spark.operators.textdedup import simhash_fingerprints, simhash_near_pairs

        docs = self._mk_docs(spark)
        bits, bands, mh = 16, 4, 3
        got = simhash_near_pairs(docs, max_hamming=mh, bits=bits, bands=bands)
        band_bits, mask = bits // bands, (1 << (bits // bands)) - 1
        keys = [F.shiftright("simhash", j * band_bits).bitwiseAND(F.lit(mask)) for j in range(bands)]
        ref = (
            self._band_join_distinct(simhash_fingerprints(docs, bits=bits), "doc_id", keys, ("simhash",))
            .withColumn("hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
            .where(F.col("hamming") <= mh).select("a", "b", "hamming")
        )
        return got, ref

    def _embedding_case(self, spark):
        import random

        from nimbus_crawler_spark.operators.similarity import (
            cosine,
            embedding_cosine_pairs,
            sign_bucket,
        )

        rng = random.Random(7)
        vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        bits, bands, thr = 2, 4, 0.1
        got = embedding_cosine_pairs(emb, threshold=thr, bits=bits, bands=bands)
        keys = [sign_bucket(F.col("embedding"), bits, offset=j * bits) for j in range(bands)]
        ref = (
            self._band_join_distinct(emb, "vec_id", keys, ("embedding",))
            .withColumn("cosine", F.round(cosine(F.col("embedding_a"), F.col("embedding_b")), 6))
            .where(F.col("cosine") >= thr).select("a", "b", "cosine")
        )
        return got, ref

    @pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
    def test_simhash_first_band_equals_distinct_formulation(self, spark, op):
        """``banded_pairs`` emits each pair from its lowest agreeing band
        only; for each of its three callers the result must equal the
        band-join + distinct formulation, with no pair emitted twice."""
        got_df, ref_df = getattr(self, f"_{op}_case")(spark)
        got = [tuple(r) for r in got_df.collect()]
        assert len(got) == len(set(got))
        assert got and set(got) == {tuple(r) for r in ref_df.collect()}

    @pytest.mark.parametrize("op", ["minhash", "embedding"])
    def test_banded_pairs_plan_has_no_pair_aggregate(self, spark, op):
        """Plan-shape pin: uniqueness comes from the lower-band test inside
        the join, so no aggregate keyed on (a, b) — the old distinct — may
        appear in the physical plan."""
        import io
        import re
        from contextlib import redirect_stdout

        got_df, _ = getattr(self, f"_{op}_case")(spark)
        buf = io.StringIO()
        with redirect_stdout(buf):
            got_df.explain()
        plan = buf.getvalue()
        assert "Join" in plan
        assert not re.search(r"Aggregate\(keys=\[a#\d+L?, b#\d+L?\]", plan), plan

    def test_ngram_prune_drops_nothing(self, spark):
        from pyspark.sql import functions as F

        from nimbus_crawler_spark.operators.textdedup import (
            jaccard_verify,
            ngram_jaccard_pairs,
            shingle_sets,
        )

        docs = self._mk_docs(spark, seed=29, n=60)
        thr, n, mdf = 0.3, 3, 6
        got = {(r["a"], r["b"], r["jaccard"]) for r in
               ngram_jaccard_pairs(docs, threshold=thr, shingle_n=n, max_doc_freq=mdf).collect()}
        # reference: candidates WITHOUT the intersection-bound prune
        sets = shingle_sets(docs, n)
        sh = sets.select(F.col("_id").alias("doc_id"), F.explode("_sh").alias("shingle"))
        rare = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
                .where((F.col("_df") >= 2) & (F.col("_df") <= mdf)).select("shingle"))
        holders = (sh.join(rare, "shingle", "left_semi").groupBy("shingle")
                   .agg(F.sort_array(F.collect_set("doc_id")).alias("_ids")))
        pair_structs = F.flatten(F.transform(
            "_ids",
            lambda x, i: F.transform(F.slice("_ids", i + 2, F.size("_ids")),
                                     lambda y: F.struct(x.alias("a"), y.alias("b"))),
        ))
        cands = (holders.select(F.explode(pair_structs).alias("_p"))
                 .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b")).distinct())
        ref = {(r["a"], r["b"], r["jaccard"]) for r in
               jaccard_verify(cands, docs, thr, n, sets=sets).collect()}
        assert got == ref

    def test_cc_fused_init_random_graphs(self, spark):
        import random

        from nimbus_crawler_spark.operators.graph import connected_components

        for seed in (3, 17):
            rng = random.Random(seed)
            nodes = list(range(60))
            edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "a long, b long")
            got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
            assert got == _union_find(edges), seed
