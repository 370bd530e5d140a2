"""Property-style tests for the LLM-pipeline tier: approximation quality of
the scale-path operators (LSH, MinHash, SimHash) measured against their
exact twins, and Arrow-batch plumbing of the multimodal stage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_pmem_spark.catalog import load_table
from cassandra_pmem_spark.pipeline.dedup import (
    dedup_cascade,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64,
    word_shingles,
)
from cassandra_pmem_spark.pipeline.similarity import (
    brute_force_topk,
    lsh_topk,
    near_dup_pairs_exact,
)
from tests.conftest import SF_SMALL


class TestLshRecall:
    def test_lsh_topk_recall_vs_bruteforce(self, spark):
        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_topk(emb, queries, k=5, bits=4, tables=8).collect()
        }
        recall = len(exact & approx) / len(exact)
        # OR-amplification over 8 tables: measured 0.76 on this corpus;
        # assert with headroom against plane-seed sensitivity
        assert recall >= 0.6, f"LSH recall {recall:.2f} too low"

    def test_lsh_results_are_subset_quality(self, spark):
        """Every LSH hit must carry the *exact* cosine (no approximation in
        the scoring, only in candidate generation)."""
        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
            for r in brute_force_topk(emb, queries, k=50).collect()
        }
        for r in lsh_topk(emb, queries, k=5, bits=4).collect():
            key = (r["query_id"], r["neighbor_id"])
            if key in exact:
                assert abs(r["cosine_sim"] - exact[key]) < 1e-12


class TestIvfRecall:
    def test_ivf_topk_recall_vs_bruteforce(self, spark):
        from cassandra_pmem_spark.pipeline.similarity import ivf_topk

        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=8).collect()
        }
        recall = len(exact & approx) / len(exact)
        # measured 0.84 at 16/8 on this corpus; assert with headroom
        assert recall >= 0.6, f"IVF recall {recall:.2f} too low"


class TestMinhashAccuracy:
    def test_minhash_estimates_true_jaccard(self, spark):
        """Mean |minhash_estimate − exact_jaccard| over pairs is bounded —
        K=64 gives stderr ≈ sqrt(J(1−J)/64) ≤ 0.0625."""
        docs = load_table(spark, "documents", SF_SMALL).filter(F.col("doc_id") < 25)
        sigs = docs.select(
            "doc_id", minhash_signature(word_shingles("text", 3), 64).alias("sig")
        )
        l = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
        r = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
        agree = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        )
        est = (
            l.join(r, F.col("a") < F.col("b"))
            .select("a", "b", (agree / 64.0).alias("est"))
        )
        ids = docs.select("doc_id")
        pairs = ids.select(F.col("doc_id").alias("a")).join(
            ids.select(F.col("doc_id").alias("b")), F.col("a") < F.col("b")
        )
        exact = ngram_jaccard_pairs(docs, pairs, "doc_id", "text", shingle=3)
        joined = est.join(exact, ["a", "b"]).select(
            F.abs(F.col("est") - F.col("jaccard")).alias("err")
        )
        mean_err = joined.agg(F.avg("err")).collect()[0][0]
        assert mean_err < 0.1, f"minhash mean error {mean_err:.3f}"

    def test_identical_docs_estimate_one(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different text with no overlap at all here")],
            ["doc_id", "text"],
        )
        sigs = df.select("doc_id", minhash_signature(word_shingles("text", 3), 32).alias("sig"))
        got = {r["doc_id"]: r["sig"] for r in sigs.collect()}
        assert got[1] == got[2]
        assert got[1] != got[3]


class TestSimhash:
    def test_similar_docs_have_close_fingerprints(self, spark):
        df = spark.createDataFrame(
            [(1, "spark is a distributed analytics engine for large data"),
             (2, "spark is a distributed analytics engine for larger data"),
             (3, "cats purr softly under warm evening blankets tonight")],
            ["doc_id", "text"],
        )
        fp = {r["doc_id"]: r["h"] for r in df.select("doc_id", simhash64("text").alias("h")).collect()}

        def hamming(x, y):
            return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")

        assert hamming(fp[1], fp[2]) < hamming(fp[1], fp[3])
        assert hamming(fp[1], fp[2]) < hamming(fp[2], fp[3])


class TestHammingDegenerateBuckets:
    def test_identical_signature_flood_is_guarded(self, spark):
        """A degenerate corpus (every row the same 64-bit signature —
        monochrome images) must not build an N² hot chunk bucket: the
        chunk join runs over DISTINCT signatures (one representative
        here), and the emitted pairs are exactly the true n(n-1)/2."""
        from cassandra_pmem_spark.pipeline.dedup import hamming_pairs

        n = 3000
        df = spark.range(n).select(
            F.col("id").alias("item_id"), F.lit(-4242424242).alias("h")
        )
        pairs = hamming_pairs(df, id_col="item_id", hash_col="h", max_hamming=2)
        assert pairs.count() == n * (n - 1) // 2
        # the banded stage itself saw ONE distinct signature: no chunk
        # bucket ever held more than one row
        assert pairs.filter(F.col("hamming") != 0).count() == 0

    def test_pair_set_matches_bruteforce_with_heavy_group(self, spark):
        """Mixed corpus — one heavy identical group plus scattered
        near/far signatures — must produce exactly the brute-force pair
        set (guard changes the plan, never the answer)."""
        from cassandra_pmem_spark.pipeline.dedup import hamming_pairs

        sigs = [0x5A5A] * 40 + [0x5A5B, 0x5A58, 0xFFFF00000000, 0x123456789, 0]
        rows = [(i, s) for i, s in enumerate(sigs)]
        df = spark.createDataFrame(rows, "item_id LONG, h LONG")
        got = {
            (r["a"], r["b"], r["hamming"])
            for r in hamming_pairs(
                df, id_col="item_id", hash_col="h", max_hamming=3
            ).collect()
        }
        want = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                d = bin((sigs[i] ^ sigs[j]) & (2**64 - 1)).count("1")
                if d <= 3:
                    want.add((i, j, d))
        assert got == want


class TestMinhashLshCascade:
    def test_banded_lsh_finds_planted_neardups(self, spark):
        """The production cascade: banded LSH candidates → Jaccard estimate.
        Planted near-dups must surface; candidate volume must stay far below
        the n² cross-join."""
        from cassandra_pmem_spark.pipeline.dedup import (
            minhash_jaccard_estimate,
            minhash_lsh_pairs,
        )

        base = load_table(spark, "documents", SF_SMALL).select("doc_id", "text")
        # plant near-duplicates: copies of doc 0-4 with a one-word change
        dups = base.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
        corpus = base.union(dups)
        cand = minhash_lsh_pairs(corpus, num_hashes=32, bands=16)
        pairs = {(r["a"], r["b"]) for r in cand.collect()}
        planted = {(i, i + 100000) for i in range(5)}
        assert planted <= pairs, f"missed planted dups: {planted - pairs}"
        n = corpus.count()
        assert len(pairs) < n * (n - 1) / 4, "candidate volume too close to n²"

        est = minhash_jaccard_estimate(corpus, cand, num_hashes=32)
        by_pair = {(r["a"], r["b"]): r["jaccard_est"] for r in est.collect()}
        for p in planted:
            assert by_pair[p] > 0.5

    def test_simhash_pairs_find_planted_neardups(self, spark):
        from cassandra_pmem_spark.pipeline.dedup import simhash_pairs

        base = load_table(spark, "documents", SF_SMALL).select("doc_id", "text").limit(100)
        dups = base.filter(F.col("doc_id") < 3).select(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
        )
        corpus = base.union(dups)
        got = {(r["a"], r["b"]) for r in simhash_pairs(corpus, max_hamming=3).collect()}
        assert {(i, i + 100000) for i in range(3)} <= got


class TestNearDupConsistency:
    def test_exact_neardup_symmetric_threshold(self, spark):
        emb = load_table(spark, "embeddings", SF_SMALL)
        pairs = near_dup_pairs_exact(emb, threshold=0.4).collect()
        assert all(r["a"] < r["b"] for r in pairs)
        assert all(r["cosine_sim"] >= 0.4 for r in pairs)


class TestMultimodalPlumbing:
    def test_feature_extraction_batch_shape_and_determinism(self, spark):
        from cassandra_pmem_spark.pipeline.multimodal import (
            attach_media,
            extract_image_features,
        )

        docs = load_table(spark, "documents", SF_SMALL).limit(50).withColumn(
            "blob", F.col("text").cast("binary")
        )
        media = attach_media(docs, "blob", "image", "application/octet-stream", "doc_id")
        out1 = extract_image_features(media, dim=8, fake_decode=True)
        assert [f.name for f in out1.schema.fields] == [
            "item_id", "n_bytes", "byte_entropy", "feature",
        ]
        rows1 = sorted((r["item_id"], tuple(r["feature"])) for r in out1.collect())
        rows2 = sorted(
            (r["item_id"], tuple(r["feature"]))
            for r in extract_image_features(media, dim=8, fake_decode=True).collect()
        )
        assert rows1 == rows2  # deterministic across runs/partitionings
        assert all(len(f) == 8 for _, f in rows1)

    def test_real_decode_is_marked_stub(self, spark):
        from cassandra_pmem_spark.pipeline.multimodal import _decode_image, _resize_image

        with pytest.raises(NotImplementedError):
            _decode_image(b"\x89PNG")
        with pytest.raises(NotImplementedError):
            _resize_image(b"\x89PNG", 8, 8)

    def test_resize_and_audio_stage_plumbing(self, spark):
        from cassandra_pmem_spark.pipeline.multimodal import (
            attach_media,
            extract_audio_features,
            resize_images,
        )

        docs = load_table(spark, "documents", SF_SMALL).limit(20).withColumn(
            "blob", F.col("text").cast("binary")
        )
        media = attach_media(docs, "blob", "audio", "audio/pcm", "doc_id")
        resized = resize_images(media, width=8, height=8).collect()
        assert all(len(r["data"]) == 64 for r in resized)
        assert {(r["width"], r["height"]) for r in resized} == {(8, 8)}

        audio = extract_audio_features(media).collect()
        assert len(audio) == 20
        assert all(r["rms"] >= 0 for r in audio)
        # deterministic across runs
        again = extract_audio_features(media).collect()
        assert sorted(map(tuple, audio)) == sorted(map(tuple, again))


class TestSasiAnalyzers:
    def test_standard_analyzer_drops_stopwords(self, spark):
        from cassandra_pmem_spark.pipeline.text import standard_analyzer

        df = spark.createDataFrame([("The quick AND the dead, for it is done!",)], ["text"])
        toks = df.select(standard_analyzer("text").alias("t")).collect()[0]["t"]
        assert "the" not in toks and "and" not in toks and "for" not in toks
        assert "quick" in toks and "dead" in toks and "done" in toks

    def test_non_tokenizing_analyzer_modes(self, spark):
        from cassandra_pmem_spark.pipeline.text import non_tokenizing_analyzer

        df = spark.createDataFrame([("  MixedCase VALUE ",)], ["v"])
        got = df.select(
            non_tokenizing_analyzer("v").alias("norm"),
            non_tokenizing_analyzer("v", case_sensitive=True, normalized=False).alias("raw"),
        ).collect()[0]
        assert got["norm"] == "mixedcase value"
        assert got["raw"] == "  MixedCase VALUE "

    def test_analyzed_match_like_contains(self, spark):
        from cassandra_pmem_spark.pipeline.text import analyzed_match

        docs = load_table(spark, "documents", SF_SMALL)
        hits = analyzed_match(docs, "text", "data")
        # every hit really contains the token; analyzer matching is
        # case-insensitive word-boundary (unlike raw LIKE '%data%')
        assert hits.count() > 0
        assert all("data" in r["text"].lower() for r in hits.collect())


class TestRollingFingerprint:
    def test_rolling_fingerprint_deterministic_and_local(self, spark):
        """Winnowing fingerprints: equal texts agree exactly; a local edit
        changes the set but leaves most of it intact (the dedup-friendly
        property md5 lacks)."""
        from cassandra_pmem_spark.pipeline.text import rolling_fingerprint

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta theta"),
             (3, "alpha beta gamma delta epsilon zeta eta iota")],
            ["doc_id", "text"],
        )
        fp = {
            r["doc_id"]: set(r["fp"])
            for r in df.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()
        }
        assert fp[1] == fp[2]
        assert fp[1] != fp[3]
        overlap = len(fp[1] & fp[3]) / len(fp[1] | fp[3])
        assert overlap > 0.5, f"local edit should preserve most fingerprints, got {overlap}"


class TestBpe:
    def test_train_matches_pure_python_reference(self, spark):
        """The distributed merge loop must reproduce the sequential
        Sennrich reference exactly: same pairs, same frequencies, same
        tie-breaks, overlaps counted per position."""
        from collections import Counter

        import pandas as pd

        from cassandra_pmem_spark.pipeline.bpe import (
            PUA_BASE,
            apply_bpe,
            train_bpe,
        )

        texts = ["banana band", "banana", "ananas", "aa aa aaa"]

        def ref_train(corpus, n):
            merges = []
            for r in range(1, n + 1):
                c = Counter()
                for t in corpus:
                    for i in range(len(t) - 1):
                        c[t[i : i + 2]] += 1
                if not c:
                    break
                # max freq, lexicographically smallest pair on ties
                pair, freq = min(
                    c.items(), key=lambda kv: (-kv[1], kv[0])
                )
                if freq < 2:
                    break
                merges.append((r, pair, freq))
                sym = chr(PUA_BASE + r - 1)
                corpus = [t.replace(pair, sym) for t in corpus]
            return merges, corpus

        expected_merges, expected_corpus = ref_train(texts, 4)
        df = spark.createDataFrame(pd.DataFrame({"text": texts}))
        got = train_bpe(df, n_merges=4)
        assert got == expected_merges

        enc = {
            r["text"]: r["n_tokens"]
            for r in apply_bpe(df, got).collect()
        }
        # token counts equal the reference's post-merge lengths
        ref_lens = dict(zip(texts, [len(t) for t in expected_corpus]))
        assert enc == ref_lens
        # merging strictly compresses this corpus
        assert all(enc[t] < len(t) for t in texts if len(t) > 3)

    def test_train_early_stops_without_repeats(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.bpe import train_bpe

        df = spark.createDataFrame(
            pd.DataFrame({"text": ["abcdefg"]})
        )
        # every adjacent pair occurs once — nothing reaches freq ≥ 2
        assert train_bpe(df, n_merges=3) == []

    def test_train_cap_bounds_sample_and_is_deterministic(self, spark):
        """train_cap trains on a deterministic hash-ordered sample: a cap
        covering the corpus equals uncapped training, a smaller cap still
        learns a well-formed merge table and repeats run-to-run."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.bpe import train_bpe

        texts = [f"banana band {i % 3}" for i in range(30)]
        df = spark.createDataFrame(pd.DataFrame({"text": texts}))
        assert train_bpe(df, n_merges=3, train_cap=1000) == train_bpe(
            df, n_merges=3
        )
        capped = train_bpe(df, n_merges=3, train_cap=5)
        assert capped == train_bpe(df, n_merges=3, train_cap=5)
        assert [r for r, _, _ in capped] == list(range(1, len(capped) + 1))
        assert all(f >= 2 and len(p) == 2 for _, p, f in capped)


class TestEditDistanceJoin:
    def test_deletion_neighborhood_is_complete(self, spark):
        """SymSpell blocking must find EVERY distance-≤1 pair the brute
        force finds: substitution, deletion/insertion, and reject
        distance-2 lookalikes."""
        import itertools

        import pandas as pd

        from cassandra_pmem_spark.pipeline.dedup import edit_distance_join

        words = [
            "spark", "spork", "sprk", "sparks",  # sub / del / ins chains
            "stark", "shark", "sharp",           # more subs
            "quartz", "quirtz",                  # sub in the middle
            "abcd", "dcba",                      # far apart — must NOT pair
        ]

        def lev(a, b):
            m = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
            for i in range(len(a) + 1):
                m[i][0] = i
            for j in range(len(b) + 1):
                m[0][j] = j
            for i in range(1, len(a) + 1):
                for j in range(1, len(b) + 1):
                    m[i][j] = min(
                        m[i - 1][j] + 1,
                        m[i][j - 1] + 1,
                        m[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                    )
            return m[len(a)][len(b)]

        expected = {
            tuple(sorted(p))
            for p in itertools.combinations(words, 2)
            if lev(*p) <= 1
        }
        df = spark.createDataFrame(pd.DataFrame({"w": words}))
        got = {
            (r["w1"], r["w2"])
            for r in edit_distance_join(df).collect()
        }
        assert got == expected
        assert ("spark", "spork") in got  # substitution
        assert ("spark", "sprk") in got  # deletion
        assert ("spark", "sparks") in got  # insertion
        assert ("abcd", "dcba") not in got


class TestCacheLifecycle:
    def test_cascade_cache_false_leaves_no_persistent_rdds(self, spark):
        """Long-lived-session contract: with cache=False the cascade (and
        the LSH pass inside it) must leave NOTHING pinned in executor
        storage once the query completes.

        Asserted as a DELTA, not a global zero: getPersistentRDDs() counts
        session-global state, and earlier tests' localCheckpoint RDDs
        (connected components, PageRank) are released asynchronously by
        the ContextCleaner when their Python refs are GC'd — a global
        zero is timing-dependent under load. The product contract is only
        that THIS call pins nothing new."""
        import gc
        import time

        spark.catalog.clearCache()  # isolate from other tests' caches
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        docs = load_table(spark, "documents", SF_SMALL)
        out = dedup_cascade(docs, cache=False)
        n = out.count()
        assert n > 0
        # bounded retry: the async ContextCleaner may still be releasing
        # UNRELATED checkpoint RDDs, shrinking the count below `before`;
        # the contract violated only if the count ever settles ABOVE it
        for _ in range(10):
            gc.collect()
            if jsc.getPersistentRDDs().size() <= before:
                break
            time.sleep(0.5)
        assert jsc.getPersistentRDDs().size() <= before

    def test_cascade_cached_and_uncached_agree(self, spark):
        docs = load_table(spark, "documents", SF_SMALL)
        a = sorted(r.doc_id for r in dedup_cascade(docs, cache=False).collect())
        b = sorted(r.doc_id for r in dedup_cascade(docs, cache=True).collect())
        assert a == b
        spark.catalog.clearCache()  # don't leak this test's caches onward


class TestPackingAndSampling:
    """Training-data assembly ops (pipeline/packing.py)."""

    def _docs(self, spark, n=40):
        import pandas as pd

        rows = [
            (i, " ".join(["w"] * (i % 7 + 1)), ["en", "de", "fr"][i % 3])
            for i in range(n)
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
        )

    def test_pack_offsets_are_contiguous_per_shard(self, spark):
        from cassandra_pmem_spark.pipeline.packing import pack_sequences

        out = pack_sequences(self._docs(spark), capacity=10, n_shards=3).toPandas()
        for _, g in out.sort_values("doc_id").groupby("shard"):
            # exclusive running sum: each start = previous start + tokens
            starts = g.start_offset.tolist()
            toks = g.n_tokens.tolist()
            assert starts[0] == 0
            for k in range(1, len(starts)):
                assert starts[k] == starts[k - 1] + toks[k - 1]
            # bin id is the integer division; split flag marks straddlers
            for s, t, b, sp in zip(starts, toks, g.bin_id, g.is_split):
                assert b == s // 10
                assert sp == (s // 10 != (s + max(t - 1, 0)) // 10)

    def test_pack_single_shuffle(self, spark):
        import re

        from cassandra_pmem_spark.pipeline.packing import pack_sequences

        plan = (
            pack_sequences(self._docs(spark), capacity=10, n_shards=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"Exchange", plan)) == 1  # the shard window only

    def test_stratified_sample_deterministic_and_thresholded(self, spark):
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py
        from cassandra_pmem_spark.pipeline.packing import stratified_sample

        docs = self._docs(spark, 60)
        rates = {"en": 0.3, "de": 0.9}
        a = stratified_sample(docs, rates, default_rate=1.0).toPandas()
        b = stratified_sample(docs.repartition(7), rates, default_rate=1.0).toPandas()
        # reproducible at any parallelism
        assert sorted(a.doc_id) == sorted(b.doc_id)
        # the rule is exactly the murmur3 threshold
        for _, r in a.iterrows():
            bucket = murmur3_token_py(int(r.doc_id)) % 10_000
            rate = rates.get(r.lang, 1.0)
            assert bucket == r.sample_bucket
            assert bucket < rate * 10_000
        # 'fr' (default 1.0) keeps everything
        assert (a.lang == "fr").sum() == 20

    def test_stratified_sample_single_udf_eval(self, spark):
        import re

        from cassandra_pmem_spark.pipeline.packing import stratified_sample

        plan = (
            stratified_sample(self._docs(spark), {"en": 0.5})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the non-determinism pin keeps Catalyst from duplicating the
        # Arrow kernel into the pushed-down filter
        assert len(re.findall(r"ArrowEvalPython", plan)) == 1


class TestWarcAndHtml:
    """Crawl-corpus ingestion: WARC container (sources/warc.py) and
    HTML→text extraction (pipeline/text.html_to_text)."""

    def test_warc_roundtrip_plain_and_gzip(self):
        from cassandra_pmem_spark.sources.warc import build_warc, is_warc, parse_warc

        recs = [
            {"type": "response", "uri": "http://a/1", "payload": b"hello \x00\xff world"},
            {"type": "conversion", "uri": "http://a/2", "payload": b""},
            {"type": "conversion", "uri": "", "payload": b"x" * 70000},
        ]
        for gz in (False, True):
            blob = build_warc(recs, per_record_gzip=gz)
            assert is_warc(blob)
            out = parse_warc(blob)
            assert [r["payload"] for r in out] == [r["payload"] for r in recs]
            assert [r["uri"] for r in out] == ["http://a/1", "http://a/2", ""]
            assert out[0]["type"] == "response"

    def test_warc_gzip_members_split_per_record(self):
        from cassandra_pmem_spark.sources.warc import build_warc

        recs = [{"type": "conversion", "uri": "u", "payload": b"p%d" % i} for i in range(5)]
        blob = build_warc(recs, per_record_gzip=True)
        # five independent gzip members — the crawl layout readers rely on
        assert blob.count(b"\x1f\x8b\x08") == 5

    def test_warc_truncated_payload_raises(self):
        from cassandra_pmem_spark.sources.warc import build_warc, parse_warc

        blob = build_warc([{"uri": "u", "payload": b"abcdef"}], per_record_gzip=False)
        with pytest.raises(ValueError, match="truncated"):
            parse_warc(blob[:-10])

    def test_html_to_text_semantics(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import html_to_text

        cases = pd.DataFrame(
            {
                "i": [1, 2, 3, 4],
                "h": [
                    "<p>plain  <b>bold</b>\ttext</p>",
                    '<script>if (a < b) { x("</div>"); }</script>after',
                    "<style>p{}</style>A &amp;lt; B &#39;q&#39; &nbsp;end",
                    "no markup at all",
                ],
            }
        )
        df = spark.createDataFrame(cases)
        out = dict(
            df.select("i", html_to_text("h").alias("t")).toPandas().values.tolist()
        )
        assert out[1] == "plain bold text"
        assert out[2] == "after"  # script content (with stray tags) dropped
        # single-pass entity decode: &amp;lt; becomes the LITERAL text &lt;
        assert out[3] == "A &lt; B 'q' end"
        assert out[4] == "no markup at all"

    def test_warc_ingest_stage(self, spark):
        import hashlib

        import pandas as pd

        from cassandra_pmem_spark.sources.warc import build_warc, warc_ingest_stage

        blob = build_warc(
            [
                {"type": "conversion", "uri": "http://x/0", "payload": b"abc"},
                {"type": "response", "uri": "http://x/1", "payload": b"defg"},
            ]
        )
        df = spark.createDataFrame(pd.DataFrame({"item_id": [7], "data": [blob]}))
        rows = warc_ingest_stage(df).toPandas().sort_values("rec_idx")
        assert rows.warc_type.tolist() == ["conversion", "response"]
        assert rows.content_length.tolist() == [3, 4]
        assert rows.payload_md5.tolist() == [
            hashlib.md5(b"abc").hexdigest(),
            hashlib.md5(b"defg").hexdigest(),
        ]


class TestRepetitionSignals:
    """Gopher-style duplicate-mass statistics (pipeline/text.py)."""

    def test_counts_exact(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import repetition_signals

        docs = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the cat the cat the dog",
                    "a b c d",
                    "  x   X\tx  ",  # case-fold + whitespace runs
                ],
            }
        )
        out = (
            repetition_signals(spark.createDataFrame(docs))
            .toPandas()
            .set_index("doc_id")
        )
        # doc 1: 6 words, 3 distinct; "the"×3; bigram "the cat"×2
        assert out.loc[1].tolist() == [6, 3, 3, 2]
        # doc 2: all unique; every bigram unique
        assert out.loc[2].tolist() == [4, 4, 1, 1]
        # doc 3: "x"×3 after lowering; bigram "x x"×2
        assert out.loc[3].tolist() == [3, 1, 3, 2]

    def test_empty_text(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import repetition_signals

        docs = pd.DataFrame({"doc_id": [1], "text": [""]})
        row = repetition_signals(spark.createDataFrame(docs)).toPandas().iloc[0]
        assert row.tolist() == [1, 0, 0, 0, 0]


class TestHllSketch:
    """Deterministic cross-engine HyperLogLog (pipeline/sketch.py)."""

    def test_estimate_accuracy_and_determinism(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import hll_estimate, hll_registers

        for n in (100, 5000):
            df = spark.createDataFrame(pd.DataFrame({"k": range(n)}))
            regs = dict(
                hll_registers(df, "k").toPandas().itertuples(index=False, name=None)
            )
            est = hll_estimate(regs)
            assert abs(est - n) / n < 0.15, (n, est)  # p=8 ⇒ ~6.5% std error
            # reproducible at any parallelism
            regs2 = dict(
                hll_registers(df.repartition(13), "k")
                .toPandas()
                .itertuples(index=False, name=None)
            )
            assert regs == regs2

    def test_merge_equals_union_sketch(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import hll_merge, hll_registers

        a = spark.createDataFrame(pd.DataFrame({"k": range(0, 800)}))
        b = spark.createDataFrame(pd.DataFrame({"k": range(500, 1500)}))
        u = spark.createDataFrame(pd.DataFrame({"k": range(0, 1500)}))
        merged = dict(
            hll_merge(hll_registers(a, "k"), hll_registers(b, "k"))
            .toPandas()
            .itertuples(index=False, name=None)
        )
        direct = dict(
            hll_registers(u, "k").toPandas().itertuples(index=False, name=None)
        )
        assert merged == direct  # distributive: shard-and-merge is lossless

    def test_duplicates_do_not_move_estimate(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import hll_registers

        once = spark.createDataFrame(pd.DataFrame({"k": range(300)}))
        thrice = spark.createDataFrame(pd.DataFrame({"k": list(range(300)) * 3}))
        r1 = dict(hll_registers(once, "k").toPandas().itertuples(index=False, name=None))
        r3 = dict(hll_registers(thrice, "k").toPandas().itertuples(index=False, name=None))
        assert r1 == r3


class TestBm25:
    """BM25 term scoring (pipeline/text.bm25_term_scores)."""

    def test_hand_computed_scores(self, spark):
        import math

        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import bm25_term_scores

        docs = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["cat dog cat", "dog dog dog dog", "bird"],
            }
        )
        out = (
            bm25_term_scores(spark.createDataFrame(docs), ["cat", "dog"])
            .toPandas()
            .set_index(["doc_id", "term"])
        )
        n, sum_dl = 3, 8
        k1, b = 1.2, 0.75

        def bm25(tf, df, dl):
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            return round(
                idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / (sum_dl / n))),
                6,
            )

        r = out.loc[(1, "cat")]
        assert (r.tf, r.df, r.dl) == (2, 1, 3)
        assert abs(r.bm25 - bm25(2, 1, 3)) < 1e-9
        r = out.loc[(2, "dog")]
        assert (r.tf, r.df, r.dl) == (4, 2, 4)
        assert abs(r.bm25 - bm25(4, 2, 4)) < 1e-9
        assert out.loc[(3, "cat")].tf == 0 and out.loc[(3, "cat")].bm25 == 0.0

    def test_plan_is_broadcast_only(self, spark):
        import re

        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import bm25_term_scores

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["a b"]})
        )
        plan = (
            bm25_term_scores(docs, ["a"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the only exchanges carry the 1-row corpus stats (agg + broadcast)
        assert len(re.findall(r"BroadcastExchange", plan)) == 1
        assert "SortMergeJoin" not in plan


class TestBloomFilter:
    """Deterministic cross-engine Bloom filter (pipeline/sketch.py) —
    the runtime-filter analog of the reference's per-SSTable filters."""

    def test_no_false_negatives_and_bounded_fpr(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import (
            bloom_build,
            bloom_might_contain,
        )

        keys = list(range(2000))
        df = spark.createDataFrame(pd.DataFrame({"k": keys}))
        words = dict(
            bloom_build(df, "k", m_bits=32768, k=4)
            .toPandas()
            .itertuples(index=False, name=None)
        )
        assert all(bloom_might_contain(words, k, 32768) for k in keys)
        absent = range(10**7, 10**7 + 3000)
        fpr = sum(bloom_might_contain(words, x, 32768) for x in absent) / 3000
        assert fpr < 0.03  # ~0.9% theoretical at 16.4 bits/key

    def test_parallelism_independent(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import bloom_build

        df = spark.createDataFrame(pd.DataFrame({"k": range(500)}))
        a = dict(bloom_build(df, "k").toPandas().itertuples(index=False, name=None))
        b = dict(
            bloom_build(df.repartition(11), "k")
            .toPandas()
            .itertuples(index=False, name=None)
        )
        assert a == b

    def test_runtime_filter_prunes_join(self, spark):
        """The intended use: build over the dim keys, prune fact rows
        before the shuffle — every surviving row must truly join OR be
        one of the bounded false positives."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import (
            bloom_build,
            bloom_might_contain,
        )

        dim_keys = set(range(0, 1000, 7))
        dim = spark.createDataFrame(pd.DataFrame({"k": sorted(dim_keys)}))
        words = dict(
            bloom_build(dim, "k", m_bits=8192)
            .toPandas()
            .itertuples(index=False, name=None)
        )
        fact_keys = list(range(1000))
        kept = [k for k in fact_keys if bloom_might_contain(words, k, 8192)]
        assert dim_keys <= set(kept)  # pruning is sound
        assert len(kept) < len(fact_keys) * 0.5  # and actually prunes


class TestRuntimeFilteredJoin:
    """Bloom-pruned join (pipeline/sketch.runtime_filtered_join)."""

    def test_equivalent_to_plain_join_and_prunes(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import runtime_filtered_join

        fact = spark.createDataFrame(
            pd.DataFrame({"fk": list(range(1000)), "v": list(range(1000))})
        )
        dim = spark.createDataFrame(
            pd.DataFrame({"dk": list(range(0, 1000, 11)), "name": ["d"] * 91})
        )
        j = runtime_filtered_join(fact, dim, "fk", "dk")
        got = j.select("fk", "v", "name").toPandas().sort_values("fk").reset_index(drop=True)
        plain = (
            fact.join(dim, fact.fk == dim.dk)
            .select("fk", "v", "name")
            .toPandas()
            .sort_values("fk")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, plain)

    def test_single_hash_eval_and_filter_before_join(self, spark):
        import re

        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import runtime_filtered_join

        fact = spark.createDataFrame(pd.DataFrame({"fk": range(200)}))
        dim = spark.createDataFrame(pd.DataFrame({"dk": range(0, 200, 13)}))
        plan = (
            runtime_filtered_join(fact, dim, "fk", "dk")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"ArrowEvalPython", plan)) == 1
        # the bitwise membership filter sits on the fact side BELOW the
        # join operator (deeper in the tree = later in the plan text)
        join_at = min(
            plan.index(s) for s in ("SortMergeJoin", "BroadcastHashJoin") if s in plan
        )
        filters = [m.start() for m in re.finditer(r"Filter", plan)]
        assert any(f > join_at for f in filters), "no pre-join membership filter"


class TestPiiRedaction:
    def test_counts_and_redaction(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.pii import pii_counts, redact_pii

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "text": [
                        "mail a.b+c@x-y.co and d@e.io now",
                        "ssn 123-45-6789 then phone 555-123-4567",
                        "card 4111 1111 1111 1234 ip 192.168.0.1",
                        "call (555) 012-3456 or (555)987-6543",
                        "nothing here",
                    ]
                }
            )
        )
        got = pii_counts(df, "text").select(
            "n_email", "n_ssn", "n_card", "n_ipv4", "n_phone"
        ).collect()
        assert [tuple(r) for r in got] == [
            (2, 0, 0, 0, 0),
            (0, 1, 0, 0, 1),
            (0, 0, 1, 1, 0),
            (0, 0, 0, 0, 2),
            (0, 0, 0, 0, 0),
        ]
        red = [
            r[0]
            for r in df.select(redact_pii("text").alias("r")).collect()
        ]
        assert red[0] == "mail <EMAIL> and <EMAIL> now"
        # SSN claimed before the looser phone pattern can eat its digits
        assert red[1] == "ssn <SSN> then phone <PHONE>"
        assert red[2] == "card <CARD> ip <IPV4>"
        assert red[3] == "call <PHONE> or <PHONE>"
        assert red[4] == "nothing here"

    def test_patterns_re2_compatible(self):
        """Every pattern must run unchanged on DuckDB's RE2 — that is
        the cross-engine contract of the oracle."""
        import duckdb

        from cassandra_pmem_spark.pipeline.pii import PII_PATTERNS

        con = duckdb.connect()
        for kind, pat in PII_PATTERNS:
            n = con.execute(
                "SELECT len(regexp_extract_all("
                "'a@b.co 1.2.3.4 123-45-6789 555-123-4567 "
                "4111 1111 1111 1111', ?))",
                [pat],
            ).fetchone()[0]
            assert n >= 1, f"{kind} pattern found nothing under RE2"


class TestUrlNormalize:
    def test_rules(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.urls import (
            normalize_url,
            registered_domain,
            url_host,
        )

        cases = {
            # scheme+host lowercase, default port stripped, empty path
            "HTTPS://WWW.Ex.COM:443#frag": "https://www.ex.com/",
            "Http://A.B:80/x": "http://a.b/x",
            # non-default port kept; https does NOT strip :80
            "http://a.b:8080/x": "http://a.b:8080/x",
            "https://a.b:80/": "https://a.b:80/",
            # query params sorted, fragment dropped, path case kept
            "http://h.io/P?b=2&a=1#s": "http://h.io/P?a=1&b=2",
            # malformed: passes through trimmed
            "  not a url  ": "not a url",
        }
        df = spark.createDataFrame(pd.DataFrame({"url": list(cases)}))
        got = dict(
            df.select("url", normalize_url("url").alias("n")).collect()
        )
        assert got == cases
        hosts = dict(
            df.select("url", url_host("url").alias("h")).collect()
        )
        assert hosts["HTTPS://WWW.Ex.COM:443#frag"] == "www.ex.com"
        dom = dict(
            df.select(
                "url", registered_domain(url_host("url")).alias("d")
            ).collect()
        )
        assert dom["HTTPS://WWW.Ex.COM:443#frag"] == "ex.com"

    def test_two_level_tld(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.urls import registered_domain

        df = spark.createDataFrame(
            pd.DataFrame({"h": ["www.shop.example.co.uk", "a.b.co.jp", "x.org"]})
        )
        got = [r[0] for r in df.select(registered_domain(F.col("h"))).collect()]
        assert got == ["example.co.uk", "b.co.jp", "x.org"]


class TestConnectedComponents:
    def test_chain_is_one_component(self, spark):
        """a-b and b-c edges with NO a-c edge: transitive closure must
        still produce a single component — the case pairwise keep-min
        dedup gets wrong."""
        from cassandra_pmem_spark.pipeline.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            ["a", "b"],
        )
        verts = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 10, 11, 20, 21, 22, 99)], ["doc_id"]
        )
        got = {
            r["doc_id"]: r["comp"]
            for r in connected_components(edges, verts).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20, 99: 99}

    def test_edgeless_graph_is_identity(self, spark):
        from cassandra_pmem_spark.pipeline.dedup import connected_components

        edges = spark.createDataFrame([], "a BIGINT, b BIGINT")
        verts = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
        got = {
            r["doc_id"]: r["comp"]
            for r in connected_components(edges, verts).collect()
        }
        assert got == {i: i for i in range(5)}

    def test_string_ids_take_the_join_detector(self, spark):
        """ADVICE r13 (medium): string doc ids cast to NULL in the
        label-sum convergence detector, so both sums were None and the
        loop silently stopped after one round, under-propagating chains.
        The integral gate must route string ids to the changed-count
        join detector and still close the transitive chain."""
        from cassandra_pmem_spark.pipeline.dedup import connected_components

        # a chain needing THREE propagation rounds: d-c, c-b, b-a —
        # one round only pulls each label one hop
        edges = spark.createDataFrame(
            [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")], ["a", "b"]
        )
        verts = spark.createDataFrame(
            [(v,) for v in "abcdxyz"], ["doc_id"]
        )
        got = {
            r["doc_id"]: r["comp"]
            for r in connected_components(edges, verts).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                       "x": "x", "y": "x", "z": "z"}

    @pytest.mark.parametrize("ids", [("a", "b", "c"), (0, 1, 2)])
    def test_rounds_that_only_add_ids_keep_going(self, spark, ids):
        """Vertices {x} with edges x-y, y-z: round 1 only ADDS y — no
        existing label changes, and with id 0 the label sum stays 0 — so
        the detector must compare row counts too. String and long ids
        return the same 3 rows."""
        from cassandra_pmem_spark.pipeline.dedup import connected_components

        x, y, z = ids
        t = "string" if isinstance(x, str) else "long"
        edges = spark.createDataFrame([(x, y), (y, z)], f"a {t}, b {t}")
        verts = spark.createDataFrame([(x,)], f"doc_id {t}")
        got = {
            r["doc_id"]: r["comp"]
            for r in connected_components(edges, verts).collect()
        }
        assert got == {x: x, y: x, z: x}

    @pytest.mark.parametrize(
        "engine, kwargs",
        [("connected_components", {}),
         ("connected_components_star", {"max_iter": 2})],
    )
    def test_running_out_of_rounds_raises(self, spark, engine, kwargs):
        """A 40-node chain needs 40 label-propagation rounds (default
        max_iter=15) and more than 2 star rounds. Stopping early returned
        partial labels (25 and 36 components instead of 1), so both
        engines must raise instead."""
        from cassandra_pmem_spark.pipeline import dedup

        n = 40
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a long, b long"
        )
        verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        with pytest.raises(dedup.NotConverged):
            getattr(dedup, engine)(edges, verts, **kwargs)

    def test_near_dup_components_clusters_generations(self, spark):
        """base, base+' alpha beta', base+' gamma delta' must share one
        cluster labelled by the smallest id."""
        from cassandra_pmem_spark.pipeline.dedup import near_dup_components

        base = load_table(spark, "documents", SF_SMALL).filter(
            F.col("doc_id") < 30
        ).select("doc_id", "text")
        gen1 = base.filter(F.col("doc_id") < 4).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" alpha beta")).alias("text"),
        )
        got = {
            r["doc_id"]: r["comp"]
            for r in near_dup_components(base.union(gen1)).collect()
        }
        for i in range(4):
            if i in got and i + 100000 in got:
                assert got[i + 100000] == got[i]

    @pytest.mark.parametrize("algorithm", ["label", "star"])
    def test_repeated_calls_hold_no_more_persisted_rdds(self, spark, algorithm):
        """Whatever one near_dup_components call leaves persisted, the
        ContextCleaner releases once a later call replaces it: the count
        after a third call is no larger than after the first. (The first
        read may still include frames an earlier test left behind.)"""
        import gc

        from cassandra_pmem_spark.pipeline.dedup import near_dup_components
        from tests.conftest import persisted_rdds

        docs = load_table(spark, "documents", SF_SMALL).filter(
            F.col("doc_id") < 30
        ).select("doc_id", "text")
        counts = []
        for _ in range(3):
            near_dup_components(docs, algorithm=algorithm).collect()
            # drop the Python handles first, so the JVM collection that
            # wakes the ContextCleaner sees the frames unreachable
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            counts.append(persisted_rdds(spark))
        assert counts[2] <= counts[0], counts


class TestDecontamination:
    def test_planted_overlap_is_flagged(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.decontaminate import contamination

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [
                        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                        "one two three four five six seven eight nine ten",
                        "totally unrelated words that share nothing with the eval set",
                    ],
                }
            )
        )
        bench = spark.createDataFrame(
            pd.DataFrame(
                {"text": ["alpha beta gamma delta epsilon zeta eta theta"]}
            )
        )
        got = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in contamination(docs, bench).collect()
        }
        # doc 1 contains the full 8-gram; docs 2/3 share no 8-gram
        assert got[1] == (1, True)
        assert got[2] == (0, False)
        assert got[3] == (0, False)

    def test_probe_is_broadcast(self, spark):
        """The benchmark gram set must reach the corpus side as a
        broadcast — no shuffle of the 100 TB side for the probe."""
        from cassandra_pmem_spark.pipeline.decontaminate import contamination

        docs = load_table(spark, "documents", SF_SMALL).select("doc_id", "text")
        bench = docs.limit(5).select("text")
        plan = (
            contamination(docs, bench)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestNgramLmScores:
    def test_repetitive_text_scores_lower_perplexity(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import ngram_lm_scores

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": [
                        "ababababababababababababababab",
                        "the quick brown fox jumps over lazy dogs quietly",
                    ],
                }
            )
        )
        got = {r["doc_id"]: r["ppl"] for r in ngram_lm_scores(df).collect()}
        # 'ab'-cycle trigrams are near-deterministic under the corpus
        # model; varied text is not
        assert got[1] < got[2]
        assert got[1] >= 1.0  # perplexity floor

    def test_deterministic_across_parallelism(self, spark):
        """Integer micro-log aggregation: repartitioning must not change
        a single output value (the float-order hazard this design
        removes)."""
        from cassandra_pmem_spark.pipeline.text import ngram_lm_scores

        docs = load_table(spark, "documents", SF_SMALL).select("doc_id", "text")
        a = {
            r["doc_id"]: (r["sum_micro_log"], r["ppl"])
            for r in ngram_lm_scores(docs.repartition(1)).collect()
        }
        b = {
            r["doc_id"]: (r["sum_micro_log"], r["ppl"])
            for r in ngram_lm_scores(docs.repartition(17)).collect()
        }
        assert a == b

    def test_model_tables_broadcast(self, spark):
        from cassandra_pmem_spark.pipeline.text import ngram_lm_scores

        docs = load_table(spark, "documents", SF_SMALL).select("doc_id", "text")
        plan = (
            ngram_lm_scores(docs)._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("BroadcastHashJoin") >= 2


class TestSq8Quantization:
    def test_recall_vs_bruteforce(self, spark):
        """Int8 quantization of unit-ish embeddings must preserve the
        cosine ranking almost perfectly (64-dim, scale on max|x|)."""
        from cassandra_pmem_spark.pipeline.quantization import sq8_topk

        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        quant = {
            (r["query_id"], r["neighbor_id"])
            for r in sq8_topk(emb, queries, k=5).collect()
        }
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.9, f"SQ8 recall {recall:.2f}"

    def test_codes_bounded_and_integer(self, spark):
        from cassandra_pmem_spark.pipeline.quantization import (
            corpus_scale,
            sq8_codes,
        )

        emb = load_table(spark, "embeddings", SF_SMALL)
        codes = sq8_codes(emb, corpus_scale(emb))
        mx = codes.select(
            F.max(F.array_max("codes")).alias("hi"),
            F.min(F.array_min("codes")).alias("lo"),
        ).collect()[0]
        assert -127 <= mx["lo"] and mx["hi"] <= 127
        # at least one component must hit the rail (it defined the scale)
        assert mx["hi"] == 127 or mx["lo"] == -127

    def test_self_match_ranks_first(self, spark):
        from cassandra_pmem_spark.pipeline.quantization import sq8_topk

        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in sq8_topk(emb, queries, k=1).collect()
        }
        # integer dot of a vector with itself maximizes among near-unit
        # vectors — the query must retrieve itself
        assert all(q == n for q, n in top1.items())


class TestPqAdc:
    def test_anchors_self_encode(self, spark):
        """Every anchor vector must PQ-encode to its own centroid index
        in every subspace (distance 0 is the unique minimum)."""
        from cassandra_pmem_spark.pipeline.quantization import (
            corpus_scale,
            pq_int_codes,
            sq8_codes,
        )

        emb = load_table(spark, "embeddings", SF_SMALL)
        ints = sq8_codes(emb, corpus_scale(emb))
        anchors = [
            r["codes"]
            for r in ints.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
        ]
        got = {
            r["vec_id"]: r["pq"]
            for r in pq_int_codes(
                ints.filter(F.col("vec_id") < 16), anchors
            ).collect()
        }
        for vid in range(16):
            assert got[vid] == [vid] * 8

    def test_recall_vs_bruteforce(self, spark):
        """PQ with a 16-centroid anchored codebook is coarse; require
        the self-match at rank 1 and monotone score ordering instead of
        tight recall."""
        from cassandra_pmem_spark.pipeline.quantization import pq_adc_topk

        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        rows = pq_adc_topk(emb, queries, k=5).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            scores = [r["score"] for r in sorted(rs, key=lambda r: r["rank"])]
            assert scores == sorted(scores, reverse=True)
            assert len(rs) == 5


class TestCountMinSketch:
    def test_one_sided_error_and_accuracy(self, spark):
        """est(key) >= true(key) for EVERY key (Count-Min never
        undercounts), and overshoot stays within the e*N/width bound
        for most keys."""
        from cassandra_pmem_spark.pipeline.sketch import (
            countmin_build,
            countmin_estimate,
        )

        orders = load_table(spark, "orders", SF_SMALL)
        cells = {
            (r["row"], r["pos"]): r["cnt"]
            for r in countmin_build(orders, "o_custkey").collect()
        }
        true = {
            r["o_custkey"]: r["n"]
            for r in orders.groupBy("o_custkey").agg(F.count("*").alias("n")).collect()
        }
        n_total = sum(true.values())
        bound = 2.72 * n_total / 512
        overshoots = []
        for key, t in true.items():
            est = countmin_estimate(cells, key)
            assert est >= t, f"undercount for {key}: {est} < {t}"
            overshoots.append(est - t)
        within = sum(1 for o in overshoots if o <= bound) / len(overshoots)
        assert within >= 0.95, f"only {within:.0%} within the CM bound"

    def test_shard_merge_is_cellwise_add(self, spark):
        """Sketching shards independently then adding cells must equal
        sketching the union — the cross-engine merge contract."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.sketch import countmin_build

        orders = load_table(spark, "orders", SF_SMALL)
        a = orders.filter(F.col("o_orderkey") % 2 == 0)
        b = orders.filter(F.col("o_orderkey") % 2 == 1)

        def cells(df):
            return {
                (r["row"], r["pos"]): r["cnt"]
                for r in countmin_build(df, "o_custkey").collect()
            }

        ca, cb, cu = cells(a), cells(b), cells(orders)
        merged = {}
        for d in (ca, cb):
            for k, v in d.items():
                merged[k] = merged.get(k, 0) + v
        assert merged == cu


class TestHistogramSketch:
    def test_quantiles_within_one_bin_width(self, spark):
        from cassandra_pmem_spark.pipeline.sketch import (
            histogram_bins,
            histogram_quantile,
        )

        events = load_table(spark, "events", SF_SMALL)
        rows = histogram_bins(events, "value", bins=64).collect()
        lo, hi = rows[0]["lo"], rows[0]["hi"]
        cells = [(r["bin"], r["cnt"]) for r in rows]
        width = (hi - lo) / 64
        exact = events.selectExpr(
            "percentile(value, 0.5) AS p50", "percentile(value, 0.95) AS p95"
        ).collect()[0]
        for q, true in (("p50", exact["p50"]), ("p95", exact["p95"])):
            est = histogram_quantile(cells, lo, hi, float(q[1:]) / 100, 64)
            assert abs(est - true) <= width, (q, est, true, width)

    def test_merge_equals_union(self, spark):
        """Cell-wise add of shard histograms (shared bounds) must equal
        the union's histogram."""
        from cassandra_pmem_spark.pipeline.sketch import histogram_bins

        events = load_table(spark, "events", SF_SMALL)
        lo_hi = events.agg(
            F.min("value").alias("lo"), F.max("value").alias("hi")
        ).collect()[0]

        def cells(df):
            # pin shard bounds to the global ones by unioning two
            # sentinel-free aggregates: here simply filter AFTER the
            # bounds are global — shards share [lo, hi] by construction
            return {
                r["bin"]: r["cnt"]
                for r in histogram_bins(df, "value", bins=64).collect()
            }

        # shards that both contain the global min and max rows keep the
        # same bounds, so cell-wise add is exact
        a = events.filter((F.col("event_id") % 2 == 0)
                          | F.col("value").isin(lo_hi["lo"], lo_hi["hi"]))
        b = events.filter((F.col("event_id") % 2 == 1)
                          | F.col("value").isin(lo_hi["lo"], lo_hi["hi"]))
        ca, cb, cu = cells(a), cells(b), cells(events)
        dup = cells(events.filter(F.col("value").isin(lo_hi["lo"], lo_hi["hi"])))
        merged = {}
        for d in (ca, cb):
            for k, v in d.items():
                merged[k] = merged.get(k, 0) + v
        # subtract the double-counted sentinel rows
        for k, v in dup.items():
            merged[k] -= v
        assert merged == {k: v for k, v in cu.items() if v}


class TestLineDedup:
    def test_boilerplate_dropped_order_kept(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.dedup import line_dedup

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [
                        "COMMON\nunique one\nmid shared\ntail one",
                        "COMMON\nunique two\nmid shared\ntail two",
                        "COMMON\nunique three\ntail three",
                    ],
                }
            )
        )
        got = {
            r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_dropped"])
            for r in line_dedup(df).collect()
        }
        assert got[1] == ("unique one\ntail one", 4, 2)
        assert got[2] == ("unique two\ntail two", 4, 2)
        assert got[3] == ("unique three\ntail three", 3, 1)

    def test_within_doc_repeat_survives(self, spark):
        """A line repeated INSIDE one doc but nowhere else counts one
        distinct doc — it must survive (count is per-document)."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.dedup import line_dedup

        df = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [1, 2], "text": ["echo\necho\nbody", "other\nlines"]}
            )
        )
        got = {r["doc_id"]: r["clean_text"] for r in line_dedup(df).collect()}
        assert got[1] == "echo\necho\nbody"


class TestC4Filters:
    def test_rule_matrix(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import c4_filters

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3, 4],
                    "text": [
                        "a good first sentence.\nand a good second one!",
                        "lorem ipsum dolor sit amet.\nanother full sentence here.",
                        "var x = {a: 1};\ntwo fine sentences stand here.\nplus one more again.",
                        "only a fragment without punctuation\nshort one.",
                    ],
                }
            )
        )
        got = {
            r["doc_id"]: (r["n_kept_lines"], r["kept"])
            for r in c4_filters(df).collect()
        }
        assert got[1] == (2, True)
        assert got[2][1] is False  # lorem ipsum page
        assert got[3][1] is False  # curly braces page
        assert got[4] == (0, False)  # nothing survives the line rules

    def test_javascript_line_dropped(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import c4_filters

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1],
                    "text": [
                        "please enable JavaScript to view this site.\n"
                        "a real sentence lives here.\n"
                        "and another proper one follows!"
                    ],
                }
            )
        )
        r = c4_filters(df).collect()[0]
        assert r["n_kept_lines"] == 2
        assert "JavaScript" not in r["clean_text"]
        assert r["kept"] is True


class TestEpochShuffleAndChunking:
    def test_epoch_shuffle_deterministic_and_permuting(self, spark):
        from cassandra_pmem_spark.pipeline.packing import epoch_shuffle

        docs = load_table(spark, "documents", SF_SMALL)
        a = {r["doc_id"]: (r["shard"], r["pos"])
             for r in epoch_shuffle(docs.repartition(3), epoch=1).collect()}
        b = {r["doc_id"]: (r["shard"], r["pos"])
             for r in epoch_shuffle(docs.repartition(11), epoch=1).collect()}
        assert a == b  # parallelism-independent
        c = {r["doc_id"]: (r["shard"], r["pos"])
             for r in epoch_shuffle(docs, epoch=2).collect()}
        assert a != c  # a new epoch permutes
        # every (shard, pos) pair is unique and positions are 1..n_shard
        seen = set(a.values())
        assert len(seen) == len(a)
        by_shard = {}
        for s, p in a.values():
            by_shard.setdefault(s, []).append(p)
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1))

    def test_chunking_overlap_and_coverage(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.packing import chunk_documents

        text = " ".join(f"w{i}" for i in range(100))
        df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": [text]}))
        rows = sorted(
            chunk_documents(df, window=40, overlap=10).collect(),
            key=lambda r: r["chunk_idx"],
        )
        # starts every 30 tokens: 0, 30, 60, 90 → lengths 40, 40, 40, 10
        assert [r["n_tokens"] for r in rows] == [40, 40, 40, 10]
        # overlap: chunk k's last 10 tokens = chunk k+1's first 10
        for a, b in zip(rows, rows[1:]):
            assert a["chunk_text"].split()[-10:] == b["chunk_text"].split()[:10]
        # coverage: union of chunks = the document
        assert set(" ".join(r["chunk_text"] for r in rows).split()) == set(
            text.split()
        )


class TestPagerank:
    def test_parallelism_independent_and_mass_bounded(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.graph import pagerank_exact

        verts = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(20))})
        )
        edges = spark.createDataFrame(
            pd.DataFrame(
                {
                    "src": list(range(20)) * 2,
                    "dst": [(i * 3 + 1) % 20 for i in range(20)]
                    + [(i * 7 + 4) % 20 for i in range(20)],
                }
            )
        )
        a = {
            r["doc_id"]: r["rank"]
            for r in pagerank_exact(verts.repartition(2), edges, iters=4).collect()
        }
        b = {
            r["doc_id"]: r["rank"]
            for r in pagerank_exact(verts.repartition(9), edges.repartition(5), iters=4).collect()
        }
        assert a == b  # bit-identical at any parallelism
        total = sum(a.values())
        assert total <= 10**12  # floors only shave mass, never create it
        assert total >= 0.9 * 10**12

    def test_sink_heavy_node_ranks_higher(self, spark):
        """A node every other node links to must out-rank a node with a
        single in-link."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.graph import pagerank_exact

        verts = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1, 2, 3]}))
        edges = spark.createDataFrame(
            pd.DataFrame({"src": [1, 2, 3, 0], "dst": [0, 0, 0, 1]})
        )
        got = {
            r["doc_id"]: r["rank"]
            for r in pagerank_exact(verts, edges, iters=5).collect()
        }
        assert got[0] > got[1] > got[2]
        assert got[2] == got[3]  # symmetric no-inlink nodes tie exactly


class TestSemanticDedup:
    def test_planted_copies_dropped_originals_kept(self, spark):
        import numpy as np

        from cassandra_pmem_spark.pipeline.similarity import semantic_dedup

        emb = load_table(spark, "embeddings", SF_SMALL)
        planted = emb.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
        )
        anchors = np.array(
            [
                r[0]
                for r in emb.filter(F.col("vec_id") < 16)
                .orderBy("vec_id")
                .select(F.col("embedding").cast("array<double>"))
                .collect()
            ]
        )
        got = {
            r["vec_id"]
            for r in semantic_dedup(
                emb.union(planted), anchors, threshold=0.99
            ).collect()
        }
        assert all(i + 100000 not in got for i in range(10))
        assert all(i in got for i in range(10))


class TestStarComponents:
    """large-star/small-star connected components (Kiveris et al.) — the
    O(log n)-round scale path. Ground truth: python union-find."""

    @staticmethod
    def _uf_components(n_vertices, edges):
        parent = list(range(n_vertices))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in range(n_vertices)}

    def test_long_chain_beats_diameter_bound(self, spark):
        # a 120-node path has diameter 119: label propagation would need
        # 119 rounds; the star rounds must close it within 12
        from cassandra_pmem_spark.pipeline.dedup import connected_components_star

        n = 120
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a long, b long"
        )
        verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = {
            r.doc_id: r.comp
            for r in connected_components_star(edges, verts, max_iter=12).collect()
        }
        assert got == {i: 0 for i in range(n)}

    def test_matches_union_find_with_isolated_vertices(self, spark):
        from cassandra_pmem_spark.pipeline.dedup import (
            connected_components,
            connected_components_star,
        )

        n = 60
        # deterministic clumpy graph + deliberately isolated vertices
        pairs = [(i, (i * i) % 37) for i in range(0, 37)] + [
            (40 + i, 40 + ((i + 1) % 5)) for i in range(5)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        want = self._uf_components(n, pairs)
        edges = spark.createDataFrame(pairs, "a long, b long")
        verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        star = {
            r.doc_id: r.comp
            for r in connected_components_star(edges, verts).collect()
        }
        assert star == want
        # and the two algorithms agree with each other
        label = {
            r.doc_id: r.comp
            for r in connected_components(edges, verts, max_iter=40).collect()
        }
        assert label == want


class TestDomainMixture:
    def test_alpha_flattens_toward_tail(self, spark):
        """alpha < 1 must keep a LARGER fraction of small domains than of
        large ones, while the expected total tracks target_total."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.packing import domain_mixture_sample

        rows = (
            [(i, "big") for i in range(3000)]
            + [(3000 + i, "mid") for i in range(600)]
            + [(4000 + i, "tiny") for i in range(80)]
        )
        docs = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "lang"])
        )
        out = domain_mixture_sample(docs, alpha=0.5, target_total=500.0)
        pdf = out.toPandas()
        kept = pdf.groupby("lang").size().to_dict()
        frac = {d: kept.get(d, 0) / n for d, n in
                {"big": 3000, "mid": 600, "tiny": 80}.items()}
        assert frac["tiny"] > frac["mid"] > frac["big"]
        assert 350 < len(pdf) < 650  # ≈ target_total
        # deterministic: a rerun keeps exactly the same ids
        again = domain_mixture_sample(docs, alpha=0.5, target_total=500.0)
        assert set(pdf.doc_id) == {r.doc_id for r in again.collect()}


class TestSubstringDedup:
    def test_first_occurrence_owns_and_tail_survives(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.dedup import substring_dedup

        boiler = "one two three four five six seven eight"  # 8 tokens
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [
                        boiler + " alpha beta",
                        boiler + " gamma delta",  # prefix duplicated
                        "totally unique short text here",  # < k tokens
                    ],
                }
            )
        )
        got = {r.doc_id: r for r in substring_dedup(docs, k=8).collect()}
        # doc 1 (lowest id) owns the boilerplate span and keeps everything
        assert got[1].clean_text == boiler + " alpha beta"
        assert got[1].n_removed == 0
        # doc 2 loses exactly the 8 duplicated tokens, keeps its tail
        assert got[2].clean_text == "gamma delta"
        assert got[2].n_removed == 8
        # short docs have no windows and pass through untouched
        assert got[3].n_removed == 0

    def test_same_doc_repeat_keeps_only_first(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.dedup import substring_dedup

        span = "a b c d e f g h"
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [7], "text": [span + " X " + span]})
        )
        r = substring_dedup(docs, k=8).collect()[0]
        assert r.clean_text == span + " X"
        assert r.n_removed == 8


class TestImageDhash:
    def test_perturbation_stays_near_and_distinct_stays_far(self, spark):
        import numpy as np
        import pandas as pd

        from cassandra_pmem_spark.pipeline.codecs import encode_png
        from cassandra_pmem_spark.pipeline.multimodal import image_dhash_stage

        rng_a = ((np.arange(72).reshape(8, 9) * 31 + 7) ** 2 % 251).astype(np.uint8)
        near = rng_a.copy()
        near[3, 4] = (int(near[3, 4]) + 3) % 251  # one-pixel edit
        far = ((np.arange(72).reshape(8, 9) * 17 + 100) ** 2 % 251).astype(np.uint8)
        media = spark.createDataFrame(
            pd.DataFrame(
                {
                    "item_id": [1, 2, 3],
                    "data": [encode_png(rng_a), encode_png(near), encode_png(far)],
                }
            )
        )
        got = {r.item_id: r.dhash for r in image_dhash_stage(media).collect()}
        ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
        assert ham(got[1], got[2]) <= 2  # one pixel touches ≤2 row-gradient bits
        assert ham(got[1], got[3]) > 10  # unrelated images are far apart


class TestVideoFingerprint:
    def test_single_frame_edit_absorbed_by_majority(self, spark):
        import numpy as np
        import pandas as pd

        from cassandra_pmem_spark.pipeline.gif import encode_gif, grayscale_palette
        from cassandra_pmem_spark.pipeline.multimodal import video_fingerprint_stage

        pal = grayscale_palette()
        # a static scene: every bit is 0-or-5 across frames, so one
        # corrupted frame can never reach the 3-vote majority
        img = (((np.arange(72).reshape(8, 9) * 13) ** 2) % 251).astype(np.uint8)
        base_frames = [img.copy() for _ in range(5)]
        glitched = [f.copy() for f in base_frames]
        glitched[2][:, :] = 0  # one frame entirely corrupted
        other = [
            (((np.arange(72).reshape(8, 9) * 17 + f * 31 + 90) ** 2) % 251).astype(
                np.uint8
            )
            for f in range(5)
        ]
        media = spark.createDataFrame(
            pd.DataFrame(
                {
                    "item_id": [1, 2, 3],
                    "data": [
                        encode_gif(base_frames, palette=pal),
                        encode_gif(glitched, palette=pal),
                        encode_gif(other, palette=pal),
                    ],
                }
            )
        )
        got = {r.item_id: r for r in video_fingerprint_stage(media).collect()}
        assert got[1].n_frames == 5
        ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
        # a whole corrupted frame is outvoted 4-1 on every bit
        assert ham(got[1].vfp, got[2].vfp) == 0
        assert ham(got[1].vfp, got[3].vfp) > 10


class TestDsirImportance:
    def test_target_like_docs_outrank_noise(self, spark):
        """DSIR (Xie et al.): documents drawn from the target
        distribution must receive higher importance weights than
        out-of-distribution noise."""
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import dsir_importance_weights

        target_texts = [f"the quick brown fox jumps over dog {i}" for i in range(20)]
        like = [f"quick brown fox and the lazy dog again {i}" for i in range(5)]
        noise = [f"zzz qqq xxx vvv kkk jjj www {i}" for i in range(5)]
        raw = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": range(30),
                    "text": target_texts + like + noise,
                }
            )
        )
        target = raw.filter("doc_id < 20")
        w = {
            r["doc_id"]: r["w_micro"]
            for r in dsir_importance_weights(raw, target).collect()
        }
        like_w = [w[i] for i in range(20, 25)]
        noise_w = [w[i] for i in range(25, 30)]
        assert min(like_w) > max(noise_w), (like_w, noise_w)

    def test_weights_are_deterministic(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.text import dsir_importance_weights

        raw = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(10), "text": [f"alpha beta {i}" for i in range(10)]})
        )
        t = raw.filter("doc_id < 3")
        a = sorted(tuple(r) for r in dsir_importance_weights(raw, t).collect())
        b = sorted(tuple(r) for r in dsir_importance_weights(raw, t).collect())
        assert a == b
