"""Text analysis, dedup suite, similarity search — vs exact oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tile_grid_spark.functions.text import (
    bpe_ish_token_count,
    whitespace_token_count,
    with_lang_id,
    with_quality_features,
    word_shingles,
)
from tile_grid_spark.operators.dedup import (
    dedup_exact,
    embedding_near_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    with_simhash,
)
from tile_grid_spark.operators.similarity import (
    ivf_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
        (3, "completely different text about spark dataframes and shuffle plans"),
        (4, "der schnelle braune fuchs springt und ich sehe die schöne sache"),
        (5, "les chats que nous avons une maison est grande dans les champs"),
        (6, "numbers 123 456 789 000 111 222 333 444 555 666 777 888 999 000"),
        (7, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    ]
    return spark.createDataFrame(base, "doc_id BIGINT, text STRING").cache()


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([("hello world foo",), ("a b",)], "text STRING")
        got = df.select(
            whitespace_token_count("text").alias("ws"),
            bpe_ish_token_count("text").alias("bpe"),
        ).collect()
        assert (got[0].ws, got[1].ws) == (3, 2)
        assert got[0].bpe == 3

    def test_bpe_splits_punct_numbers(self, spark):
        df = spark.createDataFrame([("hello, world! 12345",)], "text STRING")
        got = df.select(bpe_ish_token_count("text").alias("n")).collect()[0].n
        # hello / , / world / ! / 123 / 45
        assert got == 6

    def test_rolling_fingerprints_match_python(self, spark):
        from tile_grid_spark.functions.text import (
            ROLLING_BASE,
            ROLLING_WINDOW,
            with_rolling_fingerprints,
        )

        texts = ["the quick brown fox jumps", "aaaaaaaaaa", "short", ""]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
        )
        got = {
            r.doc_id: r.fps
            for r in with_rolling_fingerprints(df).select("doc_id", "fps").collect()
        }
        w = ROLLING_WINDOW
        for i, t in enumerate(texts):
            want = [
                sum(
                    ord(t[s + j]) * ROLLING_BASE ** (w - 1 - j) for j in range(w)
                )
                for s in range(max(len(t) - w + 1, 0))
            ]
            assert got[i] == want, t

    def test_compression_ratio(self, spark):
        import zlib

        from tile_grid_spark.functions.text import compression_ratio_udf

        texts = ["spam " * 200, "the quick brown fox jumps over the lazy dog", ""]
        df = spark.createDataFrame([(t,) for t in texts], "text STRING")
        got = [r.cr for r in df.select(compression_ratio_udf()("text").alias("cr")).collect()]
        for g, t in zip(got, texts):
            want = (
                1.0
                if not t
                else len(zlib.compress(t.encode(), 6)) / len(t.encode())
            )
            assert abs(g - want) < 1e-12
        assert got[0] < 0.1 < got[1]  # repetition compresses far better

    def test_quality_features(self, docs):
        q = with_quality_features(docs).collect()
        by_id = {r.doc_id: r for r in q}
        assert by_id[7].max_repeat_ratio == 1.0  # all same token
        assert by_id[7].quality_score < by_id[0].quality_score
        assert by_id[6].digit_ratio > 0.5
        assert by_id[6].quality_score < by_id[0].quality_score
        assert by_id[0].stopword_ratio > 0.1

    def test_repetition_features_match_python(self, spark):
        """Gopher repetition signals vs a from-scratch python oracle:
        dup-line fractions and top-bigram coverage, incl. the edge rows
        (no newline, single token, empty-ish, all-duplicate lines)."""
        import re
        from collections import Counter

        from tile_grid_spark.functions.text import with_repetition_features

        texts = [
            "alpha beta\ngamma delta\nalpha beta\nepsilon",  # one dup line
            "same line\nsame line\nsame line",  # all dup
            "no newline here just words and words and words",
            "solo",
            "a b a b a b a b",  # dominant bigram
            "x",
            "line1\n\nline1\n\nother",  # duplicated EMPTY lines too
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
        )
        got = {r.doc_id: r for r in with_repetition_features(df).collect()}
        for i, t in enumerate(texts):
            lines = t.split("\n")
            lc = Counter(lines)
            n_lines = len(lines)
            dup_line = (n_lines - len(lc)) / max(n_lines, 1)
            dup_chars = sum((c - 1) * len(ln) for ln, c in lc.items())
            tot_chars = sum(len(ln) for ln in lines)
            toks = re.split(r"\s+", t.strip().lower())
            bg = Counter(
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            )
            top = max(
                (c * len(k) for k, c in bg.items()
                 if (c, len(k)) == max((c2, len(k2)) for k2, c2 in bg.items())),
                default=0,
            )
            r = got[i]
            assert r.n_lines == n_lines
            assert abs(r.dup_line_frac - round(dup_line, 6)) < 1e-12, i
            assert (
                abs(r.dup_line_char_frac - round(dup_chars / max(tot_chars, 1), 6))
                < 1e-12
            ), i
            assert (
                abs(r.top_bigram_char_frac - round(top / max(len(t), 1), 6)) < 1e-12
            ), i

    def test_repetition_features_zero_shuffle(self, spark):
        from tile_grid_spark.functions.text import with_repetition_features

        df = spark.createDataFrame([(0, "a b\na b")], "doc_id BIGINT, text STRING")
        plan = (
            with_repetition_features(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_quality_filter_empty_stopwords(self, spark):
        """r3 ADVICE: stopwords=() used to crash (None < int). With the
        lit(0) seed, min_stop_hits=0 disables the rule and positive
        thresholds fail every row — both well-defined."""
        from tile_grid_spark.functions.text import with_quality_filter

        df = spark.createDataFrame(
            [(0, "the quick brown fox jumps over a lazy dog " * 5)],
            "doc_id BIGINT, text STRING",
        )
        off = with_quality_filter(df, stopwords=(), min_stop_hits=0).collect()[0]
        assert not off.fail_stop
        on = with_quality_filter(df, stopwords=(), min_stop_hits=2).collect()[0]
        assert on.fail_stop and not on.passes

    def test_lang_id(self, docs):
        got = {r.doc_id: r.lang_pred for r in with_lang_id(docs).collect()}
        assert got[0] == "en"
        assert got[4] == "de"
        assert got[5] == "fr"

    def test_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",)], "text STRING")
        sh = df.select(word_shingles("text", 3).alias("s")).collect()[0].s
        assert sh == ["a b c", "b c d"]
        short = spark.createDataFrame([("a b",)], "text STRING")
        sh = short.select(word_shingles("text", 3).alias("s")).collect()[0].s
        assert sh == ["a b"]


class TestBoilerplate:
    def test_template_trigrams_detected(self, spark):
        from tile_grid_spark.functions.text import source_boilerplate_ngrams

        # source A: 8/10 docs share a footer phrase; source B: none
        rows = []
        for i in range(10):
            body = f"unique body {i} words alpha{i} beta{i} gamma{i}"
            footer = " subscribe to our newsletter today" if i < 8 else ""
            rows.append((i, "A", body + footer))
        for i in range(10, 20):
            rows.append((i, "B", f"w{i}a w{i}b w{i}c w{i}d w{i}e"))  # fully distinct
        df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, text STRING")
        got = source_boilerplate_ngrams(
            df, n=3, min_df_frac=0.5, top_k=3
        ).collect()
        a_phrases = {r.phrase: r for r in got if r.source == "A"}
        assert "subscribe to our" in a_phrases
        assert "to our newsletter" in a_phrases
        r = a_phrases["subscribe to our"]
        assert r.n_docs == 8 and abs(r.df_frac - 0.8) < 1e-9
        assert not [r for r in got if r.source == "B"]  # no template in B


class TestDedup:
    def test_exact(self, docs):
        out = dedup_exact(docs).orderBy("doc_id").collect()
        flags = [r.is_duplicate for r in out]
        assert flags == [False, True, False, False, False, False, False, False]

    def test_minhash_lsh_finds_near_dups(self, docs):
        pairs = minhash_lsh_pairs(docs, k=32, bands=8, jaccard_threshold=0.3).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got  # exact dup certainly caught
        assert (0, 2) in got or (1, 2) in got  # near dup caught
        assert all(a < b for a, b in got)
        for r in pairs:
            if (r.id_a, r.id_b) == (0, 1):
                assert r.jaccard == 1.0

    def test_minhash_no_false_positives_verified(self, docs):
        pairs = minhash_lsh_pairs(docs, k=32, bands=8, jaccard_threshold=0.9).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert got == {(0, 1)}  # only the exact dup survives 0.9

    def test_ngram_jaccard(self, docs):
        pairs = ngram_jaccard_pairs(docs, threshold=0.3, prefilter_prefix=16).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got

    def test_simhash(self, docs):
        sh = with_simhash(docs)
        vals = {r.doc_id: r.simhash for r in sh.collect()}
        assert vals[0] == vals[1]  # identical text -> identical simhash
        pairs = simhash_near_pairs(sh, max_hamming=8).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got
        h = dict(((r.id_a, r.id_b), r.hamming) for r in pairs)
        assert h[(0, 1)] == 0

    def test_minhash_md5_family_matches_hashlib(self, spark):
        # bit-exact pin of the md5 60-bit family against a pure-Python
        # recompute. Guards the HOF lambda-arity trap: a two-parameter
        # lambda (e.g. `lambda s, j=j:`) silently receives the ARRAY
        # INDEX from Spark's transform(), which once turned the hash
        # prefix into str(<index Column>) — session-dependent signatures
        # and ~5%-flaky LSH recall. hashlib can't flake.
        import hashlib

        from tile_grid_spark.operators.dedup import minhash_signature

        text = "the quick brown fox jumps over the lazy dog and runs away fast"
        k = 8
        df = spark.createDataFrame([(text,)], "text STRING")
        got = df.select(
            minhash_signature(F.col("text"), k=k, hash_fn="md5").alias("sig")
        ).collect()[0].sig
        toks = text.lower().strip().split()
        sh = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        want = []
        for i in range(k):
            digs = [hashlib.md5(f"{i // 2}:{s}".encode()).hexdigest() for s in sh]
            want.append(min(int(d[16 * (i % 2) :][:15], 16) for d in digs))
        assert list(got) == want
        # adjacent elements use the two INDEPENDENT halves of one digest
        assert all(got[2 * i] != got[2 * i + 1] for i in range(k // 2))
        # xxhash64 family: values aren't replicable in pure Python, but
        # the k draws must be k DISTINCT families (the arity bug made
        # every element the same per-position fold)
        xx = df.select(
            minhash_signature(F.col("text"), k=k, hash_fn="xxhash64").alias("sig")
        ).collect()[0].sig
        assert len(set(xx)) > k // 2

    def test_minhash_md5_family_matches_gates(self, docs):
        # the md5 60-bit family (the DuckDB-oracle variant) must pass the
        # same detection gates as the xxhash64 production family
        pairs = minhash_lsh_pairs(
            docs, k=32, bands=8, jaccard_threshold=0.3, hash_fn="md5"
        ).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got
        assert (0, 2) in got or (1, 2) in got
        strict = minhash_lsh_pairs(
            docs, k=32, bands=8, jaccard_threshold=0.9, hash_fn="md5"
        ).collect()
        assert {(r.id_a, r.id_b) for r in strict} == {(0, 1)}
        # exact-Jaccard verification is hash-family-independent: the pair
        # sets agree wherever BOTH families band the pair together
        xx = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_lsh_pairs(
                docs, k=32, bands=8, jaccard_threshold=0.3
            ).collect()
        }
        md = {(r.id_a, r.id_b): r.jaccard for r in pairs}
        for key in xx.keys() & md.keys():
            assert xx[key] == md[key]

    def test_simhash_md5_family(self, docs):
        sh = with_simhash(docs, hash_fn="md5")
        vals = {r.doc_id: r.simhash for r in sh.collect()}
        assert vals[0] == vals[1]
        assert all(0 <= v < 2**60 for v in vals.values())  # 60-bit family
        pairs = simhash_near_pairs(sh, max_hamming=8).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got
        assert dict(((r.id_a, r.id_b), r.hamming) for r in pairs)[(0, 1)] == 0

    def test_ngram_bucket_cap_raises(self, docs):
        # every fixture doc shares a prefix bucket only with its dups;
        # force a degenerate bucket by keying on a 1-char prefix and
        # capping below the bucket size. The guard is LAZY (an in-plan
        # assertion, not an eager pre-scan): building the plan must NOT
        # raise; executing it must. (AQE may wrap the USER_RAISED error
        # in a multi-failure Py4J exception when two stages race — match
        # on the message, not the wrapper class.)
        plan = ngram_jaccard_pairs(
            docs.withColumn("text", F.concat(F.lit("x"), "text")),
            threshold=0.1,
            prefilter_prefix=1,
            max_bucket=3,
        )  # lazy: no job yet
        with pytest.raises(Exception, match="max_bucket"):
            plan.collect()

    def test_ngram_bucket_cap_passes_under_limit(self, docs):
        ok = ngram_jaccard_pairs(docs, threshold=0.2, max_bucket=100_000)
        base = ngram_jaccard_pairs(docs, threshold=0.2, max_bucket=None)
        assert sorted(map(tuple, ok.collect())) == sorted(map(tuple, base.collect()))

    def test_minhash_shingles_stay_out_of_banding_shuffle(self, docs):
        # scale shape: the shingle-array verify side is narrowed by a
        # broadcast LEFT-SEMI on candidate ids before any join — full-
        # table shingle arrays must never ride a shuffle
        plan = minhash_lsh_pairs(docs, k=16, bands=4)._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan, plan[:2000]

    def test_embedding_near_pairs(self, spark):
        rng = np.random.default_rng(3)
        base = rng.standard_normal((20, 16)).astype(np.float32)
        rows = []
        for i, v in enumerate(base):
            rows.append((i, v.tolist()))
        # 100..104: tiny perturbations of 0..4 (cosine ~1)
        for i in range(5):
            rows.append((100 + i, (base[i] + rng.standard_normal(16).astype(np.float32) * 0.01).tolist()))
        df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
        pairs = embedding_near_pairs(df, threshold=0.98, bucket_bits=6).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        found = sum(1 for i in range(5) if (i, 100 + i) in got)
        assert found >= 4  # LSH may drop at most one boundary case
        assert all(r.cosine >= 0.98 for r in pairs)


    def test_embedding_near_pairs_recall_vs_exact(self, spark):
        # multiprobe recall gate: >= 0.9 of the EXACT all-pairs near-dups
        # must survive the bucketed path (false positives are impossible
        # by construction — pairs are verified with exact cosine)
        rng = np.random.default_rng(13)
        base = rng.standard_normal((60, 16)).astype(np.float64)
        vecs = {i: base[i] for i in range(60)}
        for i in range(60):  # one near-twin per base vector
            vecs[1000 + i] = base[i] + rng.standard_normal(16) * 0.02
        ids = sorted(vecs)
        X = np.array([vecs[i] for i in ids])
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T
        thr = 0.95
        exact = {
            (ids[a], ids[b])
            for a in range(len(ids))
            for b in range(a + 1, len(ids))
            if sims[a, b] >= thr
        }
        assert len(exact) >= 50  # fixture sanity: plenty of true pairs
        df = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in ids], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
        got = {
            (r.id_a, r.id_b)
            for r in embedding_near_pairs(
                df, threshold=thr, bucket_bits=8, n_probe_flips=4
            ).collect()
        }
        # float32 storage shifts borderline cosines; compare on the clear
        # interior (exact pairs with margin) for the recall gate
        interior = {
            (ids[a], ids[b])
            for a in range(len(ids))
            for b in range(a + 1, len(ids))
            if sims[a, b] >= thr + 0.01
        }
        recall = len(got & interior) / max(len(interior), 1)
        assert recall >= 0.9, (recall, len(interior))
        # no false positives beyond float32 rounding at the threshold edge
        for a, b in got:
            ia, ib = ids.index(a), ids.index(b)
            assert sims[ia, ib] >= thr - 0.005, (a, b, sims[ia, ib])


class TestContainment:
    def test_matches_python_oracle(self, spark):
        """containment(A->B) vs a from-scratch python set oracle on a
        crafted corpus: an excerpt (A strictly inside B) must score ~1
        in the A->B direction only; unrelated docs score ~0."""
        from tile_grid_spark.functions.text import ROLLING_BASE, ROLLING_WINDOW
        from tile_grid_spark.operators.dedup import containment_pairs

        body = "the quick brown fox jumps over the lazy dog while rain falls on the plain"
        docs = [
            (0, body),  # container
            (1, body[10:45]),  # contained excerpt
            (2, "completely different words about spark plans and shuffles here"),
            (3, "the quick brown fox jumps over the lazy dog while rain falls on the plain and more tail text"),
        ]
        df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
        got = {
            (r.id_a, r.id_b): r
            for r in containment_pairs(df, threshold=0.5, max_df=10).collect()
        }

        w, B = ROLLING_WINDOW, ROLLING_BASE

        def fps(t):
            return {
                sum(ord(t[s + j]) * B ** (w - 1 - j) for j in range(w))
                for s in range(len(t) - w + 1)
            }

        allf = [fps(t) for _, t in docs]
        # df cap: drop fps appearing in > 2 docs? max_df=10 keeps all here
        for (ia, ib), r in got.items():
            inter = len(allf[ia] & allf[ib])
            assert r.n_shared == inter, (ia, ib)
            assert r.n_a == len(allf[ia])
            assert r.containment == round(inter / len(allf[ia]), 6)
        # the excerpt is contained in both long docs; the containers
        # score only ~0.42 in the reverse direction (asymmetry) and are
        # cut by the 0.5 threshold; doc 0 IS a prefix-substring of 3
        assert (1, 0) in got and got[(1, 0)].containment == 1.0
        assert (1, 3) in got and got[(1, 3)].containment == 1.0
        assert (0, 3) in got and got[(0, 3)].containment == 1.0
        assert (0, 1) not in got and (3, 1) not in got
        assert (2, 0) not in got and (0, 2) not in got

    def test_max_df_hub_cap(self, spark):
        """a window shared by every doc (boilerplate) is dropped from
        the inverted index when its document frequency exceeds max_df —
        pairs supported ONLY by that window disappear."""
        from tile_grid_spark.operators.dedup import containment_pairs

        boiler = "SHAREDBOILER"  # 12 chars -> 5 windows, in every doc
        docs = [(i, boiler + f" unique tail number {i} with words") for i in range(6)]
        df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
        capped = containment_pairs(df, threshold=0.1, max_df=3).collect()
        assert capped == []
        uncapped = containment_pairs(df, threshold=0.1, max_df=10).collect()
        assert len(uncapped) > 0


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(11)
        X = rng.standard_normal((500, 24)).astype(np.float32)
        rows = [(i, X[i].tolist()) for i in range(500)]
        df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>").cache()
        return df, X

    def _numpy_topk(self, X, qids, k):
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        out = {}
        for q in qids:
            sims = Xn[50:] @ Xn[q]
            ids = np.arange(50, 500)
            order = np.lexsort((ids, -sims))[:k]
            out[q] = [int(ids[i]) for i in order]
        return out

    def test_arrow_topk_matches_numpy(self, spark, emb):
        # the Arrow matmul path must produce the numpy oracle's ranking
        # (same tie-break: cosine desc, cand_id asc)
        from tile_grid_spark.operators.similarity import brute_force_topk_arrow

        df, X = emb
        q = df.filter("vec_id < 8").withColumnRenamed("vec_id", "query_id")
        c = df.filter("vec_id >= 50").withColumnRenamed("vec_id", "cand_id")
        a = brute_force_topk_arrow(q, c, k=5).toPandas()
        exp = self._numpy_topk(X, range(8), 5)
        for qid in range(8):
            mine = a[a.query_id == qid].sort_values("rank").cand_id.tolist()
            assert mine == exp[qid], qid

    def test_arrow_topk_tie_break_deterministic(self, spark, emb):
        # equal-cosine candidates (identical embeddings) must resolve by
        # cand_id ascending even within one batch's local top-k
        from tile_grid_spark.operators.similarity import brute_force_topk_arrow

        v = [1.0] + [0.0] * 23
        q = spark.createDataFrame([(0, v)], "query_id BIGINT, embedding ARRAY<FLOAT>")
        c = spark.createDataFrame(
            [(9, v), (5, v), (7, v), (3, [0.0] * 23 + [1.0])],
            "cand_id BIGINT, embedding ARRAY<FLOAT>",
        )
        got = brute_force_topk_arrow(q, c, k=2).orderBy("rank").collect()
        assert [r.cand_id for r in got] == [5, 7]

    def test_arrow_topk_caps_query_side(self, spark, emb):
        from tile_grid_spark.operators.similarity import brute_force_topk_arrow

        df, _ = emb
        q = df.withColumnRenamed("vec_id", "query_id")
        c = df.withColumnRenamed("vec_id", "cand_id")
        with pytest.raises(ValueError, match="max_queries"):
            brute_force_topk_arrow(q, c, k=2, max_queries=10)

    def test_lsh_recall(self, spark, emb):
        df, X = emb
        q = df.filter("vec_id < 20").withColumnRenamed("vec_id", "query_id")
        c = df.filter("vec_id >= 50").withColumnRenamed("vec_id", "cand_id")
        # NB: isotropic gaussian vectors are the LSH worst case (no cluster
        # structure). 4 bucket bits + 4 probe flips examines ~5/16 of the
        # corpus; hyperplane locality must still beat that sampling rate
        # decisively on the true top-5.
        got = lsh_topk(q, c, k=5, bucket_bits=4, n_probe_flips=4).toPandas()
        exp = self._numpy_topk(X, range(20), 5)
        hits = total = 0
        for qid in range(20):
            mine = set(got[got.query_id == qid].cand_id.tolist())
            hits += len(mine & set(exp[qid]))
            total += 5
        recall = hits / total
        assert recall > 0.45, recall  # ~1.5x the 5/16 examination rate

    def test_ivf_centroid_sample_is_unbiased(self, spark):
        # regression (r2 VERDICT): a bare limit(n) collected the FIRST
        # partitions only, so on a table clustered by region the k-means
        # sample saw one cluster. Fixture: cluster A occupies all early
        # rows, cluster B all late rows; the fitted centroids must still
        # cover BOTH clusters.
        from tile_grid_spark.operators.similarity import fit_ivf_centroids

        rng = np.random.default_rng(7)
        a = rng.standard_normal((400, 8)) * 0.1 + np.array([5.0] + [0.0] * 7)
        b = rng.standard_normal((400, 8)) * 0.1 + np.array([-5.0] + [0.0] * 7)
        rows = [(i, v.tolist()) for i, v in enumerate(a)] + [
            (400 + i, v.tolist()) for i, v in enumerate(b)
        ]
        df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
        C = fit_ivf_centroids(df, n_centroids=2, sample=100, seed=3)
        has_a = (C @ np.array([1.0] + [0.0] * 7) > 0.9).any()
        has_b = (C @ np.array([-1.0] + [0.0] * 7) > 0.9).any()
        assert has_a and has_b, C

    def test_pq_recall(self, spark, emb):
        # production path: per-subspace k-means codebook fit from the
        # candidates, ADC scan + exact rerank. Isotropic gaussians are
        # the PQ worst case (no cluster structure; 4 subspaces quantize
        # hard); pool is rerank*k = 30 of 450 candidates (6.7%) and the
        # gate requires the compressed-domain scan to beat that sampling
        # rate ~10x on the true top-5.
        from tile_grid_spark.operators.similarity import fit_pq_codebook, pq_topk

        df, X = emb
        nrm = F.sqrt(
            F.aggregate(
                F.zip_with("embedding", "embedding", lambda a, b: a * b),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        )
        dn = df.select(
            "vec_id",
            F.transform(
                F.transform("embedding", lambda x: x.cast("double")),
                lambda x: x / nrm,
            ).alias("embedding"),
        )
        q = dn.filter("vec_id < 20").withColumnRenamed("vec_id", "query_id")
        c = dn.filter("vec_id >= 50").withColumnRenamed("vec_id", "cand_id")
        cb = fit_pq_codebook(c, m=4, k=16, seed=5)
        got = pq_topk(q, c, codebook=cb, k=5, rerank=6).toPandas()
        exp = self._numpy_topk(X, range(20), 5)
        hits = total = 0
        for qid in range(20):
            mine = set(got[got.query_id == qid].cand_id.tolist())
            hits += len(mine & set(exp[qid]))
            total += 5
        assert hits / total > 0.6, hits / total

    def test_pq_tie_break_deterministic(self, spark):
        # identical candidate embeddings -> identical codes -> equal ADC
        # and equal exact score: both windows must fall back to cand_id
        # ascending, and the codebook fit must reject a bad subspace split
        from tile_grid_spark.operators.similarity import fit_pq_codebook, pq_topk

        v = [1.0] + [0.0] * 7
        u = [0.0] * 7 + [1.0]
        q = spark.createDataFrame([(0, v)], "query_id BIGINT, embedding ARRAY<DOUBLE>")
        c = spark.createDataFrame(
            [(9, v), (5, v), (7, v), (3, u)], "cand_id BIGINT, embedding ARRAY<DOUBLE>"
        )
        cb = fit_pq_codebook(c, m=2, k=2, seed=1)
        got = pq_topk(q, c, codebook=cb, k=2, rerank=2).orderBy("rank").collect()
        assert [r.cand_id for r in got] == [5, 7]
        assert got[0].score == 1.0

        with pytest.raises(ValueError, match="not divisible"):
            fit_pq_codebook(c, m=3, k=2)

    def test_pq_dim_mismatch_raises(self, spark, emb):
        import numpy as np

        from tile_grid_spark.operators.similarity import pq_topk

        df, _ = emb
        q = df.filter("vec_id < 2").withColumnRenamed("vec_id", "query_id")
        c = df.filter("vec_id >= 50").withColumnRenamed("vec_id", "cand_id")
        with pytest.raises(ValueError, match="m\\*s"):
            pq_topk(q, c, codebook=np.zeros((4, 8, 5)), dim=24)

    def test_ivf_recall(self, spark, emb):
        df, X = emb
        q = df.filter("vec_id < 20").withColumnRenamed("vec_id", "query_id")
        c = df.filter("vec_id >= 50").withColumnRenamed("vec_id", "cand_id")
        got = ivf_topk(q, c, k=5, n_centroids=8, nprobe=3).toPandas()
        exp = self._numpy_topk(X, range(20), 5)
        hits = total = 0
        for qid in range(20):
            mine = set(got[got.query_id == qid].cand_id.tolist())
            hits += len(mine & set(exp[qid]))
            total += 5
        assert hits / total > 0.6


class TestQualityFilter:
    def test_rule_boundaries_vs_python_oracle(self, spark):
        from tile_grid_spark.functions.text import with_quality_filter

        docs = [
            # passes everything: 30 tokens, stopwords, short words
            ("ok", "the cat sat on a mat " * 5),
            # too few tokens
            ("short", "the a of word here"),
            # mean token length too high (long words, few stops)
            ("longwords", " ".join(["the", "a"] + ["extraordinarily"] * 28)),
            # punctuation soup
            ("punct", "the a " + "!!! ??? ;;; " * 10),
            # no stopwords
            ("nostop", " ".join(f"tok{i}" for i in range(30))),
        ]
        df = spark.createDataFrame(docs, "doc_id STRING, text STRING")
        got = {
            r.doc_id: (r.fail_tokens, r.fail_wordlen, r.fail_punct, r.fail_stop, r.passes)
            for r in with_quality_filter(df).collect()
        }

        def oracle(text):
            toks = text.strip().lower().split()
            nt, nc = len(toks), len(text)
            mean = nc / max(nt, 1)
            punct = sum(not (c.isalnum() or c.isspace()) for c in text) / max(nc, 1)
            stops = sum(w in toks for w in ("the", "a", "and", "of", "to"))
            f = (
                nt < 25 or nt > 10000,
                mean < 3.0 or mean > 6.0,
                punct > 0.1,
                stops < 2,
            )
            return (*f, not any(f))

        for doc_id, text in docs:
            assert got[doc_id] == oracle(text), doc_id
        assert got["ok"][4] is True
        assert got["short"][0] and got["longwords"][1]
        assert got["punct"][2] and got["nostop"][3]


class TestDatasetSplit:
    def test_split_deterministic_and_partition_invariant(self, spark):
        from tile_grid_spark.operators.dedup import md5_hash60

        ids = spark.range(0, 2000)

        def splits(df):
            b = F.pmod(md5_hash60(F.col("id").cast("string"), prefix="split"), F.lit(100))
            s = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
            return df.select("id", s.alias("split"))

        a = {r.id: r.split for r in splits(ids).collect()}
        b = {r.id: r.split for r in splits(ids.repartition(13)).collect()}
        assert a == b
        # ratios near 80/10/10 (md5 uniformity)
        from collections import Counter

        c = Counter(a.values())
        assert abs(c["train"] / 2000 - 0.8) < 0.03
        assert abs(c["val"] / 2000 - 0.1) < 0.02
        assert abs(c["test"] / 2000 - 0.1) < 0.02
        # append-stability: the split of ids 0..999 is unchanged when the
        # corpus doubles (hash depends only on the id)
        half = {r.id: r.split for r in splits(spark.range(0, 1000)).collect()}
        assert all(a[i] == half[i] for i in range(1000))


class TestTfidfTopk:
    def test_matches_python_oracle(self, spark):
        import math

        from tile_grid_spark.functions.text import tfidf_topk_terms

        docs = [
            (0, "alpha beta beta gamma"),
            (1, "alpha alpha delta"),
            (2, "beta gamma gamma gamma epsilon"),
            (3, "zeta zeta zeta zeta"),
        ]
        df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
        got = {
            (r.doc_id, r.rnk): (r.term, r.tf, r.df, r.score)
            for r in tfidf_topk_terms(df, k=2).collect()
        }
        # python oracle
        from collections import Counter, defaultdict

        tf = {i: Counter(t.split()) for i, t in docs}
        dfreq = defaultdict(int)
        for i in tf:
            for term in tf[i]:
                dfreq[term] += 1
        n = len(docs)
        for i in tf:
            scored = sorted(
                (
                    (-round(c * math.log(n / dfreq[t]), 6), t, c)
                    for t, c in tf[i].items()
                ),
            )
            for rnk, (neg, t, c) in enumerate(scored[:2], 1):
                term, gtf, gdf, gscore = got[(i, rnk)]
                assert (term, gtf, gdf) == (t, c, dfreq[t]), (i, rnk)
                assert gscore == -neg or (gscore == 0.0 and neg == 0.0)

    def test_rank_limit_and_tie_break(self, spark):
        from tile_grid_spark.functions.text import tfidf_topk_terms

        # both terms unique to the doc, same tf -> equal score; the
        # lexicographically smaller term must take rank 1
        df = spark.createDataFrame(
            [(0, "mango kiwi"), (1, "common common")],
            "doc_id BIGINT, text STRING",
        )
        rows = {
            (r.doc_id, r.rnk): r.term for r in tfidf_topk_terms(df, k=2).collect()
        }
        assert rows[(0, 1)] == "kiwi" and rows[(0, 2)] == "mango"
