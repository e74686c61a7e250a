"""Training-data pipeline ops: dedup recall on crafted near-dups, ANN
recall vs brute force, multimodal plumbing shapes."""

from __future__ import annotations

import itertools
import random
import re

import pytest
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest to find some tasty food for the winter "
        "season while the snow falls quietly on the silent frozen ground"
    )
    words = base.split()
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, " ".join(words[:-2])),  # near dup of 1 (high jaccard)
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "another unrelated text mentioning catalysts and tungsten engines"),
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


@pytest.fixture
def arrow_inputs(spark, monkeypatch):
    """The frames ``DataFrame.mapInArrow`` is called on, in call order."""
    DataFrame = type(spark.range(0))  # the session's concrete class
    frames: list = []
    real = DataFrame.mapInArrow

    def spy(self, *args, **kwargs):
        frames.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInArrow", spy)
    return frames


def _reference_corpus() -> list[tuple[int, str]]:
    """Docs with planted near-duplicates, docs under 3 tokens, runs of
    mixed whitespace and upper case."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)] + ["Alpha", "BETA", "gamma", "Delta"]
    seps = [" ", "  ", "\t", "\n", " \t\n ", "\r\n"]

    def spaced(words):
        lead, trail = rng.choice(["", " ", "\t", "\n "]), rng.choice(["", " ", "\n", "\t "])
        return lead + "".join(w + rng.choice(seps) for w in words[:-1]) + words[-1] + trail

    rows: list[tuple[int, str]] = []
    for _ in range(8):
        words = [rng.choice(vocab) for _ in range(rng.randint(12, 30))]
        rows.append((len(rows) + 1, " ".join(words)))
        rows.append((len(rows) + 1, spaced([w.upper() for w in words])))  # same grams
        near = list(words)
        near[rng.randrange(len(near))] = "changed"
        rows.append((len(rows) + 1, spaced(near)))
        rows.append((len(rows) + 1, spaced(words[: len(words) * 2 // 3])))
    for text in ["Hello", "hello", "hello  World", "HELLO\tworld\n", "x y",
                 "", "   ", "\t\n", "one two three", "ONE\n\ntwo   three "]:
        rows.append((len(rows) + 1, text))
    return rows


def _string_gram_pairs(rows, threshold: float, n: int = 3) -> dict:
    """Pure-Python twin of the DuckDB oracle's gram definition: normalize,
    split, distinct n-grams joined by ' ' (one gram of all tokens for docs
    under n tokens), rounded Jaccard over the string sets."""
    grams = {}
    for doc_id, text in rows:
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]
        grams[doc_id] = {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)}
    out = {}
    for a, b in itertools.combinations(sorted(grams), 2):
        shared = len(grams[a] & grams[b])
        j = round(shared / (len(grams[a]) + len(grams[b]) - shared), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


class TestDedup:
    def test_exact(self, spark, near_dup_docs):
        from npm_search_spark.pipeline.dedup import dedup_exact, exact_duplicates

        groups = exact_duplicates(near_dup_docs).collect()
        assert len(groups) == 1
        assert groups[0]["doc_ids"] == [1, 2]
        assert dedup_exact(near_dup_docs).count() == 4

    def test_ngram_jaccard(self, spark, near_dup_docs):
        from npm_search_spark.pipeline.dedup import ngram_jaccard_pairs

        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and pairs[(1, 3)] > 0.8
        assert (1, 4) not in pairs

    def test_ngram_jaccard_max_df_prune(self, spark, near_dup_docs):
        """max_df caps posting lists (scale guard against stop-grams): a cap
        above the fixture's max document frequency is a no-op; max_df=1
        removes every shared gram and hence every pair."""
        from npm_search_spark.pipeline.dedup import ngram_jaccard_pairs

        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
        }
        capped = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5, max_df=3).collect()
        }
        assert capped == exact
        assert ngram_jaccard_pairs(near_dup_docs, threshold=0.5, max_df=1).count() == 0

    def test_ngram_jaccard_scale_entry_point_verifies_exactly(self, spark, near_dup_docs):
        """The at-scale entry point defaults the stop-gram cap ON, and any
        pair it finds carries the EXACT jaccard (candidates from the pruned
        index, verification over full gram sets) — even under an
        aggressively small cap that prunes most posting lists."""
        from npm_search_spark.pipeline.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_at_scale,
        )

        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
        }
        # default cap (10k) >> fixture dfs: identical to exact mode
        scale = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs_at_scale(near_dup_docs, threshold=0.5).collect()
        }
        assert scale == exact
        # tight cap: found pairs are a SUBSET, but their jaccard is exact
        tight = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs_at_scale(
                near_dup_docs, threshold=0.5, max_df=2
            ).collect()
        }
        assert set(tight) <= set(exact)
        for pair, j in tight.items():
            assert j == exact[pair]

    def test_doc_grams_null_and_empty_text(self, spark):
        """Nullable text anywhere in a batch (incl. TRAILING null — the
        reduceat-clip regression) must not shift neighbor boundaries: the
        real doc's gram set is identical to a null-free run."""
        from npm_search_spark.pipeline.dedup import doc_grams

        rows = [
            (1, "alpha beta gamma delta epsilon"),
            (2, None),  # trailing-in-batch null
            (3, "x y"),  # short doc (T < n)
            (4, None),
            (5, ""),
            (6, "   "),
            (7, None),  # batch ends on null
        ]
        # coalesce(1): every row in ONE Arrow batch so placement matters
        df = spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1)
        got = {r["doc_id"]: sorted(r["grams"]) for r in doc_grams(df).collect()}
        ref_df = spark.createDataFrame([rows[0], rows[2]], DOC_SCHEMA).coalesce(1)
        ref = {r["doc_id"]: sorted(r["grams"]) for r in doc_grams(ref_df).collect()}
        assert got[1] == ref[1] and len(got[1]) == 3
        assert got[3] == ref[3]
        # null/empty/whitespace docs all collapse to the same empty-fold gram
        assert got[2] == got[4] == got[5] == got[6] == got[7]

    @pytest.mark.parametrize("threshold", [0.8, 0.3])
    def test_ngram_jaccard_matches_string_gram_reference(self, spark, threshold):
        """The Arrow hash-gram pass gives the oracle's string-gram pairs,
        row for row, in exact mode and with a stop-gram cap above every
        document frequency; MinHash's verified pairs are a subset carrying
        the same jaccard."""
        from npm_search_spark.pipeline.dedup import (
            minhash_lsh_dedup_pairs,
            ngram_jaccard_pairs,
        )

        rows = _reference_corpus()
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        want = _string_gram_pairs(rows, threshold)
        assert len(want) >= 10  # planted pairs exist at both thresholds

        def pairs(out):
            return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}

        assert pairs(ngram_jaccard_pairs(df, threshold)) == want
        assert pairs(ngram_jaccard_pairs(df, threshold, max_df=len(rows))) == want
        mh = pairs(minhash_lsh_dedup_pairs(df, threshold))
        assert mh and all(want[p] == j for p, j in mh.items())

    @pytest.mark.parametrize("max_df", [None, 3])
    def test_ngram_jaccard_reads_one_gram_pass(self, spark, near_dup_docs, monkeypatch, max_df):
        """n-gram Jaccard takes its grams from exactly one ``doc_grams``
        call (the pinned Arrow pass MinHash reads), and no interpreted
        higher-order-function gram expression is left in its plan."""
        from npm_search_spark.pipeline import dedup as D

        calls: list[int] = []
        real = D.doc_grams

        def spy(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(D, "doc_grams", spy)
        out = D.ngram_jaccard_pairs(near_dup_docs, threshold=0.5, max_df=max_df)
        assert len(calls) == 1
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "lambdafunction" not in analyzed

    def test_minhash_runs_one_arrow_pass(self, spark, arrow_inputs):
        """MinHash's grams and band buckets come from one ``mapInArrow``."""
        from npm_search_spark.pipeline.dedup import minhash_lsh_dedup_pairs

        df = spark.createDataFrame(_reference_corpus(), DOC_SCHEMA)
        assert minhash_lsh_dedup_pairs(df, 0.8).collect()
        assert len(arrow_inputs) == 1

    def test_minhash_bands_match_two_pass_reference(self, spark):
        """The in-pass ``bands`` column, exploded as the LSH groupBy reads
        it, equals the former separate band pass: 64 seeded splitmix
        minima per doc, then 16 bands folding 4 signature rows each."""
        import numpy as np

        from npm_search_spark.pipeline.dedup import doc_grams

        M = (1 << 64) - 1

        def mix(x):
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            return x ^ (x >> np.uint64(31))

        df = spark.createDataFrame(_reference_corpus(), DOC_SCHEMA)
        grams = doc_grams(df, with_bands=True)
        got = {
            (r["doc_id"], r["band"], r["bucket"])
            for r in grams.select(
                "doc_id", F.posexplode("bands").alias("band", "bucket")
            ).collect()
        }
        want = set()
        for r in grams.collect():
            g = np.array(r["grams"], dtype=np.int64).view(np.uint64)
            sig = [
                mix(g + np.uint64((i + 1) * 0x9E3779B97F4A7C15 & M)).min(keepdims=True)
                for i in range(64)
            ]
            for b in range(16):
                acc = np.array([(b + 1) * 0x9E3779B97F4A7C15 & M], dtype=np.uint64)
                for s in sig[b * 4 : b * 4 + 4]:
                    acc = mix(acc ^ s)
                want.add((r["doc_id"], b, int(acc.view(np.int64)[0])))
        assert len(got) == 16 * len(_reference_corpus())
        assert got == want

    def test_minhash_candidates_need_bands(self, spark, near_dup_docs):
        from npm_search_spark.pipeline.dedup import doc_grams, minhash_lsh_candidates

        with pytest.raises(ValueError, match="with_bands=True"):
            minhash_lsh_candidates(near_dup_docs, grams=doc_grams(near_dup_docs))

    @pytest.mark.parametrize("min_bytes", [None, 0])
    def test_per_doc_stages_fan_out_by_size(self, spark, tmp_path, arrow_inputs, monkeypatch,
                                            min_bytes):
        """A small single-partition input shingles and votes in one task,
        with no round-robin exchange ahead of either Arrow pass; past the
        gate's size threshold (0 here) both stages fan out to cluster
        width."""
        import functools

        from npm_search_spark.pipeline import dedup as D

        width = 1
        if min_bytes is not None:
            gate = functools.partial(D._fan_out_if_heavy, min_bytes=min_bytes)
            monkeypatch.setattr(D, "_fan_out_if_heavy", gate)
            width = spark.sparkContext.defaultParallelism
        path = str(tmp_path / "docs")
        spark.createDataFrame(_reference_corpus(), DOC_SCHEMA).coalesce(1).write.parquet(path)
        df = spark.read.parquet(path)
        assert D.doc_grams(df).rdd.getNumPartitions() == width
        D.simhash_signatures(df)
        assert len(arrow_inputs) == 2
        for inp in arrow_inputs:
            plan = inp._jdf.queryExecution().executedPlan().toString()
            assert ("RoundRobinPartitioning" in plan) == (width > 1)
            assert width == 1 or f"RoundRobinPartitioning({width})" in plan

    def test_fan_out_gate_runs_no_job(self, spark, near_dup_docs):
        """The gate reads the unexecuted plan: on an input holding a
        shuffle it starts no Spark job (``df.rdd`` would run the shuffle
        stage under AQE) and sees the plan's partition count, not AQE's
        coalesced one."""
        from npm_search_spark.pipeline.dedup import _fan_out_if_heavy

        sc = spark.sparkContext
        grouped = near_dup_docs.groupBy("doc_id").agg(F.first("text").alias("text"))
        sc.setJobGroup("fan-out-gate", "gate only")
        try:
            out = _fan_out_if_heavy(grouped, min_bytes=0)
            assert list(sc.statusTracker().getJobIdsForGroup("fan-out-gate")) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert out is grouped  # spark.sql.shuffle.partitions >= defaultParallelism

    def test_minhash_lsh_finds_exact_and_near(self, spark, near_dup_docs):
        from npm_search_spark.pipeline.dedup import minhash_lsh_dedup_pairs

        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_dedup_pairs(near_dup_docs, threshold=0.8).collect()
        }
        assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) in pairs
        assert all(a not in (4, 5) and b not in (4, 5) for a, b in pairs)

    def test_simhash(self, spark, near_dup_docs):
        from npm_search_spark.pipeline.dedup import simhash_near_pairs, simhash_signatures

        sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(near_dup_docs).collect()}
        assert sigs[1] == sigs[2]  # identical text -> identical signature
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(near_dup_docs, max_hamming=6).collect()
        }
        assert pairs[(1, 2)] == 0
        assert (1, 3) in pairs  # near dup within hamming 6
        assert (4, 5) not in pairs


class TestSimilarity:
    def test_lsh_recall_vs_brute_force(self, spark, sf_dir):
        from npm_search_spark.pipeline.similarity import cosine_topk, lsh_ann_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(e.select("embedding").first()[0])
        q = e.where(F.col("vec_id") < 3)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(e, q, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_ann_topk(e, q, dim=dim, k=5, n_planes=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        # approximate by design: 4 planes/16 buckets over random 64-dim
        # vectors keeps only same-bucket candidates — just assert the
        # approximation is usefully better than chance (1/16)
        assert recall >= 0.15

    @pytest.fixture(scope="class")
    def clustered_vecs(self, spark):
        """300 vectors in 15 tight clusters (deterministic hash noise) — the
        regime ANN indexes are for; random isotropic vectors have no
        locality for any ANN method to exploit."""
        import hashlib

        def h(*xs):
            b = hashlib.md5(("|".join(map(str, xs))).encode()).digest()
            return int.from_bytes(b[:8], "big") / 2**63 - 1.0  # [-1, 1)

        dim, n_clusters = 16, 15
        rows = []
        for i in range(300):
            c = i % n_clusters
            vec = [h("c", c, d) + 0.02 * h("n", i, d) for d in range(dim)]
            rows.append((i, vec))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_lsh_recall_gate_clustered(self, spark, clustered_vecs):
        """The ≥0.9 recall gate at stated params: multiprobe LSH (8 planes,
        radius 1) on clustered data must recover ≥90% of the exact top-5."""
        from npm_search_spark.pipeline.similarity import cosine_topk, lsh_ann_topk

        e = clustered_vecs
        q = e.where(F.col("vec_id") < 10)
        exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(e, q, k=5).collect()}
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_ann_topk(e, q, dim=16, k=5, n_planes=8, probe_radius=1).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.9

    def test_ivf_recall_gate_clustered(self, spark, clustered_vecs):
        """IVF with 16 seed cells, nprobe=4 on clustered data: ≥0.9 recall
        vs the exact baseline."""
        from npm_search_spark.pipeline.similarity import (
            cosine_topk,
            ivf_ann_topk,
            ivf_centroids,
        )

        e = clustered_vecs
        q = e.where(F.col("vec_id") < 10)
        cents = ivf_centroids(e, k=16)
        exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(e, q, k=5).collect()}
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_ann_topk(e, q, cents, k=5, nprobe=4).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.9

    def test_brute_force_self_excluded(self, spark, sf_dir):
        from npm_search_spark.pipeline.similarity import cosine_topk

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.where(F.col("vec_id") < 2)
        out = cosine_topk(e, q, k=3)
        assert out.where(F.col("query_id") == F.col("neighbor_id")).count() == 0
        per_q = out.groupBy("query_id").count().collect()
        assert all(r["count"] == 3 for r in per_q)

    def test_exact_dup_pairs_match_bruteforce(self, spark):
        """The blocked-GEMM dup-pairs join is EXACT: on hash-derived vectors
        plus nudged near-copies (distinct values, cos just under 1.0 — the
        pairs single-band LSH measurably misses), the pair set equals an
        all-pairs brute force, with block_rows small enough to force a
        multi-block grid (diagonal + off-diagonal tiles)."""
        from npm_search_spark.pipeline.similarity import (
            cosine,
            embedding_cosine_dup_pairs,
        )

        dim = 8
        base = spark.range(60).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (F.hash(F.col("id"), F.lit(d)).cast("double") / F.lit(2147483647.0))
                    for d in range(dim)
                ]
            ).alias("embedding"),
        )
        copies = base.where(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.concat(
                F.slice(F.col("embedding"), 1, 1),
                F.transform(
                    F.slice(F.col("embedding"), 2, dim - 1),
                    lambda x: x + F.lit(1e-4),
                ),
            ).alias("embedding"),
        )
        e = base.unionByName(copies)
        got_rows = embedding_cosine_dup_pairs(
            e, threshold=0.9, block_rows=16
        ).collect()
        got = {(r["a"], r["b"], r["cos"]) for r in got_rows}
        # each qualifying pair must be emitted exactly once — a duplicate
        # emission by the tile grid would vanish in the set compare
        assert len(got_rows) == len(got)
        l = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
        r_ = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
        brute = (
            l.crossJoin(r_)
            .where(F.col("a") < F.col("b"))
            .withColumn(
                "cos",
                F.round(
                    cosine(
                        F.col("va").cast("array<double>"),
                        F.col("vb").cast("array<double>"),
                    ),
                    6,
                ),
            )
            .where(F.col("cos") >= 0.9)
        )
        want = {(r["a"], r["b"], r["cos"]) for r in brute.collect()}
        assert want, "fixture must produce qualifying pairs"
        assert got == want


class TestMultimodal:
    def test_plumbing_shapes(self, spark):
        from npm_search_spark.pipeline.multimodal import (
            decode_media,
            frame_sample,
            media_rows_from_spans,
        )
        from npm_search_spark.sources import synthetic as SYN

        docs = SYN.documents(spark, 50, partitions=2)
        media = media_rows_from_spans(docs)
        assert media.where(F.col("payload").isNull()).count() == 0
        decoded = decode_media(media)
        rows = decoded.collect()
        assert rows and all(len(r["feature"]) == 8 for r in rows)
        # deterministic: same payload -> same feature
        d2 = {(r["doc_id"], r["media_ref"]): r["feature"] for r in decode_media(media).collect()}
        d1 = {(r["doc_id"], r["media_ref"]): r["feature"] for r in rows}
        assert d1 == d2
        videos = decoded.where(F.col("media_type") == "video")
        if videos.take(1):
            fs = frame_sample(decoded, every_n=8)
            assert fs.count() > 0


class TestIVF:
    def test_ivf_recall_and_cells(self, spark, sf_dir):
        from npm_search_spark.pipeline.similarity import (
            cosine_topk,
            ivf_ann_topk,
            ivf_centroids,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = ivf_centroids(e, k=8)
        assert len(cents) == 8 and len(cents[0]) == len(e.first()["embedding"])
        # determinism
        assert cents == ivf_centroids(e, k=8)
        q = e.where(F.col("vec_id") < 3)
        exact = {
            (r["query_id"], r["neighbor_id"]) for r in cosine_topk(e, q, k=5).collect()
        }
        approx_df = ivf_ann_topk(e, q, cents, k=5, nprobe=3)
        approx = {(r["query_id"], r["neighbor_id"]) for r in approx_df.collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.2  # 3/8 cells probed on random vectors
        # per-query result counts bounded by k
        per_q = approx_df.groupBy("query_id").count().collect()
        assert all(r["count"] <= 5 for r in per_q)


class TestKMeansCentroids:
    """Lloyd refinement of the IVF coarse quantizer (deterministic,
    distributed assign + per-(cell,dim) mean)."""

    def _fixture(self, spark):
        import hashlib

        def h(*xs):
            b = hashlib.md5(("|".join(map(str, xs))).encode()).digest()
            return int.from_bytes(b[:8], "big") / 2**63 - 1.0

        dim, n_clusters = 16, 15
        rows = []
        for i in range(300):
            c = i % n_clusters
            vec = [h("c", c, d) + 0.02 * h("n", i, d) for d in range(dim)]
            rows.append((i, vec))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_refinement_reduces_quantization_error(self, spark):
        from pyspark.sql import functions as F

        from npm_search_spark.pipeline.similarity import (
            _sq_l2,
            ivf_cell,
            ivf_centroids,
            ivf_centroids_kmeans,
        )

        e = self._fixture(spark)

        def sse(cents):
            entries = F.array(
                *[
                    F.struct(
                        _sq_l2(F.col("embedding").cast("array<double>"), c).alias("d"),
                        F.lit(i).alias("cid"),
                    )
                    for i, c in enumerate(cents)
                ]
            )
            return e.select(F.array_min(entries)["d"].alias("d")).agg(
                F.sum("d")
            ).first()[0]

        seed = ivf_centroids(e, k=15)
        refined = ivf_centroids_kmeans(e, k=15, iters=3)
        assert sse(refined) < sse(seed) * 0.8  # Lloyd must shrink SSE

    def test_refined_cells_keep_recall_gate(self, spark):
        from pyspark.sql import functions as F

        from npm_search_spark.pipeline.similarity import (
            cosine_topk,
            ivf_ann_topk,
            ivf_centroids_kmeans,
        )

        e = self._fixture(spark)
        q = e.where(F.col("vec_id") < 10)
        cents = ivf_centroids_kmeans(e, k=16, iters=2)
        exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(e, q, k=5).collect()}
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_ann_topk(e, q, cents, k=5, nprobe=4).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.9

    def test_deterministic(self, spark):
        from npm_search_spark.pipeline.similarity import ivf_centroids_kmeans

        e = self._fixture(spark)
        a = ivf_centroids_kmeans(e, k=8, iters=2)
        b = ivf_centroids_kmeans(e, k=8, iters=2)
        assert a == b
