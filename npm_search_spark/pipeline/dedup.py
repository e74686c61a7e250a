"""Deduplication operators for training-data pipelines at 100 TB scale.

  exact            hash-groupBy on a normalized-content fingerprint
  n-gram Jaccard   inverted-index self-join (explode ngram -> equi-join ->
                   shared/union counting) — the scalable exact method
  MinHash + LSH    64-perm signature + banded buckets inside the gram pass
                   -> candidate pairs -> exact-Jaccard verification
  SimHash          tokens hashed JVM-side -> 64-bit bit-vote via segmented
                   numpy sums, near-dup = small Hamming distance in buckets

n-gram Jaccard and MinHash share ONE gram definition and ONE shingling
pass, ``doc_grams``: word 3-grams of normalized text, hashed to 64 bits in
a vectorized Arrow pass (no per-row Python, no interpreted Catalyst
higher-order functions) and pinned so every consumer reads it once. When
MinHash asks for them, the same Arrow batch also yields the LSH band
buckets, so MinHash crosses the Python boundary once per query.

Scale notes: every method is shuffle-bounded by its join key (fingerprint /
ngram / band bucket), never all-pairs. Arrow stages work on whole batches:
tokens are hashed once per distinct token per task, permutation minima are
``np.minimum.reduceat`` matrix ops. Per-doc stages fan out to cluster
width only through ``_fan_out_if_heavy``. LSH bands turn the quadratic
pair search into an equi-join; the exact verification joins only
candidate pairs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import normalize_text

NUM_PERM = 64
BANDS = 16  # 16 bands x 4 rows: P(candidate | j=0.9) ~ 1 - (1-0.9^4)^16 ~ 0.999
GOLD = np.uint64(0x9E3779B97F4A7C15)


def _mix(x):
    """splitmix64 finalizer, elementwise over uint64 arrays."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _plan_partitions(plan) -> int:
    """Partitions a physical plan node produces, read without executing it:
    its declared output partitioning (an exchange's count — the plan's,
    not AQE's coalesced one), else the sum over its children, down to a
    leaf scan whose RDD is built (split planning, no job) but not run."""
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    if kids.isEmpty():
        return plan.execute().getNumPartitions()
    return sum(_plan_partitions(kids.apply(i)) for i in range(kids.size()))


def _fan_out_if_heavy(df: DataFrame, min_bytes: int = 192 << 10) -> DataFrame:
    """The one fan-out rule of the per-doc stages (exact dedup,
    ``doc_grams``, ``simhash_signatures``): repartition an
    under-partitioned input to cluster width only when the optimizer's
    size estimate (compressed parquet bytes) is past the crossover measured
    on local[4], warm: one task won at 28 KB (sf0.01) and 115 KB (the
    150-doc perfbench corpus: grams 0.28 vs 0.45 s), fanning out won at
    255 KB (sf0.1: MinHash 0.96 vs 0.82 s) and 2.5 MB (sf1.0: 5.2 vs 2.5 s).
    At real scale inputs arrive with more partitions than cores: a no-op.
    Runs no Spark job: the partition count comes from the unexecuted
    physical plan (``df.rdd`` would run the input's shuffles under AQE)."""
    try:
        if int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) < min_bytes:
            return df
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        parts = _plan_partitions(plan)
    except Exception:  # noqa: BLE001 — stats are advisory; stay conservative
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if parts < n else df


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of documents with identical normalized content.
    Returns (fingerprint, n_docs, doc_ids, keeper)."""
    df = _fan_out_if_heavy(df)
    return (
        df.select(F.col("doc_id"), F.md5(normalize_text(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per identical content."""
    w = Window.partitionBy(F.md5(normalize_text(F.col(text_col)))).orderBy("doc_id")
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with ngram-Jaccard >= threshold.
    Inverted-index join: |pairs considered| = sum over ngrams of df^2 —
    bounded by content overlap, not n^2. Grams come from ``doc_grams``,
    the pinned Arrow pass MinHash reads too; every consumer below (index,
    stop-gram count, verification) reads it without re-shingling.

    ``max_df`` prunes posting lists longer than max_df documents before the
    self-join: a universally-common gram otherwise makes the equi-join
    quadratic in corpus size. The pruned index only *generates candidates*
    — each candidate pair is then verified exactly against the full gram
    sets (array_intersect), so reported jaccard is exact and a pair is
    missed only if EVERY gram it shares is a stop-gram (df > max_df). The
    default (None) stays exact so the DuckDB oracle matches bit-for-bit."""
    grams = doc_grams(df, n, text_col).withColumn("n_grams", F.size("grams"))
    inv = grams.select("doc_id", "n_grams", F.explode("grams").alias("gram"))
    if max_df is not None:
        rare = inv.groupBy("gram").count().where(F.col("count") <= max_df).select("gram")
        inv = inv.join(rare, "gram", "left_semi")
    a = inv.alias("a")
    b = inv.alias("b")
    joined = a.join(
        b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if max_df is not None:
        # candidates-only: the pruned join just NAMES suspect pairs; the
        # exact shared-gram count comes from an intersect over the full
        # per-doc gram arrays (grams shuffled by doc_id — O(corpus), far
        # smaller than the join output the exact mode aggregates)
        cand = joined.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).distinct()
        ga = grams.select(
            F.col("doc_id").alias("doc_a"), F.col("grams").alias("_ga"),
            F.col("n_grams").alias("na"),
        )
        gb = grams.select(
            F.col("doc_id").alias("doc_b"), F.col("grams").alias("_gb"),
            F.col("n_grams").alias("nb"),
        )
        shared = (
            cand.join(ga, "doc_a").join(gb, "doc_b")
            .withColumn("shared", F.size(F.array_intersect("_ga", "_gb")))
            .drop("_ga", "_gb")
        )
    else:
        shared = joined.groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        ).agg(F.count("*").alias("shared"))
    return (
        shared.withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# posting lists longer than this are pruned by the scale entry point
# before the inverted-index self-join. At web scale a gram shared by D
# documents contributes D^2/2 candidate pairs to the join; ubiquitous
# boilerplate grams (df ~ corpus size) make the exact mode quadratic.
NGRAM_MAX_DF_AT_SCALE = 10_000


def ngram_jaccard_pairs_at_scale(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    max_df: int = NGRAM_MAX_DF_AT_SCALE,
) -> DataFrame:
    """``ngram_jaccard_pairs`` with the stop-gram cap ON by default — the
    pipeline entry point for corpus-scale runs (the bare function's
    ``max_df=None`` default stays exact for the DuckDB oracle).

    Miss bound: a pair can be missed ONLY if *every* gram it shares occurs
    in more than ``max_df`` documents. A pair at Jaccard >= t shares at
    least t/(1+t) * (na+nb) grams, so a missed pair's entire overlap is
    corpus-ubiquitous boilerplate; genuine near-duplicates share rare
    content grams (df << max_df) and are found regardless of how common
    their boilerplate is. Reported jaccard for *found* pairs is exact —
    pruning only removes candidate-generating grams, the verification
    recomputes the true ratio from full gram sets."""
    return ngram_jaccard_pairs(df, threshold, n=n, text_col=text_col, max_df=max_df)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def doc_grams(
    df: DataFrame, n: int = 3, text_col: str = "text", with_bands: bool = False
) -> DataFrame:
    """(doc_id, grams) materialized once — the gram source of n-gram
    Jaccard (index, stop-gram count, verification) and of MinHash
    (signature stage, verification).

    One Arrow pass replaces the Catalyst higher-order-function expression
    (transform/filter/slice are interpreted, not codegen'd — they were the
    single hottest stage of the whole battery): tokenization is C++
    (pyarrow utf8_lower + regex split — same semantics as normalize_text +
    split), each DISTINCT token is hashed once per task (blake2b-8,
    memoized across batches), and shingle hashes + per-doc dedup are
    vectorized numpy (splitmix-style mixing, lexsort adjacent-dedup).
    Gram hashes are deterministic functions of token strings, so Jaccard
    over hash sets still equals Jaccard over the DuckDB oracle's string
    grams modulo 64-bit collisions.

    ``with_bands`` adds MinHash's ``bands`` column: the BANDS LSH band
    buckets of each doc's gram set (``_minhash_bands``), computed in the
    same Arrow batch, so MinHash pays one Python pass. n-gram Jaccard
    leaves it off and never pays for the permutations.

    The input fans out to cluster width only through ``_fan_out_if_heavy``:
    a small under-partitioned input shingles in one task, with no shuffle.

    The pin is eager: the Arrow pass runs as one job here, before any
    consumer plan exists. A lazy pin is truncated at the end of whichever
    consumer job finishes first, while sibling stages of the same query
    (the other side of a join, the LSH groupBy) may still run tasks of the
    old lineage; their metric updates then reach accumulators that were
    already unregistered (DAGScheduler "Failed to update accumulator"
    errors)."""
    df = _fan_out_if_heavy(df)
    id_type = df.schema["doc_id"].dataType.simpleString()
    out_names = ["doc_id", "grams"] + ["bands"] * with_bands
    schema = ", ".join([f"doc_id {id_type}"] + [f"{c} array<bigint>" for c in out_names[1:]])

    def grams_of(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        from hashlib import blake2b

        P1, P2 = GOLD, np.uint64(0xC2B2AE3D27D4EB4F)
        vocab: dict[str, int] = {}  # token -> u64 hash, memoized per task

        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            toks = pc.split_pattern_regex(
                pc.utf8_lower(batch.column(text_col)), pattern=r"\s+"
            )
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            # .values, not .flatten(): offsets index the raw values buffer,
            # and flatten() drops null lists' slots out of alignment
            flat = toks.values
            offs = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # hash each distinct token once; gather back over the flat array
            dic = flat.dictionary_encode()
            uniq = dic.dictionary.to_pylist()
            uh = np.fromiter(
                (
                    int.from_bytes(
                        blake2b((t or "").encode(), digest_size=8).digest(), "little"
                    )
                    if (h := vocab.get(t or "")) is None
                    else h
                    for t in uniq
                ),
                dtype=np.uint64,
                count=len(uniq),
            )
            for t, h in zip(uniq, uh):
                vocab[t or ""] = int(h)
            idx = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            h_flat = uh[idx] if len(idx) else np.empty(0, dtype=np.uint64)
            # drop empty tokens (split artifacts of leading/trailing space)
            nonempty = np.array(
                pc.fill_null(pc.not_equal(flat, ""), False).to_numpy(
                    zero_copy_only=False
                ),
                dtype=bool,
            ) if len(idx) else np.empty(0, dtype=bool)
            h_flat = h_flat[nonempty]
            # per-doc nonempty-token counts via prefix-sum differences:
            # exact for empty/null segments anywhere in the batch, unlike
            # reduceat whose index clipping shifts boundaries when trailing
            # rows have zero raw tokens (null text)
            cs = np.concatenate(([0], np.cumsum(nonempty, dtype=np.int64)))
            t_counts = cs[offs[1:]] - cs[offs[:-1]]
            starts = np.concatenate(([0], np.cumsum(t_counts)[:-1]))

            # full shingle windows over the compacted hash stream
            total = len(h_flat)
            if total >= n:
                g = h_flat[: total - n + 1] * P1
                for j in range(1, n):
                    g = _mix(g ^ h_flat[j : total - n + 1 + j] * P2)
            else:
                g = np.empty(0, dtype=np.uint64)
            # a window is valid if it lies inside one doc with T >= n
            tok_doc = np.repeat(np.arange(nb, dtype=np.int64), t_counts)
            tok_pos = np.arange(total, dtype=np.int64) - starts[tok_doc] if total else np.empty(0, dtype=np.int64)
            if total >= n:
                wdoc = tok_doc[: total - n + 1]
                wvalid = tok_pos[: total - n + 1] <= (t_counts[wdoc] - n)
                vg, vd = g[wvalid], wdoc[wvalid]
                order = np.lexsort((vg, vd))
                vg, vd = vg[order], vd[order]
                keep = np.ones(len(vg), dtype=bool)
                keep[1:] = (vd[1:] != vd[:-1]) | (vg[1:] != vg[:-1])
                vg, vd = vg[keep], vd[keep]
            else:
                vg = np.empty(0, dtype=np.uint64)
                vd = np.empty(0, dtype=np.int64)
            # short docs (T < n): single fallback gram = fold of the whole
            # token-hash sequence (matches the oracle's single joined gram)
            short = np.nonzero(t_counts < n)[0]
            sg = np.empty(len(short), dtype=np.uint64)
            for k, d in enumerate(short):
                acc = P1
                for h in h_flat[starts[d] : starts[d] + t_counts[d]]:
                    acc = _mix(acc ^ h * P2)
                sg[k] = acc
            all_d = np.concatenate((vd, short))
            all_g = np.concatenate((vg, sg))
            order = np.argsort(all_d, kind="stable")
            all_d, all_g = all_d[order], all_g[order]
            counts = np.bincount(all_d, minlength=nb)
            g_offs = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
            cols = [
                batch.column("doc_id"),
                pa.ListArray.from_arrays(pa.array(g_offs), pa.array(all_g.view(np.int64))),
            ]
            if with_bands:
                bk = _minhash_bands(all_g, g_offs)
                b_offs = np.arange(0, bk.size + 1, BANDS, dtype=np.int32)
                cols.append(pa.ListArray.from_arrays(
                    pa.array(b_offs), pa.array(bk.reshape(-1).view(np.int64))))
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return (
        df.select("doc_id", text_col)
        .mapInArrow(grams_of, schema=schema)
        .localCheckpoint(eager=True)
    )


def _minhash_bands(grams, offsets):
    """(docs, BANDS) uint64 LSH band buckets of the uint64 gram hashes
    between consecutive ``offsets`` (one doc per segment).

    The NUM_PERM permutation minima are a numpy matrix op over the Arrow
    list buffers (segmented min via ``np.minimum.reduceat`` — no per-row
    Python, no 64x Catalyst expression blowup, which cost ~10x the rest of
    the query battery); band b folds its NUM_PERM // BANDS signature rows
    with the splitmix64 mixer from seed ``(b + 1) * GOLD``. A doc with no
    grams has an all-ones signature."""
    seeds = (np.arange(NUM_PERM, dtype=np.uint64) + np.uint64(1)) * GOLD
    starts, lens = offsets[:-1], np.diff(offsets)
    nonempty = lens > 0
    sig = np.full((NUM_PERM, len(lens)), np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    if nonempty.any():
        for i in range(NUM_PERM):
            sig[i, nonempty] = np.minimum.reduceat(_mix(grams + seeds[i]), starts[nonempty])
    sig = sig.reshape(BANDS, NUM_PERM // BANDS, -1)
    acc = np.repeat(seeds[:BANDS, None], len(lens), axis=1)
    for r in range(sig.shape[1]):
        acc = _mix(acc ^ sig[:, r])
    return acc.T


def minhash_lsh_candidates(
    df: DataFrame, n: int = 3, text_col: str = "text", grams: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs sharing at least one LSH band bucket. ``grams``, when
    given, is ``doc_grams(df, n, text_col, with_bands=True)`` output: its
    ``bands`` column is exploded to (band, bucket) rows in the JVM."""
    if grams is None:
        grams = doc_grams(df, n, text_col, with_bands=True)
    elif "bands" not in grams.columns:
        raise ValueError(
            "minhash_lsh_candidates: grams= has no 'bands' column; build it with "
            "doc_grams(df, n, text_col, with_bands=True)"
        )
    bands = grams.select("doc_id", F.posexplode("bands").alias("band", "bucket"))
    # r6: one shuffle instead of two — the previous shape self-joined the
    # band table (each side shuffled + sorted O(docs x bands) rows); this
    # groups each (band, bucket) once with map-side partial aggregation
    # and emits the intra-bucket pairs from the (tiny) collision groups.
    # Same candidate set (pairs sharing >= 1 band bucket), plan-cheaper:
    # sf1.0 measured 1.15 s (SortMergeJoin) -> 0.68 s.
    groups = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    return (
        groups.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame, threshold: float = 0.9, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — final near-dup pairs."""
    # grams and bands feed three consumers (the band groupBy and both
    # sides of the verify join); doc_grams pins them, so the Arrow pass
    # runs once
    grams = doc_grams(df, n, text_col, with_bands=True)
    cands = minhash_lsh_candidates(df, n, text_col, grams=grams)
    ga = grams.select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"),
        F.size("grams").alias("na"),
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"),
        F.size("grams").alias("nb"),
    )
    # r6 verify shape: |A∪B| computed as na + nb - |A∩B| (gram arrays are
    # distinct by construction): same integers, same rounded jaccard,
    # without materializing the union array per pair. The candidate side
    # is left unhinted — AQE broadcast-converts it at runtime when the
    # pair set is small (a forced F.broadcast build was measured to
    # serialize the whole candidate chain ahead of the verify job and
    # cost more than it saved at every size tried).
    isect = F.size(F.array_intersect("ga", "gb"))
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(isect / (F.col("na") + F.col("nb") - isect), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (Arrow-vectorized)
# ---------------------------------------------------------------------------


def simhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long): 64-bit bit-vote fingerprint. Tokens are
    hashed JVM-side (xxhash64 inside a transform — codegen, deterministic),
    so the Arrow stage sees only list<long> buffers: the per-bit vote is 64
    segmented sums over the flattened hash array (``np.add.reduceat``) —
    no per-token Python anywhere. Fans out like ``doc_grams``."""
    df = _fan_out_if_heavy(df)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    hashed = df.select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("th")
    )
    id_type = hashed.schema["doc_id"].dataType.simpleString()

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            th = batch.column("th")
            flat = th.flatten().to_numpy(zero_copy_only=False).astype(np.uint64)
            lens = pc.list_value_length(th).to_numpy(zero_copy_only=False).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            nonempty = lens > 0
            ne_starts = starts[nonempty]
            sig = np.zeros(n, dtype=np.uint64)
            for b in range(64):
                bit = (flat >> np.uint64(b)) & np.uint64(1)
                counts = np.zeros(n, dtype=np.int64)
                if len(ne_starts):
                    counts[nonempty] = np.add.reduceat(bit.astype(np.int64), ne_starts)
                votes = counts * 2 - lens
                sig |= (votes > 0).astype(np.uint64) << np.uint64(b)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(sig.view(np.int64))],
                names=["doc_id", "simhash"],
            )

    return hashed.mapInArrow(run, schema=f"doc_id {id_type}, simhash long")


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3, text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 16-bit chunks (a pair within
    hamming<=3 shares at least one identical chunk), verify exact distance."""
    sigs = simhash_signatures(df, text_col)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
