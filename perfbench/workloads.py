"""The benchmark's workloads.

Each workload prepares its inputs (timed as set-up), runs its measured
work, and checks every result against a reference the benchmark computes
independently. The engine is driven only through its public entry points;
spans opened here mark the benchmark's own operations (a bootstrap, a
pipeline op) and are no-ops unless the run is traced.

Workloads (see BENCHMARK.json and README.md for why each was chosen):
  bootstrap       cold ``Crawl.seed`` + ``run_bootstrap`` of a seeded
                  universe; a traced run then lands one change file and
                  lets ``Watch.run_available_now`` consume it
  corpus_dedup    the ``pipeline`` layer only: exact, MinHash-LSH and
                  n-gram Jaccard dedup plus text statistics
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs as INP

# Per-generation fixed cost (Spark jobs, commits) dominates at every size
# the time budget affords, so inputs are small: a bootstrap run is about
# 60 s and a corpus_dedup run about 40 s on 4 quiet cores (README.md).
CRAWL_DOCS = 12
CHANGES = 8  # changes in the traced run's watch batch
CORPUS_DOCS = 150
# corpus_dedup's first pass is cold and counted as set-up; at least this
# many warm passes follow it, more while --seconds lasts
WARM_PASSES = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    sample_rss: object  # callable, records the process-tree peak RSS


@dataclass
class Outcome:
    setup_s: float = 0.0  # set-up after the Spark session has started
    docs: int = 0  # documents through the throughput-timed work ...
    docs_s: float = 0.0  # ... and the seconds it took
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str, ops: int = 1) -> None:
        """A failed output check fails the ``ops`` operations it covers."""
        if not ok:
            self.failed += ops
            self.problems.append(what)


def _fresh_dir(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.work, name)
    os.makedirs(path)
    return path


def snapshot_writes(tables, since_ms: int) -> dict[str, int]:
    """Commits, data files and bytes written by ``tables`` after
    ``since_ms``, from their snapshot histories."""
    from npm_search_spark.tables.snaptable import _local_path

    commits = files = nbytes = 0
    for t in tables:
        prev: set[str] = set()
        for snap in t.history():
            cur = set(snap.files)
            if snap.timestamp_ms >= since_ms:
                commits += 1
                for f in cur - prev:
                    files += 1
                    p = _local_path(f)
                    nbytes += os.path.getsize(p) if os.path.exists(p) else 0
            prev = cur
    return {"commits": commits, "files_written": files, "bytes_written": nbytes}


# ---------------------------------------------------------------------------
# bootstrap
# ---------------------------------------------------------------------------


def bootstrap(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from npm_search_spark.frontier import Crawl

    out, spark, tr = Outcome(), ctx.spark, ctx.tracer
    rows = INP.universe_rows(ctx.seed, CRAWL_DOCS)
    out.info["input_digest"] = INP.digest(rows)
    t0 = time.perf_counter()
    universe = INP.materialize_universe(spark, rows, _fresh_dir(ctx, "universe"))
    out.setup_s = time.perf_counter() - t0
    ctx.sample_rss()

    t_boot = time.time()
    crawl = Crawl(
        spark, os.path.join(ctx.work, "crawl"), universe, 10_000_000,
        budget_multiplier=600, transient_modulus=0,
    )
    t0 = time.perf_counter()
    with tr.span("bench.bootstrap"):
        crawl.seed(universe["raw_docs"].select("doc_id"))
        gens = crawl.run_bootstrap(max_generations=40, log=None)
    # every doc ends as a package or a registry not_found (checked below);
    # counting docs, not packages, keeps the seed's share of synthetic 404s
    # out of the rate
    out.docs, out.docs_s = CRAWL_DOCS, time.perf_counter() - t0
    ctx.sample_rss()
    out.attempted += len(gens)
    pkgs = sorted(
        tuple(r) for r in crawl.packages.read(spark)
        .select("objectID", "version", "changelogFilename", "downloadsLast30Days").collect()
    )
    out.info["packages_digest"] = INP.digest(pkgs)
    n_nf = (
        crawl.not_found.read(spark).where(F.col("kind") == "registry_doc")
        .select("doc_id").distinct().count()
        if crawl.not_found.exists() else 0
    )
    out.check(len(pkgs) + n_nf == CRAWL_DOCS,
              f"packages {len(pkgs)} + not_found {n_nf} != docs {CRAWL_DOCS}", len(gens))
    # gc_terminal drops finished rows, so a drained frontier holds no live
    # row, and no seen URL can still be pending or retrying
    live = crawl.frontier.read(spark).where(F.col("state").isin("pending", "retry")).count()
    out.check(live == 0, f"frontier not drained: {live} live rows")
    out.info.update(generations=len(gens), packages=len(pkgs), bootstrap_s=out.docs_s)

    if tr.enabled:
        _watch_batch(ctx, crawl, out)
        tr.count("seen.table_files", len(crawl.seen.table.snapshot().files))
        for k, v in snapshot_writes(
            [crawl.frontier, crawl.packages, crawl.one_time, crawl.not_found, crawl.seen.table],
            int(t_boot * 1000),
        ).items():
            tr.count(f"snaptable.{k}", v)
    return out


def _watch_batch(ctx: Ctx, crawl, out: Outcome) -> None:
    """One closed-loop watch batch: a change file lands and
    ``Watch.run_available_now`` consumes it. Only traced runs do this, so
    the watch's layers (state commit, merge_delete, the stream query) are
    traced; the untraced run's time goes to the bootstrap it measures."""
    from pyspark.sql import functions as F

    from npm_search_spark.streaming.watch import Watch

    tr = ctx.tracer
    batch = INP.change_file(ctx.seed, CRAWL_DOCS, CHANGES)
    changes_dir = _fresh_dir(ctx, "changes")
    watch = Watch(crawl, changes_dir, os.path.join(ctx.work, "watch_ckpt"))
    tr.count("watch.changes", len(batch))
    tr.count("watch.unique_ids", len({r[1] for r in batch}))
    out.attempted += 1
    INP.land_change_file(batch, changes_dir, "batch-0000")
    landed = time.time()
    try:
        watch.run_available_now()
    except Exception as exc:  # noqa: BLE001 — a failed batch is counted, not fatal
        out.check(False, f"watch batch raised {type(exc).__name__}: {exc}")
        return
    # landing to the commit of state.seq (the state pointer's mtime)
    out.info["watch_batch_s"] = os.stat(os.path.join(crawl.state.root, "_current")).st_mtime - landed
    ctx.sample_rss()
    st = crawl.state.load()
    out.check(st is not None and st.seq == batch[-1][0],
              f"watch batch: state.seq {st and st.seq} != {batch[-1][0]}")
    last = {ident: deleted for _, ident, deleted, _ in batch}
    gone = [i for i, d in last.items() if d]
    if gone:
        left = crawl.packages.read(ctx.spark).where(F.col("objectID").isin(gone)).count()
        out.check(left == 0, f"{left} deleted packages still present")


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

DEDUP_THRESHOLD = 0.8


def corpus_dedup(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from npm_search_spark.pipeline import dedup as D
    from npm_search_spark.pipeline.textstats import text_stats

    out, spark, tr = Outcome(), ctx.spark, ctx.tracer
    rows, planted = INP.corpus_rows(ctx.seed, CORPUS_DOCS)
    out.info["input_digest"] = INP.digest(rows)
    t0 = time.perf_counter()
    path = os.path.join(_fresh_dir(ctx, "corpus"), "documents")
    INP.write_parquet(rows, INP.CORPUS_ARROW, path)
    out.setup_s = time.perf_counter() - t0
    ctx.sample_rss()
    n_tokens = sum(len(t.lower().split()) for _, t in rows)
    exact_want = {tuple(g) for g in planted["exact"]}
    near_want = set(planted["near"])

    counts: list[tuple[int, int, int]] = []

    def one_pass() -> float:
        """All four ops once, each forced by an action; checked; timed."""
        rep = len(counts)
        docs = spark.read.parquet(path)
        t0 = time.perf_counter()
        with tr.span("bench.dedup_pass"):
            with tr.span("pipeline.exact"):
                groups = {tuple(r["doc_ids"]) for r in D.exact_duplicates(docs).collect()}
            with tr.span("pipeline.minhash"):
                mh = {(r["doc_a"], r["doc_b"])
                      for r in D.minhash_lsh_dedup_pairs(docs, DEDUP_THRESHOLD).collect()}
            with tr.span("pipeline.ngram_jaccard"):
                ng = {(r["doc_a"], r["doc_b"])
                      for r in D.ngram_jaccard_pairs(docs, DEDUP_THRESHOLD).collect()}
            with tr.span("pipeline.text_stats"):
                st = text_stats(docs).agg(
                    F.count("*").alias("n"), F.sum("n_tokens").alias("tok")).first()
        dt = time.perf_counter() - t0
        ctx.sample_rss()
        out.attempted += 4
        out.check(exact_want <= groups, f"pass {rep}: planted exact groups missing")
        out.check(near_want <= mh, f"pass {rep}: minhash missed {len(near_want - mh)} planted pairs")
        out.check(near_want <= ng and mh <= ng,
                  f"pass {rep}: n-gram pairs miss {len(near_want - ng)} planted, "
                  f"{len(mh - ng)} minhash pairs")
        out.check((st["n"], st["tok"]) == (len(rows), n_tokens),
                  f"pass {rep}: text_stats {(st['n'], st['tok'])} != {(len(rows), n_tokens)}")
        counts.append((len(groups), len(mh), len(ng)))
        out.check(counts[-1] == counts[0], f"pass {rep}: counts {counts[-1]} != {counts[0]}")
        if tr.enabled and rep == 0:
            tr.count("pipeline.minhash.verified", len(mh))
        return dt

    # the first pass pays JIT, code generation and Python worker start-up:
    # it is set-up, so a change that moves work into it still shows
    cold_s = one_pass()
    out.setup_s += cold_s
    warm: list[float] = []
    t_measure = time.time()
    while len(warm) < WARM_PASSES or time.time() - t_measure < ctx.seconds:
        warm.append(one_pass())

    if tr.enabled:
        # untimed: the candidate set the minhash verify step starts from
        docs = spark.read.parquet(path)
        tr.count("pipeline.minhash.candidates", D.minhash_lsh_candidates(docs).count())
    out.docs, out.docs_s = len(rows), statistics.median(warm)
    out.info.update(cold_pass_s=cold_s, warm_passes_s=warm, docs=len(rows),
                    exact_groups=counts[0][0], minhash_pairs=counts[0][1],
                    ngram_pairs=counts[0][2])
    return out


WORKLOADS = {"bootstrap": bootstrap, "corpus_dedup": corpus_dedup}
