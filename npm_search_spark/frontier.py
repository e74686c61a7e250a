"""URL frontier + fetch scheduler: the engine's core.

Re-creates the reference's crawl machinery — Algolia queue indices walked
facet-by-facet by promise pools (src/npm/Prefetcher.ts, src/indexers/*) —
as a generation loop of pure DataFrame stages over SnapTables:

  schedule   P8 predicate (state='pending' AND next_attempt_at<=now) +
             T7 politeness budget per host + W4 priority order
  dedup      URL-seen anti-join (J8) via seen.SeenSet
  fetch      synthetic (join against the generated universe) — the real
             deployment swaps in an iterator mapInPandas HTTP stage
  process    per-kind: registry_doc -> formatPkg+enrich+MERGE + file_list
             hop; file_list -> span metadata patch + changelog-probe hop;
             changelog_probe -> deterministic first-hit-wins (L4)
  commit     frontier/packages/seen/one_time updates + state row with
             snapshot ids, metrics, per-partition lineage

Scale design (10^10 frontier):
- Politeness top-k is a distributed exact threshold top-k (per-host
  priority histograms collected to the driver, then a narrow filter of
  pending plus a window over one boundary bin per host) — the frontier
  has only ~5 hosts, so a naive per-host window would funnel 10^10 rows
  through ~5 tasks; pending is scanned but never shuffled (the explicit
  skew handling the north rule demands).
- After seeding, the frontier table is only ever touched via pending-state
  filters (pruned parquet scans), file-granular MERGE of the scheduled
  batch (plan-asserted: no generation rewrites the whole table), appends
  of new hop rows, and — with gc_terminal — MERGE-DELETE of
  successfully-processed rows so table bytes track the active set, the way
  the reference GCs isProcessed:1 queue rows (MainWatchIndexer.ts:51-61).
- All joins against the packages table go through doc_id equi-joins;
  scheduled batches are micro-batch-sized, so they broadcast.

Crawl-order determinism: within a generation the scheduled set is exactly
the top-budget_h rows per host under the total order
(priority DESC, url ASC) — a deterministic replacement for the reference's
promise-pool nondeterminism, verified against a straight-line simulator in
tests (SURVEY.md §4(c)).
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .enrich import enrich_packages, rank_jsdelivr_hits
from .format_pkg import format_packages_df
from .functions import spans as SP
from .functions.urls import canonicalize_url, url_host
from .schema import FINAL_PACKAGE, FRONTIER, ONE_TIME, QUARANTINE
from .seen import SeenSet
from .sources.synthetic import FILE_OPTIONS
from .state import CrawlState, StateStore
from .tables import FILE_COL, Pin, SnapTable, source_files

# per-host request budgets, req/s (reference src/npm/index.ts:52-53,
# src/changelog.ts:29,39,50; jsDelivr uncapped in the reference -> registry-like)
DEFAULT_BUDGETS = {
    "registry.npmjs.org": 6,
    "api.npmjs.org": 6,
    "cdn.jsdelivr.net": 6,
    "raw.githubusercontent.com": 20,
    "gitlab.com": 10,
    "bitbucket.org": 10,
}
MAX_RETRIES = 4          # reference src/config.ts:179 (retryMax)
BACKOFF_CAP_S = 60       # reference src/config.ts:181-182
HOST_PAUSE_S = 60        # 429/5xx: pause the whole host queue 1 min before
                         # retrying (reference src/npm/index.ts:213-227,
                         # src/changelog.ts:126-131) — a distinct retry
                         # class: does NOT burn a retry attempt
BOOTSTRAP_REDO_MS = 30 * 86_400_000  # redo the full bootstrap after 30 days
                                     # (reference src/config.ts:173)


def backoff_seconds(retries_col):
    """(retries+1)^3 seconds capped at 60 (reference src/utils/wait.ts:5-14)."""
    return F.least(F.pow(retries_col + 1, 3), F.lit(BACKOFF_CAP_S)).cast("long")


# steady-state crawls reuse the histogram scheduler's per-host priority
# bounds across generations (skipping its per-host stats job); every this
# many generations the hints are dropped and re-derived — stale hints stay
# EXACT, they only unbalance the bins as the priority range drifts
HINT_REFRESH_GENS = 16


def politeness_schedule(
    pending: DataFrame,
    budgets: dict[str, int] | None = None,
    default_budget: int = 6,
    budget_multiplier: int = 1,
    n_partitions: int | None = None,
    hist_hints: dict[str, tuple[float, float]] | None = None,
    hist_counts: dict[str, dict[int, int]] | None = None,
) -> DataFrame:
    """Exact top-budget rows per host under (priority DESC, url ASC) — the
    T7 politeness-bucket operator — as a histogram threshold top-k.

    Scale design: a naive Window.partitionBy(host) funnels each hot host's
    entire pending set (10^9+ rows for 3 structurally hot hosts) through a
    single partition — the frontier's skew problem. Instead, two tiny
    agg-collect scans (per-host count/min/max, then a per-host priority
    histogram) let the driver compute, per host, the exact priority bin
    where the budget boundary falls. Winners are then a narrow FILTER of
    pending (bins above the boundary) plus an exact window over the one
    boundary bin (~count/n_bins rows) — the 10^10-row pending set is
    scanned but NEVER shuffled. Pure JVM codegen throughout: an earlier
    Arrow top-k pass measured slower (32M rows: 20.2 s vs 12.2 s @2 cores)
    and scaled worse (0.54 vs 0.83).

    Degenerate-boundary guard: a boundary bin above HIST_BOUNDARY_CAP rows
    (massively duplicated priorities) would make that window a single-task
    sort, so those bins alone are ranked by a range-partitioned sort
    (_schedule_range_topk) over the checkpointed boundary rows.

    ``hist_hints``: per-host priority bounds from a previous tick — skips
    the stats scan while staying exact. ``hist_counts`` (requires
    hist_hints): the previous tick's carried bin-count ledger — skips the
    histogram scan too, so a steady-state tick runs ONE pending scan (see
    _schedule_histogram_topk).

    The result is the exact top-budget per host, independent of input
    partitioning — deterministic replay (ties broken by url)."""
    # None -> the reference's per-host budgets; an explicit {} means "no
    # per-host overrides, default_budget for every host" (an `or` here
    # would silently turn {} into DEFAULT_BUDGETS)
    budgets = DEFAULT_BUDGETS if budgets is None else budgets

    def host_budget(host: str) -> int:
        return budgets.get(host, default_budget) * budget_multiplier

    return _schedule_histogram_topk(
        pending, host_budget, n_partitions,
        hist_hints=hist_hints, hist_counts=hist_counts,
    )


# a host's boundary bin larger than this is ranked by the range-sorted
# fallback instead of a window (funnel guard — one task sorts the bin)
HIST_BOUNDARY_CAP = 262_144
HIST_N_BINS = 4096
# above this many hosts the histogram scheduler stops embedding per-host
# parameters as create_map literals (O(hosts) plan size) and broadcast-joins
# a tiny host-params DataFrame instead — same classification expression,
# bounded plan at unbounded host cardinality
HIST_MAP_MAX_HOSTS = 512


def _host_subset(df: DataFrame, hosts) -> DataFrame:
    """Host-membership filter with a bounded plan: a literal isin for small
    host lists, a broadcast semi-join above HIST_MAP_MAX_HOSTS."""
    hosts = list(hosts)
    if len(hosts) <= HIST_MAP_MAX_HOSTS:
        return df.where(F.col("host").isin(hosts))
    hdf = df.sparkSession.createDataFrame([(hh,) for hh in hosts], "host string")
    return df.join(F.broadcast(hdf), "host", "left_semi")


_INT_MIN = -(2**31)


def _bin_width(mn: float, mx: float, n_bins: int) -> float:
    return max((mx - mn) / n_bins, 1e-12)


def _priority_bin(mn, width, n_bins: int):
    """The one definition of the per-host priority->bin formula, given the
    host's bin origin ``mn`` and ``width`` as columns (literal-map lookups
    or broadcast-joined columns). NULL priorities coalesce to the host
    minimum (bin 0), where the boundary window's (priority DESC NULLS
    LAST, url) order handles them exactly. Spark's `least` SKIPS nulls, so clamping a null floor
    with least(floor, n_bins-1) would silently return n_bins-1 for a host
    with no bounds — gate on the null origin explicitly so unknown hosts
    yield a NULL bin and route through the stats-first path.

    The floor is clamped below at the int minimum: a row far under a
    stale, near-zero-width hint (a host whose priorities were all equal)
    would otherwise overflow the ANSI int cast and fail the job. The
    optimizer can also evaluate a host-specialized copy of this formula
    on other hosts' rows (constraints inferred through the checkpointed
    candidates, ahead of the host filter). Clamping keeps the bin
    monotone in priority, so the top-k stays exact."""
    return (
        F.when(mn.isNull(), F.lit(None))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor((F.coalesce(F.col("priority"), mn) - mn) / width),
                    F.lit(_INT_MIN),
                ),
                F.lit(n_bins - 1),
            )
        )
        .cast("int")
    )


def histogram_bin_expr(
    bounds: dict[str, tuple[float, float]], n_bins: int = HIST_N_BINS
):
    """The scheduler's per-host priority->bin expression for a given bounds
    table, with the bounds embedded as literal maps — exposed so a caller
    can reason about the winner set in bin space (e.g. the drain retires
    scheduled rows by threshold predicate instead of materializing an
    anti-join)."""
    mn_map = F.create_map(*[F.lit(x) for hh, (mn, _) in bounds.items() for x in (hh, mn)])
    width_map = F.create_map(
        *[
            F.lit(x)
            for hh, (mn, mx) in bounds.items()
            for x in (hh, _bin_width(mn, mx, n_bins))
        ]
    )
    h = F.col("host")
    return _priority_bin(mn_map[h], width_map[h], n_bins)


def _schedule_histogram_topk(
    pending: DataFrame,
    host_budget,
    n_partitions: int | None,
    n_bins: int = HIST_N_BINS,
    hist_hints: dict[str, tuple[float, float]] | None = None,
    hist_counts: dict[str, dict[int, int]] | None = None,
) -> DataFrame:
    """Exact threshold top-k without shuffling pending.

    Job 1 collects per-host (count, min, max) of priority — O(hosts) rows.
    Job 2 collects a per-host histogram over ``n_bins`` uniform priority
    bins — O(hosts x n_bins) rows. The driver walks each histogram from the
    top to find the boundary bin B: every row in a bin above B is a definite
    winner; the remaining (budget - definite) winners are the exact top of
    bin B under (priority DESC, url ASC). One narrow filter of pending
    checkpoints the candidates (bins >= B); the winners are the definite
    rows unioned with a tiny window over bin B, both carved from that
    checkpoint — the pending set is scanned, never shuffled. Bin
    membership is decided by the same expression (_priority_bin) in both
    the histogram job and the final plan, so float edge cases cannot
    misclassify a row across the two.

    ``hist_hints`` {host: (priority_min, priority_max)} skips job 1: a
    steady-state caller (the generation loop) reuses the previous tick's
    bounds — stale bounds stay EXACT (out-of-range rows land in clamped /
    negative bins, classified identically in both the histogram job and
    the final plan), they only unbalance the bins. Hosts missing from the
    hints are detected in the histogram job (null bin) and scheduled
    through the stats-first path. The result carries two attributes:
    ``scheduled_count`` (the exact winner count, known driver-side — no
    count job needed) and ``hist_hints`` (bounds to pass back next tick).

    ``hist_counts`` {host: {bin: count}} — the carried bin-count ledger —
    skips job 2 as well: a steady-state caller whose pending set changed
    ONLY by retiring the rows this scheduler picked (plus deltas the
    caller binned itself) passes back the ``hist_counts`` attribute of the
    previous result, and the tick runs ONE pending scan (the candidate
    materialization) instead of two. The driver knows the winner set
    exactly in bin space — {bin > B} all scheduled, bin B loses
    ``remaining`` rows — so the post-schedule ledger is pure arithmetic.
    Requires ``hist_hints`` (counts are meaningless without the bounds
    that define the bins) and a caller that guarantees the ledger covers
    every pending host: hosts absent from the ledger are invisible to a
    counts-carried tick.
    """
    if hist_counts is not None and hist_hints is None:
        raise ValueError("hist_counts requires the hist_hints that define its bins")
    if hist_hints is None:
        stats = pending.groupBy("host").agg(
            F.count("*").alias("n"),
            F.min("priority").alias("mn"),
            F.max("priority").alias("mx"),
        ).collect()
        if not stats:
            out = pending.limit(0)
            out.scheduled_count = 0
            out.hist_hints = {}
            out.hist_thresholds = {}
            out.hist_counts = {}
            out.consumed_hosts = []
            return out
        take_all = [r["host"] for r in stats if r["n"] <= host_budget(r["host"])]
        take_all_n = {
            r["host"]: r["n"] for r in stats if r["n"] <= host_budget(r["host"])
        }
        need = [r for r in stats if r["n"] > host_budget(r["host"])]
        if not need:
            out = pending
            out.scheduled_count = sum(take_all_n.values())
            out.hist_hints = {
                r["host"]: (float(r["mn"]), float(r["mx"])) for r in stats
            }
            out.hist_thresholds = {}
            out.hist_counts = {}  # every pending row was scheduled
            out.consumed_hosts = list(take_all)
            return out
        bounds = {r["host"]: (float(r["mn"]), float(r["mx"])) for r in need}
    else:
        take_all, take_all_n, need = [], {}, None
        bounds = dict(hist_hints)

    # per-host uniform bin assignment (_priority_bin, shared by the
    # histogram job and the final plan). Host-cardinality guard: a handful
    # of hosts embeds the params as create_map literals (no join in the
    # plan at all); above HIST_MAP_MAX_HOSTS the same classification runs
    # off a broadcast-joined host-params frame so the plan stays bounded at
    # unbounded cardinality.
    h = F.col("host")
    spark = pending.sparkSession
    many_hosts = len(bounds) > HIST_MAP_MAX_HOSTS
    if many_hosts:
        params = spark.createDataFrame(
            [
                (hh, mn, _bin_width(mn, mx, n_bins))
                for hh, (mn, mx) in bounds.items()
            ],
            "host string, _mn double, _width double",
        )

        def with_bin(df: DataFrame) -> DataFrame:
            j = df.join(F.broadcast(params), "host", "left")
            return j.withColumn(
                "_bin", _priority_bin(F.col("_mn"), F.col("_width"), n_bins)
            ).drop("_mn", "_width")

    else:
        _bexpr = histogram_bin_expr(bounds, n_bins)

        def with_bin(df: DataFrame) -> DataFrame:
            return df.withColumn("_bin", _bexpr)

    by_host: dict[str, dict[int, int]] = {}
    unknown: dict[str, int] = {}  # hosts absent from the hints (null bins)
    if hist_counts is not None:
        # counts-carry: the caller's ledger IS the histogram — no scan.
        # The ledger's contract (covers every pending host, bins defined
        # by hist_hints) makes unknown-host detection moot here.
        by_host = {hh: dict(bins) for hh, bins in hist_counts.items() if bins}
        missing = set(by_host) - set(bounds)
        if missing:
            raise ValueError(
                f"hist_counts hosts missing from hist_hints bounds: {sorted(missing)[:5]}"
            )
    else:
        hist_src = pending if need is None else _host_subset(
            pending, [r["host"] for r in need]
        )
        # Arrow-collect: O(hosts x bins) rows (16k at 4096 bins) cross the
        # driver boundary as columnar batches instead of py4j Row objects
        # (r6 — measured ~0.15 s off the cold tick at 2M pending rows)
        hist = with_bin(hist_src).groupBy("host", "_bin").count().toArrow()
        for hh, bn, c in zip(
            hist.column("host").to_pylist(),
            hist.column("_bin").to_pylist(),
            hist.column("count").to_pylist(),
        ):
            if bn is None:
                unknown[hh] = unknown.get(hh, 0) + c
            else:
                by_host.setdefault(hh, {})[bn] = c
    need_hosts = sorted(by_host)
    thr_bin: dict[str, int] = {}
    remaining: dict[str, int] = {}
    boundary_n: dict[str, int] = {}
    n_definite = 0
    for hh in need_hosts:
        b = host_budget(hh)
        cum = 0
        bins_desc = sorted(by_host[hh], reverse=True)
        B = bins_desc[-1]
        for bn in bins_desc:
            c = by_host[hh][bn]
            # stop at the budget boundary, or at the lowest bin (hints
            # path: a host whose total fits its budget walks clean through)
            if cum + c >= b or bn == bins_desc[-1]:
                B = bn
                break
            cum += c
        thr_bin[hh] = B
        remaining[hh] = min(b - cum, by_host[hh][B])
        boundary_n[hh] = by_host[hh][B]
        n_definite += cum

    # ---- ONE pending scan materializes every candidate row ----------------
    # cand = take_all hosts' rows ∪ {bin >= B} of need hosts — definite AND
    # boundary together. The 10^10-row pending set is scanned ONCE; the
    # O(budget) candidate set is checkpointed, and definite/boundary are
    # carved out of the checkpointed rows without touching pending again
    # (the previous shape re-scanned pending for each of take_all, definite
    # and boundary — 3 full scans per generation). Per-row params travel as
    # _thr/_rem columns: literal maps for a handful of hosts, the broadcast
    # params frame above the cardinality guard.
    if many_hosts:
        pdf = spark.createDataFrame(
            [
                (hh, thr_bin.get(hh), remaining.get(hh))
                for hh in (*need_hosts, *take_all)
            ],
            "host string, _thr int, _rem long",
        )
        cand = (
            with_bin(pending)
            .join(F.broadcast(pdf), "host", "inner")
            .where(F.col("_thr").isNull() | (F.col("_bin") >= F.col("_thr")))
        )
    else:
        preds = []
        if take_all:
            preds.append(h.isin(take_all))
        if need_hosts:
            thr_map = F.create_map(
                *[F.lit(x) for hh, B in thr_bin.items() for x in (hh, B)]
            )
            preds.append(h.isin(need_hosts) & (F.col("_bin") >= thr_map[h]))
        pred = F.lit(False)
        for p in preds:
            pred = pred | p
        cand = with_bin(pending).where(pred)
        cand = cand.withColumn(
            "_thr", thr_map[h] if need_hosts else F.lit(None).cast("int")
        ).withColumn(
            "_rem",
            F.create_map(
                *[F.lit(x) for hh in need_hosts for x in (hh, remaining[hh])]
            )[h].cast("long")
            if need_hosts
            else F.lit(None).cast("long"),
        )
    cand = cand.localCheckpoint(eager=True)

    helper_cols = ["_bin", "_thr", "_rem"]
    # take_all hosts carry a null _thr (absent from thr_bin) — every one of
    # their rows is a definite winner
    definite = cand.where(
        F.col("_thr").isNull() | (F.col("_bin") > F.col("_thr"))
    ).drop(*helper_cols)

    # the boundary bins: exact top-(remaining) per host. Tiny by
    # construction (~count/n_bins rows per host); hosts whose boundary bin
    # degenerated (massively duplicated priorities) go through the
    # range-sorted fallback instead of a single-task window. Both carve
    # from the checkpointed candidates — never from pending.
    bdry_all = cand.where(F.col("_bin") == F.col("_thr"))
    small_hosts = [hh for hh in need_hosts if boundary_n[hh] <= HIST_BOUNDARY_CAP]
    big_hosts = [hh for hh in need_hosts if boundary_n[hh] > HIST_BOUNDARY_CAP]
    parts = [definite]
    if small_hosts:
        bdry = bdry_all if not big_hosts else _host_subset(bdry_all, small_hosts)
        w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
        parts.append(
            bdry.withColumn("_hrank", F.row_number().over(w))
            .where(F.col("_hrank") <= F.col("_rem"))
            .drop("_hrank", *helper_cols)
        )
    if big_hosts:
        parts.append(
            _schedule_range_topk(
                _host_subset(bdry_all, big_hosts).drop(*helper_cols),
                {hh: remaining[hh] for hh in big_hosts},
                n_partitions,
            )
        )
    n_unknown = 0
    if unknown:
        # hosts the hints didn't cover: schedule them through the
        # stats-first path on their (tiny) subset
        sub = _schedule_histogram_topk(
            _host_subset(pending, sorted(unknown)), host_budget, n_partitions, n_bins
        )
        n_unknown = sub.scheduled_count
        parts.append(sub)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # materialize the O(budget) winner set: every downstream consumer
    # (count, dedup, seen-add, state updates) reads the winners, not a
    # re-execution of the pending scan + boundary window
    out = out.localCheckpoint(eager=True)
    out.scheduled_count = (
        sum(take_all_n.values()) + n_definite + sum(remaining.values()) + n_unknown
    )
    out.hist_hints = dict(bounds)
    # winner-set description in bin space, for threshold-based retirement:
    # a host's scheduled rows are exactly {bin > B} ∪ {bin == B ∩ taken};
    # take_all hosts were scheduled entirely
    out.hist_thresholds = dict(thr_bin)
    # post-schedule bin-count ledger: what the caller's pending set holds
    # AFTER it retires this winner set — bins above B emptied, bin B down
    # by the boundary take, fully-drained hosts dropped. Valid as next
    # tick's hist_counts iff the caller's only other pending mutations are
    # deltas it bins itself (Crawl's maturity ledger / enqueue binning).
    new_counts: dict[str, dict[int, int]] = {}
    for hh, bins in by_host.items():
        B = thr_bin[hh]
        left = {bn: c for bn, c in bins.items() if bn < B}
        rem_at_b = bins[B] - remaining[hh]
        if rem_at_b > 0:
            left[B] = rem_at_b
        if left:
            new_counts[hh] = left
    out.hist_counts = new_counts
    out.consumed_hosts = list(take_all)
    if unknown:
        out.hist_thresholds.update(getattr(sub, "hist_thresholds", {}))
        out.consumed_hosts += getattr(sub, "consumed_hosts", [])
        out.hist_hints.update(getattr(sub, "hist_hints", {}))
        out.hist_counts.update(getattr(sub, "hist_counts", {}))
    return out


def _schedule_range_topk(
    rows: DataFrame, limits: dict[str, int], n_partitions: int | None
) -> DataFrame:
    """Exact top-``limits[host]`` rows per host under (priority DESC, url
    ASC) by a range-partitioned sort — the histogram scheduler's guard for
    degenerate boundary bins, where a per-host window would sort the whole
    bin in one task. Hosts absent from ``limits`` get no rows."""
    from pyspark import StorageLevel

    spark = rows.sparkSession
    n_part = n_partitions or spark.sparkContext.defaultParallelism * 2
    # 1. parallel global sort: range-partition by the schedule order. Each
    #    host's rows land in a contiguous run of partitions. Persisted
    #    (spill-able, lineage retained) so the offsets pass and the ranking
    #    pass see identical partition ids; released before returning.
    ranged = (
        rows.repartitionByRange(
            n_part, F.col("host"), F.desc("priority"), F.asc("url")
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # 2. tiny driver-side pass: per-(partition, host) counts -> cumulative
        #    offsets; partitions whose offset already reaches the host limit
        #    are pruned entirely (the window below only ever sees O(limit)
        #    rows, however big the input is).
        counts = ranged.groupBy("_pid", "host").count().collect()
        counts.sort(key=lambda r: (r["host"], r["_pid"]))
        offsets: list[tuple[int, str, int, int]] = []
        acc: dict[str, int] = {}
        for r in counts:
            off = acc.get(r["host"], 0)
            limit = limits.get(r["host"], 0)
            if off < limit:
                offsets.append((r["_pid"], r["host"], off, limit))
            acc[r["host"]] = off + r["count"]
        if not offsets:
            return rows.limit(0)
        # each surviving (partition, host) carries its offset and its host's
        # limit in one broadcast frame — bounded plan at any host count
        off_df = spark.createDataFrame(
            offsets, "_pid int, host string, _off long, _limit long"
        )
        # 3. exact rank on the surviving prefix partitions only; materialize
        #    the O(limit) winner set so the persisted input can be freed.
        w = Window.partitionBy("_pid", "host").orderBy(F.desc("priority"), F.asc("url"))
        return (
            ranged.join(F.broadcast(off_df), ["_pid", "host"])
            .withColumn("_grank", F.row_number().over(w) + F.col("_off"))
            .where(F.col("_grank") <= F.col("_limit"))
            .drop("_pid", "_off", "_limit", "_grank")
            .localCheckpoint(eager=True)
        )
    finally:
        ranged.unpersist()


def flag_robots(df: DataFrame, robots: DataFrame) -> DataFrame:
    """Annotate scheduled URLs with a ``_blocked`` flag from per-host
    robots.txt disallow prefixes (broadcast join + JVM-side exists) —
    the single-pass variant of :func:`apply_robots`."""
    path = F.regexp_replace(F.col("url"), r"^[a-z+]+://[^/]+", "")
    return (
        df.join(F.broadcast(robots.select("host", "disallow")), "host", "left")
        .withColumn(
            "_blocked",
            F.when(F.col("disallow").isNull(), F.lit(False)).otherwise(
                F.coalesce(
                    F.exists("disallow", lambda p: path.startswith(p)), F.lit(False)
                )
            ),
        )
        .drop("disallow")
    )


def apply_robots(df: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split scheduled URLs into (allowed, blocked) by per-host robots.txt
    disallow prefixes (north rule: politeness + robots). The rules table is
    per-host and tiny -> broadcast join; prefix match is a JVM-side
    higher-order exists over the disallow array."""
    path = F.regexp_replace(F.col("url"), r"^[a-z+]+://[^/]+", "")
    joined = df.join(
        F.broadcast(robots.select("host", "disallow")), "host", "left"
    )
    blocked_cond = F.col("disallow").isNotNull() & F.exists(
        "disallow", lambda p: path.startswith(p)
    )
    allowed = joined.where(~blocked_cond | F.col("disallow").isNull()).drop("disallow")
    blocked = joined.where(blocked_cond).drop("disallow")
    return allowed, blocked


def filter_new_urls(
    table: SnapTable,
    spark: SparkSession,
    additions: DataFrame,
    hosts: list[str] | None = None,
) -> DataFrame:
    """``additions`` minus rows whose url already exists in ``table`` —
    the enqueue-dedup check, key-pruned like the seen set's exact check.

    The naive form (additions LEFT ANTI table.urls) shuffles the whole
    frontier every enqueue — O(10^10) at scale. Here the big side is
    (1) file-pruned driver-side via manifest host stats (``hosts`` is the
    static host set of the hop kind being enqueued, so no extra driver
    action on the additions plan), then (2) STREAMED against the broadcast
    additions in a left-semi probe; the surviving dup urls (micro-batch-
    bounded) broadcast back into a left-anti on additions. The table is
    never shuffled, and with gc_terminal it is the active set besides."""
    snap = table.snapshot()
    if snap is None or not snap.files:
        return additions
    files = (
        table.files_matching("host", sorted(hosts)) if hosts else snap.files
    )
    if not files:
        return additions
    existing = spark.read.parquet(*files)
    if hosts:
        existing = existing.where(F.col("host").isin(list(hosts)))
    # no dedup on the broadcast side: duplicate urls in a semi-join's
    # build side cannot duplicate output rows, and the dedup would cost
    # an Exchange of the additions
    dup = existing.select("url").join(
        F.broadcast(additions.select("url")), "url", "left_semi"
    )
    out = additions.join(F.broadcast(dup), "url", "left_anti")
    if hosts:
        # the pruned probe only checked `hosts`; an addition row outside
        # that set would silently escape the dedup. Enforce the contract
        # in the returned plan itself (assert_true evaluates per row when
        # the output is consumed — no extra driver action): a row whose
        # host is outside the pruning list fails the enqueue loudly
        # instead of re-queuing a duplicate.
        in_hosts = F.col("host").isin(list(hosts))
        out = out.where(
            F.assert_true(
                in_hosts,
                F.concat(
                    F.lit("filter_new_urls: addition host outside pruning list: "),
                    F.coalesce(F.col("host"), F.lit("NULL")),
                ),
            ).isNull()
        )
    return out


def registry_url(name_col) -> "F.Column":
    return F.concat(F.lit("https://registry.npmjs.org/"), name_col)


def filelist_url(name_col, version_col) -> "F.Column":
    return F.concat(
        F.lit("https://cdn.jsdelivr.net/npm/"), name_col, F.lit("@"), version_col,
        F.lit("/flat"),
    )


def changelog_candidates(pkgs: DataFrame) -> DataFrame:
    """Explode the 18 candidate changelog URLs per package with a known git
    host (reference src/changelog.ts:162-186 + baseUrlMap builders).
    Returns (doc_id, url, host, rank)."""
    r = F.col("repository")
    base = (
        F.when(
            r["host"] == "github.com",
            F.concat(
                F.lit("https://raw.githubusercontent.com/"), r["user"], F.lit("/"),
                r["project"], F.lit("/"),
                F.when(r["path"] != "", F.regexp_replace(r["path"], "/tree/", ""))
                .otherwise(r["branch"]),
            ),
        )
        .when(
            r["host"] == "gitlab.com",
            F.concat(
                F.lit("https://gitlab.com/"), r["user"], F.lit("/"), r["project"],
                F.when(r["path"] != "", F.regexp_replace(r["path"], "tree", "raw"))
                .otherwise(F.concat(F.lit("/raw/"), r["branch"])),
            ),
        )
        .when(
            r["host"] == "bitbucket.org",
            F.concat(
                F.lit("https://bitbucket.org/"), r["user"], F.lit("/"), r["project"],
                F.when(r["path"] != "", F.regexp_replace(r["path"], "src", "raw"))
                .otherwise(F.concat(F.lit("/raw/"), r["branch"])),
            ),
        )
        .otherwise(F.lit(None))
    )
    cands = F.array(*[F.lit(x) for x in FILE_OPTIONS])
    out = (
        pkgs.where(r.isNotNull() & r["host"].isin("github.com", "gitlab.com", "bitbucket.org"))
        .select(
            F.col("objectID").alias("doc_id"),
            F.col("version"),
            F.regexp_replace(base, "/+$", "").alias("_base"),
            F.posexplode(cands).alias("rank", "_file"),
        )
        .select(
            "doc_id",
            "version",
            F.concat(F.col("_base"), F.lit("/"), F.col("_file")).alias("url"),
            (F.col("rank") + 1).alias("rank"),
        )
        .withColumn("host", url_host(F.col("url")))
    )
    return out


def candidate_rank(url_col) -> "F.Column":
    """Recover a candidate URL's fileOptions rank from its basename —
    deterministic replacement for the first-200-wins race (L4)."""
    fname = F.element_at(F.split(url_col, "/"), -1)
    return F.array_position(F.array(*[F.lit(x) for x in FILE_OPTIONS]), fname)


class Crawl:
    """Bootstrap crawl over a synthetic universe, checkpointed per generation."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        universe: dict[str, DataFrame],
        total_npm_downloads: int | None = None,
        budgets: dict[str, int] | None = None,
        budget_multiplier: int = 1,
        now_day_ms: int = 1_755_000_000_000,
        backoff_scale: float = 1.0,
        transient_modulus: int = 37,
        throttle_modulus: int = 0,
        gc_terminal: bool = True,
        checkpoint_interval: int = 1,
        carry_counts: bool = True,
    ):
        """``gc_terminal`` (default True): GC successfully-processed rows
        out of the frontier in the same MERGE pass, so frontier bytes track
        the ACTIVE set and the per-generation pending scan never reads
        terminal rows — at 10^10 URLs an un-GC'd frontier's pending filter
        is O(everything ever crawled). False keeps terminal rows as
        tombstones (full per-URL state audit trail in one table; the seen
        set and not_found sink carry the same information either way —
        TestFrontierGC proves result equivalence of the two modes)."""
        self.spark = spark
        self.root = root
        self.gc_terminal = gc_terminal
        # group-commit granularity: state.save (and the seen-set's durable
        # append) happens every `checkpoint_interval` generations; in
        # between, seen-adds are deferred (SeenSet.add(defer=True)) — one
        # clustered append + one snapshot commit per interval instead of
        # per generation. 1 = today's per-generation durability.
        self.checkpoint_interval = max(1, int(checkpoint_interval))
        # priority-clustered files: the scheduled batch is the top-priority
        # head per host, so merge detection prunes to the head files by the
        # batch's (host, priority) bounds even though the merge keys on url
        self.frontier = SnapTable(
            f"{root}/frontier",
            FRONTIER,
            stats_cols=["url", "host", "priority"],
            cluster_by=["host", "priority"],
        )
        self.packages = SnapTable(f"{root}/packages", FINAL_PACKAGE)
        self.one_time = SnapTable(f"{root}/one_time_data", ONE_TIME)
        self.not_found = SnapTable(f"{root}/not_found", QUARANTINE)
        self.seen = SeenSet(f"{root}/seen")
        self.state = StateStore(f"{root}/state")
        self.universe = universe
        self.budgets = DEFAULT_BUDGETS if budgets is None else budgets
        self.budget_multiplier = budget_multiplier
        self.now_day_ms = now_day_ms
        self.total_downloads = total_npm_downloads or 0
        self.backoff_scale = backoff_scale
        self._dims_refreshed_at = time.time()
        self.transient_modulus = transient_modulus
        self.throttle_modulus = throttle_modulus
        # host -> epoch seconds until which its queue is paused (T5 throttle
        # class). O(hosts) driver state, persisted with the crawl state so a
        # resume honours an in-flight pause.
        self.host_pauses: dict[str, float] = {}
        # per-host priority bounds reused across generations by the
        # histogram scheduler (skips its per-host stats job on every tick
        # after the first); persisted in CrawlState, refreshed every
        # HINT_REFRESH_GENS generations to bound staleness-driven bin
        # imbalance (stale hints stay EXACT — they only degrade bin balance)
        self.hist_hints: dict[str, tuple[float, float]] = {}
        # per-host bin-count ledger (counts-carry): when valid, a steady-
        # state generation runs ONE pending scan (candidate materialization
        # only — the histogram scan is replaced by driver arithmetic). The
        # ledger is valid only while the engine can account for every
        # pending-set mutation itself:
        #   - scheduled rows retiring: deducted by the scheduler in bin space
        #   - hop enqueues: binned with one O(additions) job and folded in
        #   - retries/throttles: time-driven re-entry the ledger can't see —
        #     carry is BLOCKED until the maturity horizon passes and a scan
        #     rebuilds the ledger
        #   - external writers (watch/periodic enqueue, GC, promote): the
        #     ledger is anchored to the frontier snapshot id it described;
        #     any unaccounted snapshot change invalidates it
        # Not persisted: a resumed crawl rescans on its first generation.
        self.carry_counts = carry_counts
        self.hist_counts: dict[str, dict[int, int]] | None = None
        self._counts_snapshot: int | None = None
        self._carry_block_until = 0.0
        self._hits_ranked = rank_jsdelivr_hits(universe["jsdelivr_hits"]).cache()

    # -- seeding -------------------------------------------------------------

    def seed(self, names: DataFrame) -> None:
        """names: (doc_id) -> frontier registry_doc rows with download-count
        -weighted priority (W4)."""
        dl = self.universe["npm_downloads"]
        rows = (
            names.join(F.broadcast(dl.withColumnRenamed("name", "doc_id")), "doc_id", "left")
            .select(
                canonicalize_url(registry_url(F.col("doc_id"))).alias("url"),
                F.lit("registry.npmjs.org").alias("host"),
                F.lit("registry_doc").alias("kind"),
                F.col("doc_id"),
                F.coalesce(F.col("downloads_last_30d"), F.lit(0)).cast("double").alias("priority"),
                F.lit(0).alias("retries"),
                F.lit("pending").alias("state"),
                F.lit(None).cast("timestamp").alias("next_attempt_at"),
                F.lit(0).cast("long").alias("seq"),
                F.struct(
                    F.spark_partition_id().alias("partition_id"),
                    F.lit(0).cast("long").alias("snapshot_id"),
                    F.lit(0).alias("generation"),
                ).alias("lineage"),
            )
        )
        self.frontier.overwrite(rows, meta={"op": "seed"})
        self.state.save(CrawlState(generation=0, snapshots=self._snapshots()))

    def _snapshots(self) -> dict[str, int]:
        return {
            "frontier": self.frontier.current_snapshot_id() or 0,
            "packages": self.packages.current_snapshot_id() or 0,
            "one_time": self.one_time.current_snapshot_id() or 0,
            "not_found": self.not_found.current_snapshot_id() or 0,
            "seen": self.seen.table.current_snapshot_id() or 0,
        }

    # -- resume ----------------------------------------------------------------

    def resume(self) -> CrawlState:
        """Roll all tables back to the last committed state (discarding any
        half-applied generation), return that state."""
        st = self.state.load()
        if st is None:
            return CrawlState()
        self.host_pauses = dict(st.host_pauses)
        # JSON round-trips the (min, max) tuples as lists — normalize back
        self.hist_hints = {
            h: (float(v[0]), float(v[1])) for h, v in (st.hist_hints or {}).items()
        }
        # the bin-count ledger is deliberately NOT persisted: a resumed
        # crawl's first generation rescans (the rollback may cross
        # generations the in-memory ledger accounted for)
        self.hist_counts = None
        self._counts_snapshot = None
        snaps = st.snapshots
        self.frontier.rollback(snaps.get("frontier") or None)
        self.packages.rollback(snaps.get("packages") or None)
        self.one_time.rollback(snaps.get("one_time") or None)
        self.not_found.rollback(snaps.get("not_found") or None)
        self.seen.rollback(snaps.get("seen") or None)
        return st

    def refresh_dims(self) -> None:
        """Re-derive the cached jsDelivr rank from the current universe
        tables — the hourly dim-preload refresh of the reference's
        long-running watcher (src/index.ts:66-76). Cheap: the dims are
        broadcast-sized by design."""
        self._hits_ranked.unpersist()
        self._hits_ranked = rank_jsdelivr_hits(self.universe["jsdelivr_hits"]).cache()
        self._dims_refreshed_at = time.time()

    # -- bootstrap finalization + redo window --------------------------------

    # Index-settings analogue of the reference's Algolia config
    # (src/config.ts:28-89): the custom ranking becomes the prod table's
    # declared sort/cluster order (each data file then covers a popularity
    # band, so ranked top-k reads prune to the head files), and the
    # searchable/unretrievable attribute lists are recorded verbatim in the
    # promote commit for downstream search layers.
    INDEX_SETTINGS = {
        "custom_ranking": [
            "desc(_downloadsMagnitude)",
            "desc(_jsDelivrPopularity)",
            "desc(dependents)",
            "desc(downloadsLast30Days)",
        ],
        "ranking_tiebreakers": [
            "asc(isSecurityHeld)",
            "asc(isDeprecated)",
            "desc(popular)",
        ],
        "searchable_attributes": [
            "name",
            "description",
            "keywords",
            "owner.name",
            "alternativeNames",
        ],
        "unretrievable_attributes": [
            "_oneTimeDataToUpdateAt",
            "_periodicDataUpdatedAt",
        ],
    }

    # Replica-index analogue (reference README.md:69 — the index is served
    # "x4"; Algolia replicas share the primary's records and differ only in
    # ranking, https://www.algolia.com/doc replicas model). Each replica is
    # a manifest-level commit pointing at the SAME immutable data files with
    # its own declared custom ranking — O(1) data movement per replica,
    # exactly like Algolia's server-side replica sync.
    REPLICA_SETTINGS = {
        "by_downloads": ["desc(downloadsLast30Days)"],
        "by_jsdelivr": ["desc(jsDelivrHits)"],
        "by_dependents": ["desc(dependents)"],
        "by_recently_updated": ["desc(modified)"],
    }

    def promote_replicas(
        self,
        prod: SnapTable,
        apply_ranking_layout: bool = False,
        replicas: dict[str, list[str]] | None = None,
    ) -> dict[str, SnapTable]:
        """Create/refresh one alternative-ranking replica table per entry in
        ``replicas`` (default REPLICA_SETTINGS), each sharing prod's data
        files. ``apply_ranking_layout=True`` additionally rewrites each
        replica clustered by its own ranking order so ranked top-k reads
        prune to the head files (the physical analogue of a replica's
        customRanking); the default manifest-only promote moves no data."""
        replicas = self.REPLICA_SETTINGS if replicas is None else replicas
        snap = prod.snapshot()
        out: dict[str, SnapTable] = {}
        for name, ranking in replicas.items():
            settings = dict(self.INDEX_SETTINGS)
            settings["custom_ranking"] = ranking
            rep = SnapTable(
                f"{prod.root}__{name}",
                FINAL_PACKAGE,
                stats_cols=[s[5:-1] if s.startswith("desc(") else s[4:-1] for s in ranking],
            )
            rep._commit(
                "promote-replica",
                snap.files if snap else [],
                {
                    "from": prod.root,
                    "src_snapshot": snap.snapshot_id if snap else None,
                    "replica": name,
                    "index_settings": settings,
                },
                file_stats=(snap.file_stats or {}) if snap else {},
            )
            if apply_ranking_layout and snap and snap.files:
                rank_cols = [
                    F.desc(s[5:-1]) if s.startswith("desc(") else F.asc(s[4:-1])
                    for s in ranking
                ]
                ranked = (
                    rep.read(self.spark)
                    .repartitionByRange(*rank_cols)
                    .sortWithinPartitions(*rank_cols)
                )
                rep.overwrite(
                    ranked,
                    meta={"op": "ranking-layout", "index_settings": settings},
                )
            out[name] = rep
        return out

    def finalize_bootstrap(
        self,
        prod_root: str | None = None,
        now_ms: int | None = None,
        apply_ranking_layout: bool = False,
        with_replicas: bool = False,
    ) -> SnapTable:
        """Promote the bootstrap output to the production table and mark the
        stage ``watch`` (reference copies the bootstrap index over prod and
        deletes it, src/bootstrap.ts:167-200). ``with_replicas=True`` also
        promotes the alternative-ranking replica tables (REPLICA_SETTINGS).

        SnapTable data files are immutable, so the promote is a manifest
        commit pointing at the same files — O(1) data movement, the exact
        analogue of Algolia's server-side index copy. The promote commit
        carries INDEX_SETTINGS (the reference's searchable-attributes /
        custom-ranking config, src/config.ts:28-89);
        ``apply_ranking_layout=True`` additionally rewrites prod clustered
        by the custom-ranking order (descending), so each data file covers
        a popularity band and ranked top-k reads prune to the head files —
        the physical analogue of the index's customRanking."""
        prod = SnapTable(
            prod_root or f"{self.root}/packages_prod",
            FINAL_PACKAGE,
            stats_cols=["_downloadsMagnitude", "downloadsLast30Days"],
        )
        snap = self.packages.snapshot()
        prod._commit(
            "promote",
            snap.files if snap else [],
            {
                "from": self.packages.root,
                "src_snapshot": snap.snapshot_id if snap else None,
                "index_settings": self.INDEX_SETTINGS,
            },
            file_stats=(snap.file_stats or {}) if snap else {},
        )
        if apply_ranking_layout and snap and snap.files:
            rank_cols = [
                F.desc(s[5:-1]) if s.startswith("desc(") else F.asc(s[4:-1])
                for s in self.INDEX_SETTINGS["custom_ranking"]
            ]
            ranked = (
                prod.read(self.spark)
                .repartitionByRange(*rank_cols)
                .sortWithinPartitions(*rank_cols)
            )
            prod.overwrite(
                ranked, meta={"op": "ranking-layout", "index_settings": self.INDEX_SETTINGS}
            )
        if with_replicas:
            self.promote_replicas(prod, apply_ranking_layout=apply_ranking_layout)
        st = self.state.load() or CrawlState()
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        self.state.save(
            CrawlState(
                generation=st.generation,
                seq=st.seq,
                stage="watch",
                bootstrap_done=True,
                bootstrap_last_done=now,
                snapshots=self._snapshots(),
                metrics={"op": "finalize_bootstrap"},
                host_pauses=dict(self.host_pauses),
                hist_hints={h: list(b) for h, b in self.hist_hints.items()},
            )
        )
        return prod

    def needs_bootstrap_redo(self, now_ms: int) -> bool:
        """True once the 30-day redo window has elapsed since the last
        finalized bootstrap (reference src/config.ts:173)."""
        st = self.state.load()
        return bool(
            st
            and st.bootstrap_done
            and st.bootstrap_last_done
            and now_ms - st.bootstrap_last_done >= BOOTSTRAP_REDO_MS
        )

    def redo_bootstrap(self, names: DataFrame) -> None:
        """Start a fresh bootstrap epoch: empty the seen set, reseed the
        frontier, stage back to ``bootstrap``. The promoted prod table keeps
        serving the previous snapshot until the next finalize."""
        self.seen.rollback(None)
        self.host_pauses = {}
        self.seed(names)

    # -- one generation ----------------------------------------------------------

    def run_generation(
        self, generation: int, budgets_override: dict[str, int] | None = None
    ) -> dict[str, Any]:
        """One drain generation. ``budgets_override``: absolute per-host
        budgets for THIS generation (multiplier 1) — watch mode passes the
        remaining per-trigger-window ledger so a multi-generation
        micro-batch never admits more than rate x trigger per host.

        Driver actions: the scheduler's own scans, then ONE fused metrics
        pass (every count plus the scheduled batch's data files). An empty
        tick runs no action at all (the scheduler's exact
        ``scheduled_count`` decides), and the frontier MERGE runs no
        detection: the pending scan carries each row's file (provenance),
        so the MERGE rewrites the scheduled rows' files directly."""
        spark = self.spark
        metrics: dict[str, Any] = {"generation": generation}
        t0 = time.time()

        # provenance: every pending row carries its data file, so the
        # frontier MERGE below rewrites the scheduled rows' files without
        # detecting them (fr_sid is the snapshot the MERGE must still see)
        fr, fr_sid = self.frontier.read_with_files(spark)
        pending = fr.where(
            (F.col("state") == "pending")
            & (F.col("next_attempt_at").isNull() | (F.col("next_attempt_at") <= F.current_timestamp()))
        )
        # T5 throttle class: a 429'd host's whole queue stays paused until
        # the pause expires — O(hosts) driver state, a tiny isin predicate
        now_s = time.time()
        self.host_pauses = {h: t for h, t in self.host_pauses.items() if t > now_s}
        if self.host_pauses:
            pending = pending.where(~F.col("host").isin(list(self.host_pauses)))
        # steady-state hint reuse: the previous generation's per-host
        # priority bounds skip the scheduler's per-host stats job; dropped
        # every HINT_REFRESH_GENS generations so priority drift can't
        # unbalance the bins forever (exactness does not depend on
        # freshness — see _schedule_histogram_topk)
        hints = self.hist_hints or None
        if generation % HINT_REFRESH_GENS == 0:
            hints = None
        # counts-carry gate (see __init__ ledger notes): the bin-count
        # ledger replaces the histogram scan only when the engine accounted
        # for every pending mutation since the ledger was produced — no
        # paused hosts, no un-matured retries/throttles, and the frontier
        # snapshot is exactly the one the ledger described
        carry_live = (
            self.carry_counts
            and not self.host_pauses
            and time.time() > self._carry_block_until
        )
        counts = None
        if (
            carry_live
            and hints is not None
            and self.hist_counts is not None
            and self.frontier.current_snapshot_id() == self._counts_snapshot
        ):
            counts = self.hist_counts
        aside_counts: dict[str, dict[int, int]] = {}
        if budgets_override is not None:
            # ledger mode: hosts with an exhausted window budget are not
            # even scanned; the rest get their absolute remaining budget
            live = {hh: b for hh, b in budgets_override.items() if b > 0}
            if not live:
                metrics["scheduled"] = 0
                metrics["robots_blocked"] = 0
                metrics["scheduled_by_host"] = {}
                return metrics
            pending = _host_subset(pending, sorted(live))
            if counts is not None:
                # the scheduler sees only live hosts; set-aside entries
                # rejoin the ledger after the tick
                aside_counts = {h: v for h, v in counts.items() if h not in live}
                counts = {h: v for h, v in counts.items() if h in live}
            sched_raw = politeness_schedule(
                pending, live, default_budget=0, budget_multiplier=1,
                hist_hints=hints, hist_counts=counts,
            )
        else:
            sched_raw = politeness_schedule(
                pending, self.budgets, budget_multiplier=self.budget_multiplier,
                hist_hints=hints, hist_counts=counts,
            )
        new_hints = getattr(sched_raw, "hist_hints", None)
        if new_hints:
            self.hist_hints = dict(new_hints)
        new_ledger = getattr(sched_raw, "hist_counts", None)
        if not carry_live:
            new_ledger = None
        elif budgets_override is not None:
            # a scan over the live-host SUBSET cannot seed a full ledger;
            # keep it only when this tick consumed a carried one
            new_ledger = (
                {**aside_counts, **new_ledger}
                if (counts is not None and new_ledger is not None)
                else None
            )
        self.hist_counts = new_ledger
        # anchor now (the table is still the state the ledger describes);
        # re-anchored at generation end after this generation's own writes
        self._counts_snapshot = self.frontier.current_snapshot_id()
        metrics["hist_counts_carried"] = counts is not None
        if sched_raw.scheduled_count == 0:
            # drained (or everything is backing off): the scheduler knows
            # its exact winner count driver-side, so no action runs — the
            # backoff-wait loop in run_bootstrap probes with empty
            # generations until the earliest next_attempt_at matures
            metrics["scheduled"] = 0
            metrics["robots_blocked"] = 0
            metrics["scheduled_by_host"] = {}
            return metrics
        # robots.txt: disallowed URLs are terminal, never fetched. Flagging
        # (instead of splitting) lets one aggregation produce both the
        # scheduled and the blocked counts — per-generation driver actions
        # are the fixed cost that caps scaling efficiency.
        robots = self.universe.get("robots")
        if robots is not None:
            flagged = flag_robots(sched_raw, robots).cache()
        else:
            flagged = sched_raw.withColumn("_blocked", F.lit(False)).cache()
        scheduled = flagged.drop("_blocked", FILE_COL)
        eligible = flagged.where(~F.col("_blocked")).drop("_blocked", FILE_COL)
        robots_blocked = (
            flagged.where(F.col("_blocked")).drop("_blocked") if robots is not None else None
        )

        # URL-seen dedup (J8): drop anything already crawled
        fresh = self.seen.filter_unseen(spark, eligible).cache()

        reg = fresh.where(F.col("kind") == "registry_doc")
        fl = fresh.where(F.col("kind") == "file_list")
        probe = fresh.where(F.col("kind") == "changelog_probe")

        # ---- registry_doc fetch ------------------------------------------------
        # synthetic transient error: first attempt on ~1/modulus of URLs
        # fails, the retry succeeds — exercises backoff + requeue (T5);
        # modulus <= 1 disables failures entirely
        if self.transient_modulus > 1:
            transient = (
                F.pmod(F.xxhash64("url"), F.lit(self.transient_modulus)) == 0
            ) & (F.col("retries") == 0)
        else:
            transient = F.lit(False)
        # synthetic 429: first attempt on ~1/throttle_modulus of URLs gets a
        # rate-limit response — pauses the whole host (distinct from the
        # transient class: no retry is burned)
        if self.throttle_modulus > 1:
            throttled_c = (
                F.pmod(F.xxhash64("url"), F.lit(self.throttle_modulus)) == 1
            ) & F.col("next_attempt_at").isNull()
        else:
            throttled_c = F.lit(False)
        not_found = F.col("raw_json").isNull() | (F.pmod(F.xxhash64("doc_id"), F.lit(41)) == 0)

        reg_fetched = (
            reg.join(self.universe["raw_docs"], "doc_id", "left")
            .withColumn(
                "_status",
                F.when(throttled_c, "throttled")
                .when(transient, "retry")
                .when(not_found, "not_found")
                .otherwise("ok"),
            )
            .cache()
        )
        ok = reg_fetched.where(F.col("_status") == "ok").drop("_status")
        new_rows = []
        hop_hosts: set[str] = set()  # static host set of enqueued hop kinds

        # ---- fused per-generation metrics pass ---------------------------------
        # ONE driver action materializes all three cached frames (flagged,
        # fresh, reg_fetched) and yields every count the generation needs:
        # scheduled/robots (leg 'sched'), per-kind hop sizes (leg 'fresh'),
        # per-(status, host) fetch outcomes (leg 'reg'), plus the scheduled
        # batch's distinct data files (leg 'file') — the provenance that
        # lets the frontier MERGE skip detection. Per-generation driver
        # actions are the serial fraction that caps N->4N scaling — this
        # pass replaces what used to be three separate count jobs and the
        # MERGE's two detection jobs.
        _null = F.lit(None).cast("string")
        legs = (
            flagged.select(
                F.lit("sched").alias("_leg"),
                F.col("_blocked").cast("string").alias("_k1"),
                F.col("host").alias("_k2"),
            )
            .unionByName(
                flagged.select(
                    F.lit("file").alias("_leg"),
                    _null.alias("_k1"),
                    F.col(FILE_COL).alias("_k2"),
                )
            )
            .unionByName(
                fresh.where(F.col("kind") != "registry_doc").select(
                    F.lit("fresh").alias("_leg"),
                    F.col("kind").alias("_k1"),
                    _null.alias("_k2"),
                )
            )
            .unionByName(
                reg_fetched.select(
                    F.lit("reg").alias("_leg"),
                    F.col("_status").alias("_k1"),
                    F.col("host").alias("_k2"),
                )
            )
        )
        cnt: dict[bool, int] = {}
        kc: dict[str, int] = {}
        sc: dict[str, int] = {}
        sched_by_host: dict[str, int] = {}
        sched_files: list[str] = []
        for r in legs.groupBy("_leg", "_k1", "_k2").count().collect():
            if r["_leg"] == "sched":
                cnt[r["_k1"] == "true"] = cnt.get(r["_k1"] == "true", 0) + r["count"]
                sched_by_host[r["_k2"]] = sched_by_host.get(r["_k2"], 0) + r["count"]
            elif r["_leg"] == "file":
                sched_files.append(r["_k2"])
            elif r["_leg"] == "fresh":
                kc[r["_k1"]] = kc.get(r["_k1"], 0) + r["count"]
            else:
                sc[r["_k1"]] = sc.get(r["_k1"], 0) + r["count"]
                kc["registry_doc"] = kc.get("registry_doc", 0) + r["count"]
                # pause every host that saw a 429 this generation (reference
                # pauses the host queue 1 min, src/npm/index.ts:213-227)
                if r["_k1"] == "throttled":
                    self.host_pauses[r["_k2"]] = (
                        time.time() + HOST_PAUSE_S * self.backoff_scale
                    )
        n_scheduled = sum(cnt.values())
        metrics["scheduled"] = n_scheduled
        metrics["robots_blocked"] = cnt.get(True, 0)
        metrics["scheduled_by_host"] = sched_by_host
        if n_scheduled == 0:
            for df in (flagged, fresh, reg_fetched):
                df.unpersist()
            return metrics
        metrics["deduped"] = n_scheduled - metrics["robots_blocked"] - sum(kc.values())
        # retries/throttles re-enter pending when their next_attempt_at
        # matures — a mutation the ledger cannot see. Drop it now; the
        # carry block-until is set at generation end (after the MERGE that
        # stamps the actual timestamps), and the first post-horizon scan
        # rebuilds the ledger.
        had_maturities = bool(sc.get("retry") or sc.get("throttled"))
        if had_maturities:
            self.hist_counts = None
        n_ok = sc.get("ok", 0)
        metrics["registry_ok"] = n_ok
        metrics["registry_retry"] = sc.get("retry", 0)
        metrics["registry_throttled"] = sc.get("throttled", 0)
        # urls of each non-ok fetch outcome that occurred: a status with no
        # rows joins, unions and commits nothing below
        outcome_urls = {
            s: reg_fetched.where(F.col("_status") == s).select("url")
            for s in ("retry", "throttled", "not_found")
            if sc.get(s)
        }
        if n_ok:
            formatted = format_packages_df(
                ok, self.now_day_ms, "2026-08-16T00:00:00.000Z"
            ).withColumn("spans", F.array().cast(
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
            ))
            enriched = enrich_packages(
                formatted,
                self._hits_ranked,
                self.universe["definitely_typed"],
                self.universe["npm_downloads"],
                self.total_downloads,
                self.now_day_ms,
            )
            # pinned, materialised inside the MERGE: formatPkg's Arrow pass
            # runs once per generation, in the MERGE's SQL execution
            landed = Pin(enriched.select(*[f.name for f in FINAL_PACKAGE.fields]))
            self.packages.merge_upsert(
                spark,
                landed,
                key="objectID",
                guard="src._revision >= tgt._revision",
                meta={"generation": generation},
            )
            # hop 2: file list URLs — derived from the pinned enriched batch
            # (what the MERGE just landed), not a table read-back and not a
            # second formatPkg pass
            hop2 = landed.get().select(
                canonicalize_url(filelist_url(F.col("objectID"), F.col("version"))).alias("url"),
                F.lit("cdn.jsdelivr.net").alias("host"),
                F.lit("file_list").alias("kind"),
                F.col("objectID").alias("doc_id"),
                F.col("downloadsLast30Days").cast("double").alias("priority"),
            )
            new_rows.append(hop2)
            hop_hosts.add("cdn.jsdelivr.net")

        # ---- file_list hop ----------------------------------------------------
        n_fl = kc.get("file_list", 0)
        metrics["filelist_ok"] = n_fl
        if n_fl:
            spans_df = fl.select("doc_id").join(self.universe["documents"], "doc_id", "left")
            spans_df = spans_df.withColumn(
                "spans",
                F.coalesce(F.col("spans"), F.array().cast(
                    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
                )),
            )
            pkgs, pkgs_sid = self.packages.read_with_files(spark)
            patched = (
                pkgs.join(F.broadcast(spans_df), pkgs.objectID == spans_df.doc_id, "inner")
                .drop("doc_id")
                .withColumn("changelogFilename", SP.changelog_filename(F.col("spans")))
                .withColumn("types", SP.ts_support(
                    F.col("spans"), F.col("types.ts"),
                    F.when(F.col("types.ts") == "definitely-typed",
                           F.regexp_replace(F.col("types.definitelyTyped"), "^@types/", ""))
                    .otherwise(F.lit(None))))
                .withColumn("moduleTypes", SP.module_types_from_files(F.col("spans"), F.col("moduleTypes")))
                .withColumn("styleTypes", SP.style_types_from_files(F.col("spans"), F.col("styleTypes")))
                .withColumn(
                    "_oneTimeDataToUpdateAt",
                    F.when(F.col("changelogFilename").isNull(), F.lit(self.now_day_ms)).otherwise(F.lit(0)),
                )
                .drop("spans")
            )
            # provenance: the patched rows are packages rows, so the MERGE
            # rewrites their files without a detection scan
            self.packages.merge_upsert(
                spark, patched, key="objectID", meta={"generation": generation},
                read_at=pkgs_sid,
            )
            # hop 3: changelog probes for packages still missing a changelog,
            # memoized against one_time_data (J4)
            need = patched.where(F.col("changelogFilename").isNull())
            if self.one_time.exists():
                memo = self.one_time.read(spark).select(
                    F.col("objectID").alias("_memo_id")
                )
                need = need.join(
                    F.broadcast(memo),
                    F.concat_ws("@", need.objectID, need.version) == F.col("_memo_id"),
                    "left_anti",
                )
            cands = changelog_candidates(need).select(
                canonicalize_url(F.col("url")).alias("url"),
                "host",
                F.lit("changelog_probe").alias("kind"),
                "doc_id",
                # probe priority: candidate order, best first (rank 1 -> highest)
                (F.lit(1000.0) - F.col("rank")).alias("priority"),
            )
            new_rows.append(cands)
            hop_hosts.update(
                ("raw.githubusercontent.com", "gitlab.com", "bitbucket.org")
            )

        # ---- changelog_probe hop -------------------------------------------------
        n_probe = kc.get("changelog_probe", 0)
        metrics["probes"] = n_probe
        if n_probe:
            winners_universe = self.universe["repo_changelogs"]
            hits = probe.withColumn("_file", F.element_at(F.split("url", "/"), -1)).join(
                F.broadcast(winners_universe),
                (F.col("doc_id") == winners_universe.name)
                & (F.col("_file") == winners_universe.filename),
                "left_semi",
            )
            winners = (
                hits.withColumn("_rank", candidate_rank(F.col("url")))
                .groupBy("doc_id")
                .agg(F.min_by("url", "_rank").alias("changelog_url"))
            )
            pkgs, pkgs_sid = self.packages.read_with_files(spark)
            patched = (
                pkgs.join(F.broadcast(winners), pkgs.objectID == winners.doc_id, "inner")
                .drop("doc_id")
                .withColumn("changelogFilename", F.col("changelog_url"))
                .withColumn("_oneTimeDataToUpdateAt", F.lit(0))
                .drop("changelog_url")
            )
            self.packages.merge_upsert(
                spark, patched, key="objectID", meta={"generation": generation},
                read_at=pkgs_sid,
            )
            memo_rows = (
                self.packages.read(spark)
                .join(F.broadcast(probe.select("doc_id").distinct()),
                      F.col("objectID") == F.col("doc_id"), "left_semi")
                .select(
                    F.concat_ws("@", "objectID", "version").alias("objectID"),
                    F.col("changelogFilename"),
                )
            )
            self.one_time.append(memo_rows, meta={"generation": generation})

        # ---- frontier bookkeeping --------------------------------------------------
        from functools import reduce

        def union_all(dfs):
            return reduce(lambda a, b: a.unionByName(b), dfs)

        # only *successfully processed* URLs enter the seen set: a transiently
        # failed URL is re-queued for retry and must pass the dedup filter on
        # the retry attempt (otherwise the retry is dropped as a dup and the
        # document is silently lost — the reference re-queues by leaving
        # isProcessed unset, src/indexers/MainWatchIndexer.ts:36-45)
        processed = fresh.select("url")
        for pending_again in ("retry", "throttled"):
            if pending_again in outcome_urls:
                processed = processed.join(outcome_urls[pending_again], "url", "left_anti")
        self.seen.add(spark, processed, defer=self.checkpoint_interval > 1)

        updates = [fresh.select("url").withColumn("_new_state", F.lit("done"))]
        updates += [u.withColumn("_new_state", F.lit(s)) for s, u in outcome_urls.items()]
        # later entries win (retry/not_found override the blanket 'done')
        upd = union_all(updates).groupBy("url").agg(
            F.max_by("_new_state", F.when(F.col("_new_state") == "done", 0).otherwise(1)).alias("_new_state")
        )
        # dedup-dropped scheduled rows are terminal duplicates
        dup = eligible.join(fresh.select("url"), "url", "left_anti").select("url").withColumn(
            "_new_state", F.lit("dup")
        )
        upd = upd.unionByName(dup)
        if robots_blocked is not None:
            upd = upd.unionByName(
                robots_blocked.select("url").withColumn("_new_state", F.lit("robots_blocked"))
            )

        # every scheduled row receives a new state this generation; rebuild
        # the full rows from the (cached) scheduled batch and MERGE them —
        # only the data files the scheduled rows were read from are
        # rewritten, the rest of the frontier is carried untouched
        # (O(batch + affected files), never O(table), unlike a full
        # overwrite). Pinned once: the MERGE's upserts and deletes are both
        # filters of it, so its state-resolution shuffle runs once.
        upd_rows = (
            scheduled.join(F.broadcast(upd), "url", "inner")
            .withColumn(
                "retries",
                F.when(F.col("_new_state") == "retry", F.col("retries") + 1).otherwise(F.col("retries")),
            )
            .withColumn(
                "next_attempt_at",
                F.when(
                    F.col("_new_state") == "retry",
                    F.current_timestamp()
                    + F.make_dt_interval(
                        F.lit(0), F.lit(0), F.lit(0),
                        backoff_seconds(F.col("retries") - 1) * self.backoff_scale,
                    ),
                )
                .when(
                    F.col("_new_state") == "throttled",
                    F.current_timestamp()
                    + F.make_dt_interval(
                        F.lit(0), F.lit(0), F.lit(0),
                        F.lit(HOST_PAUSE_S * self.backoff_scale),
                    ),
                )
                .otherwise(F.col("next_attempt_at")),
            )
            .withColumn(
                "state",
                F.when(F.col("_new_state") == "retry",
                      F.when(F.col("retries") > MAX_RETRIES, F.lit("lost")).otherwise(F.lit("pending")))
                .when(F.col("_new_state") == "throttled", F.lit("pending"))
                .when(F.col("_new_state") == "dup", F.lit("done"))
                .otherwise(F.col("_new_state")),
            )
            .drop("_new_state")
            .select(*[f.name for f in FRONTIER.fields])
            .localCheckpoint(eager=False)
        )
        if self.gc_terminal:
            # the reference GCs processed queue rows every minute
            # (src/indexers/MainWatchIndexer.ts:51-61, PeriodicBackground
            # Indexer.ts:121-126): successfully-processed rows are deleted
            # from the frontier in the same MERGE pass instead of being
            # rewritten as terminal tombstones, so frontier bytes stay
            # bounded by the active (pending/retrying) set. The seen set
            # remains the dedup authority; not_found rows are quarantined in
            # their own table below before the delete.
            terminal = upd_rows.where(F.col("state").isin("done", "not_found"))
            self.frontier.merge_apply(
                spark,
                "url",
                upserts=upd_rows.where(~F.col("state").isin("done", "not_found")),
                # host/priority carried so stats pruning applies to deletes
                # too, should the MERGE fall back to detection
                delete_keys=terminal.select("url", "host", "priority"),
                meta={"generation": generation},
                read_at=fr_sid,
                files=source_files(sched_files),
            )
        else:
            self.frontier.merge_upsert(
                spark, upd_rows, key="url", meta={"generation": generation},
                read_at=fr_sid, files=source_files(sched_files),
            )
        if new_rows:
            additions = (
                union_all(new_rows)
                .withColumn("retries", F.lit(0))
                .withColumn("state", F.lit("pending"))
                .withColumn("next_attempt_at", F.lit(None).cast("timestamp"))
                .withColumn("seq", F.lit(0).cast("long"))
                .withColumn(
                    "lineage",
                    F.struct(
                        F.spark_partition_id().alias("partition_id"),
                        F.lit(self.frontier.current_snapshot_id() or 0).cast("long").alias("snapshot_id"),
                        F.lit(generation).alias("generation"),
                    ),
                )
                .dropDuplicates(["url"])
            )
            # a URL already present in the frontier must not be re-queued:
            # stats-pruned, broadcast-probed check — never a shuffle of the
            # frontier (see filter_new_urls)
            additions = filter_new_urls(
                self.frontier, spark, additions, sorted(hop_hosts)
            )
            if self.hist_counts is not None:
                # counts-carry: snapshot the enqueued rows (the dedup probe
                # above reads the frontier, so a lazy re-execution after the
                # append would see its own output — checkpoint breaks that)
                # and fold their bins into the ledger with one O(additions)
                # collect. A host outside the hints bounds (null bin) can't
                # be binned — the ledger drops and the next tick rescans.
                additions = additions.localCheckpoint(eager=True)
            self.frontier.append(
                additions.select(*[f.name for f in FRONTIER.fields]),
                meta={"generation": generation},
            )
            if self.hist_counts is not None:
                folds: list[tuple[str, int, int]] = []
                for r in additions.groupBy(
                    "host", histogram_bin_expr(self.hist_hints).alias("_bin")
                ).count().collect():
                    if r["_bin"] is None:
                        folds = []
                        self.hist_counts = None
                        break
                    folds.append((r["host"], r["_bin"], r["count"]))
                for hh, bn, c in folds:
                    bins = self.hist_counts.setdefault(hh, {})
                    bins[bn] = bins.get(bn, 0) + c
        if "not_found" in outcome_urls:
            # moved_by: which job/generation quarantined the row (reference
            # tags moved records `movedBy`, src/algolia/index.ts:64-93)
            nf_rows = fresh.join(outcome_urls["not_found"], "url", "left_semi").withColumn(
                "moved_by", F.lit(f"bootstrap:gen-{generation}")
            )
            self.not_found.append(nf_rows, meta={"generation": generation})

        if had_maturities:
            # anchored AFTER the MERGE stamped next_attempt_at; +1 covers
            # the driver-vs-plan current_timestamp skew within one box
            self._carry_block_until = max(
                self._carry_block_until,
                time.time() + (max(HOST_PAUSE_S, BACKOFF_CAP_S) + 1) * self.backoff_scale,
            )
        # re-anchor the ledger to the post-write table state: every write
        # this generation made is accounted for above; anything ELSE that
        # moves the snapshot (watch/periodic enqueue, GC, promote) will
        # mismatch and force a rescan
        self._counts_snapshot = self.frontier.current_snapshot_id()
        metrics["elapsed_s"] = round(time.time() - t0, 3)
        metrics["throughput_urls_per_s"] = round(n_scheduled / max(metrics["elapsed_s"], 1e-9), 1)
        for df in (flagged, fresh, reg_fetched):
            df.unpersist()
        return metrics

    # -- full bootstrap ------------------------------------------------------------

    def run_bootstrap(self, max_generations: int = 100, log=print) -> list[dict[str, Any]]:
        st = self.resume()
        all_metrics = []
        gen = st.generation
        gens_since_ckpt = 0
        for _ in range(max_generations):
            gen += 1
            m = self.run_generation(gen)
            all_metrics.append(m)
            gens_since_ckpt += 1
            if log:
                log(json.dumps(m))
            # group-commit: durable seen append + state save once per
            # checkpoint interval (and always when drained / at exit) —
            # resume granularity is the checkpoint, not the generation
            if gens_since_ckpt >= self.checkpoint_interval or m["scheduled"] == 0:
                self.seen.flush(self.spark)
                gens_since_ckpt = 0
                self.state.save(
                    CrawlState(
                        generation=gen,
                        stage="bootstrap",
                        bootstrap_done=m["scheduled"] == 0,
                        snapshots=self._snapshots(),
                        metrics=m,
                        host_pauses=dict(self.host_pauses),
                        hist_hints={h: list(b) for h, b in self.hist_hints.items()},
                    )
                )
            if m["scheduled"] == 0:
                # drained, or everything pending is backing off / its host is
                # paused — wait out the earlier of the two
                import datetime

                fr = self.frontier.read(self.spark)
                nxt = fr.where(F.col("state") == "pending").agg(
                    F.min("next_attempt_at")
                ).first()[0]
                waits = []
                if nxt is not None:
                    waits.append(
                        (nxt - datetime.datetime.now(nxt.tzinfo)).total_seconds()
                    )
                if self.host_pauses:
                    waits.append(min(self.host_pauses.values()) - time.time())
                if not waits:
                    break
                wait = min(waits)
                if wait > 0:
                    time.sleep(min(wait + 0.1, BACKOFF_CAP_S * self.backoff_scale + 1))
        if gens_since_ckpt:
            # max_generations hit mid-interval: flush + save a final checkpoint
            self.seen.flush(self.spark)
            self.state.save(
                CrawlState(
                    generation=gen,
                    stage="bootstrap",
                    bootstrap_done=False,
                    snapshots=self._snapshots(),
                    metrics=all_metrics[-1] if all_metrics else {},
                    host_pauses=dict(self.host_pauses),
                    hist_hints={h: list(b) for h, b in self.hist_hints.items()},
                )
            )
        return all_metrics
