"""Background re-enrichment jobs (reference §3.3):

  one-time indexer    (src/indexers/OneTimeBackgroundIndexer.ts) — packages
                      flagged _oneTimeDataToUpdateAt != 0 and due get their
                      changelog probes re-enqueued into the frontier;
                      errors defer by +1 week (T5 class)
  periodic indexer    (src/indexers/PeriodicBackgroundIndexer.ts) — packages
                      whose _periodicDataUpdatedAt is older than 30 days get
                      downloads re-joined (J2/J5) and the window stamped;
                      packages that dropped out of the downloads feed and
                      are older than a week are live-checked against the
                      registry and deleted when gone (J9 reconciliation)

Both are pure DataFrame jobs over the packages table driven by the same
scheduling predicates the reference evaluates as Algolia facet filters
(P8): date-partition pruning applies when the packages table is laid out
by days(_periodicDataUpdatedAt).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .enrich import POPULAR_DOWNLOADS_RATIO, human_number_col
from .frontier import Crawl
from .tables import FILE_COL, source_files

DAY_MS = 86_400_000
PERIODIC_WINDOW_MS = 30 * DAY_MS   # reference PeriodicBackgroundIndexer.ts:32-35
ONE_TIME_RETRY_MS = 7 * DAY_MS     # reference OneTimeBackgroundIndexer.ts:87-91
RECONCILE_MIN_AGE_MS = 7 * DAY_MS  # reference PeriodicBackgroundIndexer.ts:99-129
PERIODIC_ERROR_RETRY_MS = 1 * DAY_MS  # on error, re-run tomorrow instead of
                                      # +30d (reference PeriodicBackground
                                      # Indexer.ts:170-183)


def due_for_periodic(pkgs, now_ms: int):
    """P8 predicate: _periodicDataUpdatedAt < now - 30d (day-rounded)."""
    return pkgs.where(
        F.coalesce(F.col("_periodicDataUpdatedAt"), F.lit(0))
        < F.lit(now_ms - PERIODIC_WINDOW_MS)
    )


def due_for_one_time(pkgs, now_ms: int):
    """P8 predicate: _oneTimeDataToUpdateAt != 0 AND <= now."""
    return pkgs.where(
        (F.coalesce(F.col("_oneTimeDataToUpdateAt"), F.lit(0)) != 0)
        & (F.col("_oneTimeDataToUpdateAt") <= F.lit(now_ms))
    )


def run_periodic(crawl: Crawl, now_day_ms: int, error_modulus: int = 0) -> dict:
    """Refresh downloads-derived fields for due packages; reconcile
    deletions. Returns metrics.

    ``error_modulus`` simulates per-package refresh errors (1/modulus of due
    packages fail): an errored package keeps its old values and is
    rescheduled for tomorrow (+1 day) instead of +30 days — the reference's
    periodic-error class (PeriodicBackgroundIndexer.ts:170-183).

    Every row this job writes or deletes is a due row, so the error defer,
    the refresh and the reconcile delete commit as ONE provenance MERGE:
    it rewrites exactly the files the due rows were read from, learnt from
    the due-count pass, with no detection scan."""
    spark = crawl.spark
    pkgs, read_at = crawl.packages.read_with_files(spark)
    due = due_for_periodic(pkgs, now_day_ms).where(~F.col("isSecurityHeld"))
    if error_modulus > 1:
        errored_c = F.pmod(F.xxhash64("objectID"), F.lit(error_modulus)) == 0
    else:
        errored_c = F.lit(False)
    due = due.withColumn("_err", errored_c)
    ec: dict[bool, int] = {}
    due_files: list[str] = []
    for r in due.groupBy("_err", FILE_COL).count().collect():
        ec[r["_err"]] = ec.get(r["_err"], 0) + r["count"]
        due_files.append(r[FILE_COL])
    n_due = sum(ec.values())
    metrics = {"periodic_due": n_due, "periodic_errors": ec.get(True, 0)}
    if n_due == 0:
        return metrics
    errored = due.where(F.col("_err")).drop("_err")
    due = due.where(~F.col("_err")).drop("_err")
    deferred = errored.withColumn(
        "_periodicDataUpdatedAt",
        F.lit(now_day_ms - PERIODIC_WINDOW_MS + PERIODIC_ERROR_RETRY_MS),
    )

    dl = crawl.universe["npm_downloads"].select(
        F.col("name").alias("_dl_name"), F.col("downloads_last_30d").alias("_dl")
    )
    total = crawl.total_downloads or 1
    joined = due.join(F.broadcast(dl), due.objectID == F.col("_dl_name"), "left")

    has_dl = F.col("_dl").isNotNull() & (F.col("_dl") > 0)
    ratio = F.round(F.col("_dl") / F.lit(total) * 100, 4)
    refreshed = (
        joined.withColumn(
            "downloadsLast30Days",
            F.when(has_dl, F.col("_dl")).otherwise(F.col("downloadsLast30Days")),
        )
        .withColumn(
            "downloadsRatio", F.when(has_dl, ratio).otherwise(F.col("downloadsRatio"))
        )
        .withColumn(
            "humanDownloadsLast30Days",
            F.when(has_dl, human_number_col(F.col("_dl"))).otherwise(
                F.col("humanDownloadsLast30Days")
            ),
        )
        .withColumn(
            "popular",
            F.when(has_dl, (ratio > POPULAR_DOWNLOADS_RATIO) | F.col("popular"))
            .otherwise(F.col("popular")),
        )
        .withColumn(
            "_downloadsMagnitude",
            F.when(has_dl, F.length(F.col("_dl").cast("string")).cast("long"))
            .otherwise(F.col("_downloadsMagnitude")),
        )
        .withColumn("_periodicDataUpdatedAt", F.lit(now_day_ms))
        .drop("_dl_name", "_dl")
    )
    # J9: downloads-miss AND old enough -> live-check the registry; gone ->
    # delete + quarantine
    suspects = joined.where(
        F.col("_dl").isNull() & (F.col("created") < now_day_ms - RECONCILE_MIN_AGE_MS)
    ).select(F.col("objectID"))
    gone = suspects.join(
        crawl.universe["raw_docs"].select(F.col("doc_id").alias("objectID")),
        "objectID",
        "left_anti",
    )
    n_gone = 0
    if ec.get(False, 0):
        metrics["periodic_refreshed"] = ec[False]
        n_gone = gone.count()
        metrics["periodic_deleted"] = n_gone
    if n_gone:
        # a gone package is deleted, not refreshed (an upsert of a deleted
        # key would land it again)
        refreshed = refreshed.join(F.broadcast(gone), "objectID", "left_anti")
    # file-granular MERGE (J9 reconciliation included): rewrite only the
    # files holding a due package, not the whole packages table
    crawl.packages.merge_apply(
        spark,
        "objectID",
        upserts=deferred.unionByName(refreshed),
        delete_keys=gone if n_gone else None,
        meta={"op": "periodic"},
        read_at=read_at,
        files=source_files(due_files),
    )
    if n_gone:
        # release the registry URLs from the seen set so a later
        # re-publish of the same name is re-crawled (the Bloom prefilter
        # cannot delete and goes stale-conservative; the exact check
        # resolves the removed keys)
        from .frontier import registry_url
        from .functions.urls import canonicalize_url as _canon

        crawl.seen.remove(
            spark, gone.select(_canon(registry_url(F.col("objectID"))).alias("url"))
        )
    return metrics


def run_one_time(crawl: Crawl, now_ms: int, max_generations: int = 4) -> dict:
    """Re-enqueue changelog probes for due packages (memoized via the
    one_time table) and drain them through the normal generation loop.
    Packages that still resolve nothing defer one week."""
    from .frontier import changelog_candidates
    from .functions.urls import canonicalize_url
    from .schema import FRONTIER

    spark = crawl.spark
    pkgs = crawl.packages.read(spark)
    due = due_for_one_time(pkgs, now_ms).where(
        F.col("changelogFilename").isNull() & ~F.col("isSecurityHeld")
    )
    n_due = due.count()
    metrics = {"one_time_due": n_due}
    if n_due == 0:
        return metrics

    cands = changelog_candidates(due).select(
        canonicalize_url(F.col("url")).alias("url"),
        "host",
        F.lit("changelog_probe").alias("kind"),
        "doc_id",
        (F.lit(1000.0) - F.col("rank")).alias("priority"),
        F.lit(0).alias("retries"),
        F.lit("pending").alias("state"),
        F.lit(None).cast("timestamp").alias("next_attempt_at"),
        F.lit(0).cast("long").alias("seq"),
        F.struct(
            F.spark_partition_id().alias("partition_id"),
            F.lit(0).cast("long").alias("snapshot_id"),
            F.lit(-2).alias("generation"),
        ).alias("lineage"),
    )
    from .frontier import filter_new_urls

    # enqueue-dedup: stats-pruned + broadcast-probed, never a shuffle of
    # the frontier (changelog candidates live on the three git hosts)
    fresh_cands = filter_new_urls(
        crawl.frontier,
        spark,
        cands.dropDuplicates(["url"]),
        ["raw.githubusercontent.com", "gitlab.com", "bitbucket.org"],
    )
    crawl.frontier.append(
        fresh_cands.select(*[f.name for f in FRONTIER.fields]),
        meta={"op": "one-time-enqueue"},
    )
    gen = 0
    for _ in range(max_generations):
        gen += 1
        m = crawl.run_generation(-100 - gen)  # negative gen ids: background job
        if m["scheduled"] == 0:
            break
    # defer still-unresolved packages by a week (error class T5); the rows
    # come from a packages read, so the MERGE rewrites their files directly
    pkgs, read_at = crawl.packages.read_with_files(spark)
    still = due_for_one_time(pkgs, now_ms).where(
        F.col("changelogFilename").isNull()
    ).withColumn("_oneTimeDataToUpdateAt", F.lit(now_ms + ONE_TIME_RETRY_MS))
    crawl.packages.merge_upsert(
        spark, still, key="objectID", meta={"op": "one-time-defer"}, read_at=read_at
    )
    metrics["one_time_resolved"] = int(
        n_due
        - still.count()
    )
    return metrics
