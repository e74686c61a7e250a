"""Frontier engine: politeness scheduling, generation loop, retry/backoff,
dedup, three-hop expansion, checkpointed resume."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from npm_search_spark import frontier as FR
from npm_search_spark.frontier import Crawl, politeness_schedule
from npm_search_spark.sources import synthetic as SYN

N_DOCS = 60


def _seen_pairs(spark, crawl) -> set[tuple[int, int]]:
    """The seen table's (key, key2) identities — it stores no urls."""
    return {
        (r["key"], r["key2"])
        for r in crawl.seen.table.read(spark).select("key", "key2").collect()
    }


def _url_pairs(crawl, urls) -> set[tuple[int, int]]:
    """The (key, key2) identities the seen set gives ``urls``."""
    return {
        (r["key"], r["key2"])
        for r in crawl.seen.keyed(urls.select("url")).select("key", "key2").collect()
    }


@pytest.fixture(scope="module")
def universe(spark):
    u = SYN.universe(spark, N_DOCS, partitions=4)
    return {k: v.cache() for k, v in u.items()}


@pytest.fixture()
def crawl(spark, universe, tmp_path):
    c = Crawl(
        spark,
        str(tmp_path / "crawl"),
        universe,
        total_npm_downloads=10_000_000,
        budget_multiplier=10,  # 10x budgets -> fewer generations in tests
        backoff_scale=0.02,
        transient_modulus=13,
        # tombstone mode: test_full_crawl audits the per-URL terminal states
        # (done/not_found) that gc_terminal=True (the default) would GC
        gc_terminal=False,
    )
    c.seed(universe["raw_docs"].select("doc_id"))
    return c


class TestPolitenessSchedule:
    def test_budget_and_order(self, spark):
        rows = [
            (f"https://registry.npmjs.org/p{i}", "registry.npmjs.org", float(i))
            for i in range(50)
        ] + [
            (f"https://gitlab.com/x/y/raw/master/f{i}", "gitlab.com", float(i))
            for i in range(5)
        ]
        df = spark.createDataFrame(rows, "url string, host string, priority double")
        out = politeness_schedule(df, {"registry.npmjs.org": 6, "gitlab.com": 10})
        got = out.groupBy("host").count().collect()
        counts = {r["host"]: r["count"] for r in got}
        assert counts == {"registry.npmjs.org": 6, "gitlab.com": 5}
        # highest-priority rows win
        reg = [r["priority"] for r in out.where(F.col("host") == "registry.npmjs.org").collect()]
        assert sorted(reg) == [44.0, 45.0, 46.0, 47.0, 48.0, 49.0]

    def test_histogram_hints_stay_exact(self, spark):
        """Steady-state histogram scheduling with carried-over bounds must
        stay EXACT even when the hints are stale (too-narrow bounds push
        rows into clamped/negative bins — classified identically in the
        histogram job and the final plan) or miss a host entirely (null
        bin -> scheduled through the stats-first path)."""
        rows = [
            (f"https://h0.org/p{i:03d}", "h0.org", float(i % 13)) for i in range(60)
        ] + [
            (f"https://h1.org/q{i:03d}", "h1.org", float(50 - i)) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "url string, host string, priority double")
        budget = 9
        expected = set()
        for host in ("h0.org", "h1.org"):
            items = sorted(
                [(u, p) for u, h, p in rows if h == host],
                key=lambda t: (-t[1], t[0]),
            )
            expected |= {u for u, _ in items[:budget]}
        # stale bounds for h0 (true range is [0, 12]); h1 absent entirely
        sched = politeness_schedule(
            df, {}, default_budget=budget,
            hist_hints={"h0.org": (3.0, 7.0)},
        )
        got = {r["url"] for r in sched.collect()}
        assert got == expected
        assert sched.scheduled_count == len(expected)
        assert "h0.org" in sched.hist_hints
        # the unknown host must be DETECTED (null bin -> stats-first path),
        # not silently clamped to the top bin: its true bounds come back in
        # hist_hints so the next tick schedules it on the fast path
        assert sched.hist_hints.get("h1.org") == (11.0, 50.0)

    def test_zero_width_hint_stays_exact(self, spark):
        """A hint whose bounds collapsed to one value (every pending row of
        the host had the same priority) gives a near-zero bin width: rows
        far below it must land in the lowest bin instead of overflowing
        the int bin cast and failing the job, and the schedule stays
        exact."""
        rows = [(f"https://h0.org/p{i:02d}", "h0.org", float(i)) for i in range(20)]
        df = spark.createDataFrame(rows, "url string, host string, priority double")
        sched = politeness_schedule(
            df, {}, default_budget=5, hist_hints={"h0.org": (3.0, 3.0)}
        )
        got = sorted(r["url"] for r in sched.collect())
        assert got == [f"https://h0.org/p{i:02d}" for i in range(15, 20)]
        assert sched.scheduled_count == 5

    def test_counts_carry_schedules_identically_across_generations(self, spark):
        """Counts-carry contract: when the caller's pending set changed
        only by retiring the previous winner set, passing back the
        scheduler's hist_counts ledger (no histogram scan at all) must
        schedule the IDENTICAL winner set as a fresh histogram scan, for
        every generation of a drain — including a host that fully drains
        mid-way (it must drop out of the ledger)."""
        rows = (
            [(f"https://h0.org/p{i:05d}", "h0.org", float((i * 7) % 4999)) for i in range(5000)]
            + [(f"https://h1.org/q{i:05d}", "h1.org", float((i * 13) % 3001)) for i in range(3000)]
            + [(f"https://h2.org/r{i:05d}", "h2.org", float(i)) for i in range(50)]
        )
        base = spark.createDataFrame(
            rows, "url string, host string, priority double"
        ).cache()
        base.count()

        def drain(carry: bool) -> list[list[str]]:
            pending = base
            hints = None
            counts = None
            per_gen: list[list[str]] = []
            for g in range(4):
                sched = politeness_schedule(
                    pending, {}, default_budget=700,
                    hist_hints=hints,
                    hist_counts=counts if (carry and g > 0) else None,
                )
                urls = sorted(r["url"] for r in sched.collect())
                per_gen.append(urls)
                assert sched.scheduled_count == len(urls)
                hints = sched.hist_hints or hints
                counts = getattr(sched, "hist_counts", None)
                if not urls:
                    break
                retired = spark.createDataFrame(
                    [(u,) for u in urls], "url string"
                )
                pending = pending.join(F.broadcast(retired), "url", "left_anti")
            return per_gen

        fresh = drain(carry=False)
        carried = drain(carry=True)
        assert carried == fresh
        # h2 (50 rows < budget) drains in generation 1 and must leave the
        # carried ledger entirely
        sched0 = politeness_schedule(base, {}, default_budget=700)
        assert "h2.org" not in sched0.hist_counts
        # ledger totals must equal the surviving pending rows per host
        lived = {
            hh: sum(bins.values()) for hh, bins in sched0.hist_counts.items()
        }
        assert lived == {"h0.org": 5000 - 700, "h1.org": 3000 - 700}

    def test_counts_carry_requires_hints(self, spark):
        df = spark.createDataFrame(
            [("https://h0.org/a", "h0.org", 1.0)],
            "url string, host string, priority double",
        )
        with pytest.raises(ValueError, match="hist_counts requires"):
            politeness_schedule(
                df, {}, default_budget=10,
                hist_counts={"h0.org": {0: 1}},
            )

    def test_hints_skip_stats_job_and_schedule_identically(self, spark):
        """Steady-state contract (the engine loop's hint reuse): scheduling
        with carried-over bounds runs EXACTLY one fewer Spark job (the
        per-host stats scan is skipped) and produces the identical winner
        set."""
        rows = [
            (f"https://h0.org/p{i:04d}", "h0.org", float((i * 7) % 997))
            for i in range(3000)
        ] + [
            (f"https://h1.org/q{i:04d}", "h1.org", float((i * 13) % 991))
            for i in range(2000)
        ]
        df = spark.createDataFrame(
            rows, "url string, host string, priority double"
        ).cache()
        df.count()
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def run(group, hints):
            sc.setJobGroup(group, group)
            try:
                sched = politeness_schedule(
                    df, {}, default_budget=40,
                    hist_hints=hints,
                )
                urls = sorted(r["url"] for r in sched.collect())
            finally:
                sc.setJobGroup(None, None)
            return urls, sched.hist_hints, len(tracker.getJobIdsForGroup(group))

        cold_urls, bounds, cold_jobs = run("hints-cold", None)
        warm_urls, _, warm_jobs = run("hints-warm", bounds)
        assert warm_urls == cold_urls
        # the stats scan is gone — under AQE its agg-collect is two Spark
        # jobs (shuffle-map + result), so the warm path runs exactly two
        # fewer; everything downstream (histogram job, boundary window,
        # winner checkpoint) is identical
        assert cold_jobs - warm_jobs == 2
        assert warm_jobs < cold_jobs
        df.unpersist()

    def test_counts_carry_skips_histogram_job(self, spark):
        """Counts-carry contract, job-count form: a tick fed the previous
        tick's bin-count ledger must also drop the histogram agg-collect
        (two more Spark jobs under AQE) while scheduling the identical
        winner set over the retired pending — ONE scan of pending remains
        (the candidate materialization)."""
        rows = [
            (f"https://h0.org/p{i:04d}", "h0.org", float((i * 7) % 997))
            for i in range(3000)
        ] + [
            (f"https://h1.org/q{i:04d}", "h1.org", float((i * 13) % 991))
            for i in range(2000)
        ]
        df = spark.createDataFrame(
            rows, "url string, host string, priority double"
        ).cache()
        df.count()
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        # tick 1: fresh — captures bounds + the post-schedule ledger
        first = politeness_schedule(df, {}, default_budget=40)
        gone = spark.createDataFrame(
            [(r["url"],) for r in first.collect()], "url string"
        )
        pending2 = df.join(F.broadcast(gone), "url", "left_anti").cache()
        pending2.count()

        def run(group, counts):
            sc.setJobGroup(group, group)
            try:
                sched = politeness_schedule(
                    pending2, {}, default_budget=40,
                    hist_hints=first.hist_hints, hist_counts=counts,
                )
                urls = sorted(r["url"] for r in sched.collect())
            finally:
                sc.setJobGroup(None, None)
            return urls, len(tracker.getJobIdsForGroup(group))

        scan_urls, scan_jobs = run("carry-cold", None)
        carry_urls, carry_jobs = run("carry-warm", first.hist_counts)
        assert carry_urls == scan_urls
        assert scan_jobs - carry_jobs == 2  # the histogram agg-collect
        for d in (df, pending2):
            d.unpersist()

    def test_histogram_exact_at_10k_hosts(self, spark, monkeypatch):
        """Host-cardinality guard: above HIST_MAP_MAX_HOSTS the histogram
        scheduler must not embed per-host literals (create_map of 10k
        entries) in the plan — it broadcast-joins a host-params frame — and
        must stay exact, including on the hints path."""
        from pyspark.sql import Window

        n_hosts, per = 10_000, 6
        df = spark.range(n_hosts * per).select(
            F.concat(
                F.lit("h"), (F.col("id") % n_hosts).cast("string"), F.lit(".org")
            ).alias("host"),
            F.pmod(F.xxhash64("id"), F.lit(100_000)).cast("double").alias("priority"),
            F.concat(F.lit("https://x/"), F.col("id")).alias("url"),
        ).select("url", "host", "priority").cache()
        df.count()

        # literal-map construction must never run at this cardinality
        def no_literals(bounds, n_bins=FR.HIST_N_BINS):
            assert len(bounds) <= FR.HIST_MAP_MAX_HOSTS, (
                f"literal host-params map built for {len(bounds)} hosts"
            )
            return real_bin_expr(bounds, n_bins)

        real_bin_expr = FR.histogram_bin_expr
        monkeypatch.setattr(FR, "histogram_bin_expr", no_literals)

        budget = 3
        w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
        expected = {
            r["url"]
            for r in df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= budget)
            .select("url")
            .collect()
        }
        sched = politeness_schedule(df, {}, default_budget=budget)
        got = {r["url"] for r in sched.collect()}
        assert got == expected
        assert sched.scheduled_count == len(expected)
        assert len(sched.hist_hints) == n_hosts

        # hints path at the same cardinality: identical winners, no stats job
        warm = politeness_schedule(
            df, {}, default_budget=budget,
            hist_hints=sched.hist_hints,
        )
        assert {r["url"] for r in warm.collect()} == expected
        df.unpersist()

    def test_deterministic(self, spark):
        rows = [(f"https://h/{i}", "h", 1.0) for i in range(100)]
        df = spark.createDataFrame(rows, "url string, host string, priority double")
        a = sorted(r["url"] for r in politeness_schedule(df, {}, default_budget=7).collect())
        b = sorted(r["url"] for r in politeness_schedule(df.repartition(13), {}, default_budget=7).collect())
        assert a == b  # ties broken by url, not partition order


class TestEmptyOutcomes:
    def test_all_ok_generation_commits_no_not_found(self, spark, universe, tmp_path):
        """A generation whose registry fetches all come back ``ok`` writes
        and commits nothing to ``not_found``: no zero-row file."""
        c = Crawl(
            spark, str(tmp_path / "crawl"), universe,
            total_npm_downloads=10_000_000, budget_multiplier=10,
            backoff_scale=0.02, transient_modulus=0,
        )
        # the synthetic registry's not-found rule (run_generation's
        # `not_found` condition), negated: every seeded doc fetches ok
        found = universe["raw_docs"].where(
            F.col("raw_json").isNotNull()
            & (F.pmod(F.xxhash64("doc_id"), F.lit(41)) != 0)
        )
        c.seed(found.select("doc_id"))
        before = c.not_found.current_snapshot_id()
        m = c.run_generation(0)
        assert m["registry_ok"] > 0
        assert m["registry_retry"] == m["registry_throttled"] == 0
        assert c.not_found.current_snapshot_id() == before


class TestBootstrap:
    def test_full_crawl(self, crawl, spark):
        metrics = crawl.run_bootstrap(max_generations=60, log=None)
        assert metrics[-1]["scheduled"] == 0  # drained
        pkgs = crawl.packages.read(spark)
        n_pkgs = pkgs.count()
        assert n_pkgs > 0

        # every named doc is either a package or quarantined not_found/lost
        fr = crawl.frontier.read(spark)
        states = {r["state"] for r in fr.select("state").distinct().collect()}
        assert "pending" not in states

        # not-found simulation quarantined some docs (dead-letter path)
        assert crawl.not_found.exists()

        # three hops happened
        kinds = {r["kind"] for r in fr.select("kind").distinct().collect()}
        assert kinds == {"registry_doc", "file_list", "changelog_probe"}

        # retry/backoff path exercised: some rows have retries > 0
        assert fr.where(F.col("retries") > 0).count() > 0

        # robots.txt rules enforced: blocked URLs are terminal, never fetched
        n_blocked = sum(m.get("robots_blocked", 0) for m in metrics)
        assert fr.where(F.col("state") == "robots_blocked").count() == n_blocked
        if n_blocked:
            blocked_urls = [
                r["url"] for r in fr.where(F.col("state") == "robots_blocked").collect()
            ]
            assert all(
                "/user-7" in u or "/user-17" in u or "/user-27" in u
                or "/npm/@angular/" in u or "/user-99" in u
                for u in blocked_urls
            )
            blocked = _url_pairs(crawl, fr.where(F.col("state") == "robots_blocked"))
            assert not blocked & _seen_pairs(spark, crawl)

        # seen-set invariant, exact: seen == URLs whose frontier row reached a
        # successfully-processed terminal state (done incl. dups, not_found).
        # robots-blocked and lost rows were never fetched -> never seen; a
        # transiently-failed URL enters seen only after its successful retry.
        terminal = _url_pairs(crawl, fr.where(F.col("state").isin("done", "not_found")))
        assert _seen_pairs(spark, crawl) == terminal

        # retry-loss regression: with transient failures enabled, every named
        # doc must end up in packages or quarantined not_found — a retried
        # registry URL must NOT be dropped as a dup on its second attempt
        nf_docs = (
            crawl.not_found.read(spark)
            .where(F.col("kind") == "registry_doc")
            .select("doc_id")
            .distinct()
            .count()
        )
        assert n_pkgs + nf_docs == N_DOCS

        # packages got span-derived enrichment (hop 2)
        enriched = pkgs.where(F.col("changelogFilename").isNotNull()).count()
        assert enriched > 0

    def test_resume_equivalence(self, spark, universe, tmp_path):
        """Kill after generation k, resume, final state must equal an
        uninterrupted run (north rule: resume-exact from checkpoint)."""
        a = Crawl(spark, str(tmp_path / "a"), universe, 10_000_000, budget_multiplier=10, backoff_scale=0.02, transient_modulus=13)
        a.seed(universe["raw_docs"].select("doc_id"))
        a.run_bootstrap(max_generations=60, log=None)

        b = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000, budget_multiplier=10, backoff_scale=0.02, transient_modulus=13)
        b.seed(universe["raw_docs"].select("doc_id"))
        b.run_bootstrap(max_generations=2, log=None)  # "crash" after 2 generations
        # simulate a half-applied generation: stray packages write, no state commit
        b.packages.append(
            b.packages.read(spark).limit(1).withColumn("objectID", F.lit("GARBAGE"))
        )
        b2 = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000, budget_multiplier=10, backoff_scale=0.02, transient_modulus=13)
        b2.run_bootstrap(max_generations=60, log=None)

        pa = a.packages.read(spark)
        pb = b2.packages.read(spark)
        assert pa.count() == pb.count()
        assert pb.where(F.col("objectID") == "GARBAGE").count() == 0
        volatile = {"lastCrawl", "_revision"}
        cols = sorted(set(pa.columns) - volatile)

        def digest(df):
            return {
                r["h"]
                for r in df.select(
                    F.md5(F.to_json(F.struct(*cols))).alias("h")
                ).collect()
            }

        assert digest(pa) == digest(pb)
        # seen sets identical
        assert _seen_pairs(spark, a) == _seen_pairs(spark, b2)


class TestSteadyStateHints:
    def test_generation_loop_carries_hints(self, spark, universe, tmp_path, monkeypatch):
        """The engine loop (not just bench.py) reuses the histogram
        scheduler's per-host bounds across generations: generation 1 runs
        stats-first (hints=None), every later generation passes the carried
        bounds, and the bounds survive a checkpoint/resume round-trip."""
        seen_hints: list[dict | None] = []
        real = FR._schedule_histogram_topk

        def spy(*args, **kwargs):
            seen_hints.append(kwargs.get("hist_hints"))
            return real(*args, **kwargs)

        monkeypatch.setattr(FR, "_schedule_histogram_topk", spy)
        c = Crawl(
            spark, str(tmp_path / "hints"), universe, 10_000_000,
            budget_multiplier=128,
            backoff_scale=0.02, transient_modulus=0, throttle_modulus=0,
        )
        c.seed(universe["raw_docs"].select("doc_id"))
        c.run_bootstrap(max_generations=3, log=None)
        assert len(seen_hints) >= 2
        assert seen_hints[0] is None  # gen 1: stats-first
        assert seen_hints[1]  # gen 2+: bounds carried, stats job skipped
        assert "registry.npmjs.org" in seen_hints[1]
        assert c.hist_hints  # engine state carries the latest bounds

        # persisted with the crawl state; resume() restores tuples
        c2 = Crawl(
            spark, str(tmp_path / "hints"), universe, 10_000_000,
            budget_multiplier=128, backoff_scale=0.02,
            transient_modulus=0, throttle_modulus=0,
        )
        st = c2.resume()
        assert st.hist_hints
        assert c2.hist_hints == {
            h: (float(v[0]), float(v[1])) for h, v in st.hist_hints.items()
        }


class TestCountsCarryEngine:
    def test_bootstrap_equivalence_and_engagement(self, spark, universe, tmp_path):
        """The engine loop's counts-carry ledger must (a) change NOTHING
        about what a bootstrap produces — packages, seen set, per-gen
        scheduled counts are byte-identical with the ledger on and off —
        and (b) actually engage (a generation scheduling real rows without
        a histogram scan) once the hop host set stabilizes."""

        def run(root: str, carry: bool):
            c = Crawl(
                spark, str(tmp_path / root), universe, 10_000_000,
                budget_multiplier=2, backoff_scale=0.02,
                transient_modulus=0, throttle_modulus=0, carry_counts=carry,
            )
            c.seed(universe["raw_docs"].select("doc_id"))
            m = c.run_bootstrap(max_generations=8, log=None)
            pk = sorted(
                r["objectID"]
                for r in c.packages.read(spark).select("objectID").collect()
            )
            seen = sorted(_seen_pairs(spark, c))
            return pk, seen, [g.get("scheduled") for g in m], [
                (g.get("hist_counts_carried"), g.get("scheduled")) for g in m
            ]

        pk1, seen1, sched1, car1 = run("carry", True)
        pk0, seen0, sched0, car0 = run("nocarry", False)
        assert pk1 == pk0
        assert seen1 == seen0
        assert sched1 == sched0
        assert not any(c for c, _ in car0)
        # at least one generation scheduled real rows off the carried ledger
        assert any(c and (n or 0) > 0 for c, n in car1), car1


    def test_ledger_mode_subset_carry_and_snapshot_invalidation(
        self, spark, universe, tmp_path
    ):
        """Two corners of the engine ledger: (a) budgets_override (the
        watch per-trigger-window path) schedules off a SUBSET of the
        carried ledger — set-aside hosts must rejoin it and later full
        generations must still schedule identically to a no-carry run;
        (b) an external frontier write (watch/periodic enqueue) moves the
        snapshot anchor and must force a rescan, never a stale carry."""
        ov = {
            "registry.npmjs.org": 7,
            "cdn.jsdelivr.net": 0,  # exhausted window: not even scanned
            "raw.githubusercontent.com": 5,
            "gitlab.com": 5,
            "bitbucket.org": 5,
        }

        def run(root: str, carry: bool):
            c = Crawl(
                spark, str(tmp_path / root), universe, 10_000_000,
                budget_multiplier=2, backoff_scale=0.02,
                transient_modulus=0, throttle_modulus=0, carry_counts=carry,
            )
            c.seed(universe["raw_docs"].select("doc_id"))
            # gens 1-4 full: new hop hosts appear through gen 3 (each
            # first-seen host's enqueue legitimately drops the ledger — the
            # contract is "covers every pending host"), so the first
            # carryable ledger exists after gen 4
            ms = [c.run_generation(g) for g in (1, 2, 3, 4)]
            ms += [c.run_generation(g, budgets_override=ov) for g in (5, 6)]
            ms.append(c.run_generation(7))  # full again: asides must rejoin
            return c, ms

        c1, ms1 = run("carry", True)
        c0, ms0 = run("nocarry", False)
        assert [m.get("scheduled") for m in ms1] == [m.get("scheduled") for m in ms0]
        assert [m.get("scheduled_by_host") for m in ms1] == [
            m.get("scheduled_by_host") for m in ms0
        ]
        carried = [m.get("hist_counts_carried") for m in ms1]
        assert any(carried[4:6]), carried  # an override tick consumed a carry
        assert carried[6], carried  # asides rejoined: the full gen carried too

        # (b) an external append (what watch/periodic enqueue does) must
        # invalidate the anchor: the next generation rescans
        if c1.hist_counts is None:
            c1.run_generation(8)  # rebuild a live ledger first
        assert c1.hist_counts is not None
        extra = spark.createDataFrame(
            [(
                "https://registry.npmjs.org/extra-pkg", "registry.npmjs.org",
                "registry_doc", "extra-pkg", 5.0, 0, "pending", None, 0,
                (0, 0, 99),
            )],
            c1.frontier.read(spark).schema,
        )
        c1.frontier.append(extra, meta={"op": "external-enqueue"})
        m = c1.run_generation(9)
        assert m.get("hist_counts_carried") is False


class TestRetryClasses:
    def test_429_pauses_whole_host_without_burning_retries(self, spark, universe, tmp_path):
        """T5 throttle class (reference src/npm/index.ts:213-227): a 429
        pauses the host's entire queue for HOST_PAUSE_S; throttled rows stay
        pending with retries unchanged and defer together."""
        c = Crawl(spark, str(tmp_path / "a"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=1.0,
                  transient_modulus=0, throttle_modulus=4)
        c.seed(universe["raw_docs"].select("doc_id"))
        m1 = c.run_generation(1)
        assert m1["registry_throttled"] > 0
        assert "registry.npmjs.org" in c.host_pauses
        fr = c.frontier.read(spark)
        deferred = fr.where(
            (F.col("state") == "pending")
            & F.col("next_attempt_at").isNotNull()
            & (F.col("retries") == 0)
        )
        assert deferred.count() == m1["registry_throttled"]
        # the pause covers the host's REMAINING queue too: while paused, no
        # registry row moves (other hosts — the hop-2 CDN rows — still run)
        def reg_pending():
            return (
                c.frontier.read(spark)
                .where((F.col("host") == "registry.npmjs.org") & (F.col("state") == "pending"))
                .count()
            )

        before = reg_pending()
        m2 = c.run_generation(2)
        assert reg_pending() == before
        assert m2["registry_ok"] == 0

    def test_throttled_crawl_completes_after_pause(self, spark, universe, tmp_path):
        """After the pause expires the throttled URLs are re-fetched —
        nothing is lost and no retry budget was spent on 429s."""
        c = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.03,
                  transient_modulus=0, throttle_modulus=4)
        c.seed(universe["raw_docs"].select("doc_id"))
        c.run_bootstrap(max_generations=60, log=None)
        n_pkgs = c.packages.read(spark).count()
        nf = (c.not_found.read(spark).where(F.col("kind") == "registry_doc")
              .select("doc_id").distinct().count())
        assert n_pkgs + nf == N_DOCS
        assert c.frontier.read(spark).where(F.col("retries") > 0).count() == 0


class TestQuarantineProvenance:
    def test_not_found_rows_carry_moved_by(self, spark, universe, tmp_path):
        """Quarantined rows record which job/generation moved them out of
        the live queue (reference tags moved records `movedBy`,
        src/algolia/index.ts:64-93)."""
        c = Crawl(spark, str(tmp_path / "q"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=0)
        c.seed(universe["raw_docs"].select("doc_id"))
        c.run_generation(1)
        nf = c.not_found.read(spark)
        assert nf.count() > 0
        tags = {r["moved_by"] for r in nf.select("moved_by").distinct().collect()}
        assert tags == {"bootstrap:gen-1"}


class TestFrontierGC:
    def test_gc_bounds_frontier_same_results(self, spark, universe, tmp_path):
        """With gc_terminal=True the frontier GCs successfully-processed rows
        in the same MERGE pass (reference deletes isProcessed:1 rows every
        minute, src/indexers/MainWatchIndexer.ts:51-61) — packages output
        must be identical, frontier bytes bounded by the active set."""
        a = Crawl(spark, str(tmp_path / "a"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=13,
                  gc_terminal=False)
        a.seed(universe["raw_docs"].select("doc_id"))
        a.run_bootstrap(max_generations=60, log=None)
        b = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=13,
                  gc_terminal=True)
        b.seed(universe["raw_docs"].select("doc_id"))
        b.run_bootstrap(max_generations=60, log=None)

        pa, pb = a.packages.read(spark), b.packages.read(spark)
        assert pa.count() == pb.count()
        volatile = {"lastCrawl", "_revision"}
        cols = sorted(set(pa.columns) - volatile)

        def digest(df):
            return {
                r["h"] for r in df.select(F.md5(F.to_json(F.struct(*cols))).alias("h")).collect()
            }

        assert digest(pa) == digest(pb)
        # terminal rows are gone; what survives is the error/blocked residue
        fb = b.frontier.read(spark)
        assert fb.where(F.col("state").isin("done", "not_found")).count() == 0
        assert fb.count() < a.frontier.read(spark).count()
        # quarantine unaffected by GC
        assert b.not_found.read(spark).count() == a.not_found.read(spark).count()

    def test_generation_commits_are_merge_not_overwrite(self, spark, universe, tmp_path):
        """Scale contract: after seeding, no generation may rewrite the whole
        frontier — commits are MERGE (affected files only) or append."""
        c = Crawl(spark, str(tmp_path / "c"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=0)
        c.seed(universe["raw_docs"].select("doc_id"))
        c.run_generation(1)
        c.run_generation(2)
        ops = [s.operation for s in c.frontier.history()]
        assert ops[0] == "overwrite"  # the seed
        assert set(ops[1:]) <= {"merge", "append"}
        # a merge carries at least the untouched-file invariant end-to-end:
        # every file in the latest snapshot either existed before or is new,
        # and at least one pre-merge file survives across generation 2
        hist = c.frontier.history()
        gen2_parent = hist[-2].files if len(hist) >= 2 else []
        carried = set(gen2_parent) & set(hist[-1].files)
        assert carried or not gen2_parent


class TestProvenanceGeneration:
    """Per-generation fixed cost pins, from one spied bootstrap: the
    frontier MERGE takes the scheduled rows' files from the pending scan
    (no detection), hop 2 reads the pinned formatPkg output (no second
    Arrow pass), and an empty tick runs no ``isEmpty`` action."""

    @pytest.fixture(scope="class")
    def spied(self, spark, universe, tmp_path_factory):
        from npm_search_spark.tables import SnapTable

        detected: list[str] = []
        enqueue_plans: list[str] = []
        is_empty_calls: list[int] = []
        real_detect = SnapTable._affected_files
        real_filter = FR.filter_new_urls
        df_cls = type(spark.range(1))

        def detect(self, *args, **kwargs):
            detected.append(self.root)
            return real_detect(self, *args, **kwargs)

        def filter_new(*args, **kwargs):
            out = real_filter(*args, **kwargs)
            enqueue_plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        def is_empty(self):
            is_empty_calls.append(1)
            return self.limit(1).count() == 0

        # budgets that take each hop in one generation: few generations,
        # each with a real MERGE, then an empty tick
        c = Crawl(spark, str(tmp_path_factory.mktemp("prov") / "c"), universe,
                  10_000_000, budget_multiplier=100, backoff_scale=0.02,
                  transient_modulus=0)
        c.seed(universe["raw_docs"].select("doc_id"))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(SnapTable, "_affected_files", detect)
            mp.setattr(FR, "filter_new_urls", filter_new)
            mp.setattr(df_cls, "isEmpty", is_empty)
            metrics = c.run_bootstrap(max_generations=60, log=None)
        return c, metrics, detected, enqueue_plans, is_empty_calls

    def test_frontier_merge_never_detects(self, spied):
        c, metrics, detected, _, _ = spied
        assert metrics[-1]["scheduled"] == 0  # drained
        merges = [s for s in c.frontier.history() if s.operation == "merge"]
        assert len(merges) == sum(1 for m in metrics if m["scheduled"])
        assert c.frontier.root not in detected

    def test_hop2_enqueue_reads_pinned_format_output(self, spied):
        _, _, _, plans, _ = spied
        hop2 = [p for p in plans if "cdn.jsdelivr.net" in p]
        assert hop2  # the generations that fetched registry docs enqueued hop 2
        # formatPkg's Arrow pass is the MapInPandas over raw registry JSON
        # (the synthetic universe's own generators are MapInPandas too)
        format_nodes = [
            line for p in hop2 for line in p.splitlines()
            if "MapInPandas" in line and "raw_json" in line
        ]
        assert format_nodes == []

    def test_generation_runs_no_is_empty_action(self, spied):
        _, metrics, _, _, calls = spied
        assert any(m["scheduled"] == 0 for m in metrics)  # an empty tick ran
        assert calls == []


class TestGroupCommit:
    """checkpoint_interval > 1: seen appends group-commit at checkpoint
    boundaries (one durable append + one state save per interval) with
    results identical to per-generation durability."""

    def _digest(self, spark, df):
        volatile = {"lastCrawl", "_revision"}
        cols = sorted(set(df.columns) - volatile)
        return {
            r["h"]
            for r in df.select(F.md5(F.to_json(F.struct(*cols))).alias("h")).collect()
        }

    def test_interval_crawl_matches_per_generation(self, spark, universe, tmp_path):
        a = Crawl(spark, str(tmp_path / "a"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=13)
        a.seed(universe["raw_docs"].select("doc_id"))
        a.run_bootstrap(max_generations=60, log=None)
        b = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=13,
                  checkpoint_interval=3)
        b.seed(universe["raw_docs"].select("doc_id"))
        b.run_bootstrap(max_generations=60, log=None)

        assert self._digest(spark, a.packages.read(spark)) == self._digest(
            spark, b.packages.read(spark)
        )
        assert _seen_pairs(spark, a) == _seen_pairs(spark, b)
        assert not b.seen._pending  # everything flushed at exit
        # the whole point: fewer durable seen commits than generations
        gens = len([s for s in a.seen.table.history() if s.operation == "append"])
        grouped = len([s for s in b.seen.table.history() if s.operation == "append"])
        assert grouped < gens

    def test_resume_mid_interval_discards_deferred(self, spark, universe, tmp_path):
        """Crash between checkpoints: un-flushed seen adds are discarded on
        resume and the re-run converges to the uninterrupted result."""
        a = Crawl(spark, str(tmp_path / "a"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=13,
                  checkpoint_interval=4)
        a.seed(universe["raw_docs"].select("doc_id"))
        a.run_bootstrap(max_generations=60, log=None)

        b = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=13,
                  checkpoint_interval=4)
        b.seed(universe["raw_docs"].select("doc_id"))
        # two raw generations with NO flush — a crash mid-interval
        b.run_generation(1)
        b.run_generation(2)
        assert b.seen._pending  # deferred, not durable
        b2 = Crawl(spark, str(tmp_path / "b"), universe, 10_000_000,
                   budget_multiplier=10, backoff_scale=0.02, transient_modulus=13,
                   checkpoint_interval=4)
        b2.run_bootstrap(max_generations=60, log=None)

        assert self._digest(spark, a.packages.read(spark)) == self._digest(
            spark, b2.packages.read(spark)
        )
        assert _seen_pairs(spark, a) == _seen_pairs(spark, b2)


class TestBootstrapLifecycle:
    def test_finalize_promotes_and_redo_window_triggers(self, spark, universe, tmp_path):
        """Promote = manifest commit over the same immutable files
        (reference copies bootstrap index -> prod, src/bootstrap.ts:167-200);
        redo re-seeds after the 30-day window (src/config.ts:173)."""
        from npm_search_spark.frontier import BOOTSTRAP_REDO_MS

        c = Crawl(spark, str(tmp_path / "c"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=0)
        c.seed(universe["raw_docs"].select("doc_id"))
        c.run_bootstrap(max_generations=60, log=None)
        now = 1_755_000_000_000
        prod = c.finalize_bootstrap(now_ms=now)
        assert prod.snapshot().files == c.packages.snapshot().files  # O(1) copy
        n_prod = prod.read(spark).count()
        assert n_prod == c.packages.read(spark).count()
        st = c.state.load()
        assert st.stage == "watch" and st.bootstrap_done
        assert st.bootstrap_last_done == now

        assert not c.needs_bootstrap_redo(now + 86_400_000)
        assert c.needs_bootstrap_redo(now + BOOTSTRAP_REDO_MS)

        # redo: fresh seen + frontier epoch; prod keeps serving
        c.redo_bootstrap(universe["raw_docs"].select("doc_id"))
        assert c.seen.count(spark) == 0
        fr = c.frontier.read(spark)
        assert fr.where(F.col("state") == "pending").count() == N_DOCS
        assert prod.read(spark).count() == n_prod
        c.run_bootstrap(max_generations=60, log=None)
        prod2 = c.finalize_bootstrap(now_ms=now + BOOTSTRAP_REDO_MS)
        assert prod2.read(spark).count() == n_prod  # same universe re-crawled

        # index-settings analogue: the promote commit records the
        # reference's searchable-attributes/custom-ranking config, and the
        # optional ranking layout clusters prod by the custom ranking so
        # each file covers a popularity band (stats-prunable top-k reads)
        hist = prod2.history()
        promote = [s for s in hist if s.operation == "promote"][-1]
        assert promote.meta["index_settings"]["custom_ranking"][0] == (
            "desc(_downloadsMagnitude)"
        )
        prod3 = c.finalize_bootstrap(
            now_ms=now + BOOTSTRAP_REDO_MS, apply_ranking_layout=True
        )
        snap3 = prod3.snapshot()
        assert snap3.meta.get("op") == "ranking-layout"
        assert prod3.read(spark).count() == n_prod
        bands = [
            snap3.file_stats[f]["_downloadsMagnitude"]
            for f in snap3.files
            if f in snap3.file_stats and "_downloadsMagnitude" in snap3.file_stats[f]
        ]
        if len(bands) > 1:
            # range-clustered on the ranking: bands are ordered, not mixed
            assert max(b[1] for b in bands) > min(b[1] for b in bands) or all(
                b == bands[0] for b in bands
            )

    def test_replica_promotion_shares_files_and_rankings(self, spark, universe, tmp_path):
        """Replica analogue (reference README.md:69 — the index is served
        x4): each alternative-ranking replica is a manifest commit over
        prod's immutable files (zero data movement) carrying its own
        custom_ranking; the optional layout pass re-clusters a replica by
        its own order."""
        c = Crawl(spark, str(tmp_path / "r"), universe, 10_000_000,
                  budget_multiplier=10, backoff_scale=0.02, transient_modulus=0)
        c.seed(universe["raw_docs"].select("doc_id"))
        c.run_bootstrap(max_generations=60, log=None)
        prod = c.finalize_bootstrap(now_ms=1_755_000_000_000, with_replicas=True)
        n = prod.read(spark).count()
        from npm_search_spark.tables import SnapTable
        from npm_search_spark.schema import FINAL_PACKAGE

        for name, ranking in Crawl.REPLICA_SETTINGS.items():
            rep = SnapTable(f"{prod.root}__{name}", FINAL_PACKAGE)
            snap = rep.snapshot()
            assert snap.files == prod.snapshot().files  # shared, O(1) promote
            assert snap.meta["index_settings"]["custom_ranking"] == ranking
            assert rep.read(spark).count() == n
        # layout pass clusters a replica by its own ranking
        reps = c.promote_replicas(
            prod, apply_ranking_layout=True,
            replicas={"by_downloads": ["desc(downloadsLast30Days)"]},
        )
        rep = reps["by_downloads"]
        assert rep.snapshot().meta.get("op") == "ranking-layout"
        assert rep.read(spark).count() == n
        ids_prod = {r["objectID"] for r in prod.read(spark).select("objectID").collect()}
        ids_rep = {r["objectID"] for r in rep.read(spark).select("objectID").collect()}
        assert ids_rep == ids_prod

    def test_refresh_dims_picks_up_universe_changes(self, spark, universe, tmp_path):
        c = Crawl(spark, str(tmp_path / "d"), universe, 10_000_000)
        old = c._hits_ranked
        boosted = universe["jsdelivr_hits"].withColumn(
            "hits", F.col("hits") + F.lit(10_000_000)
        )
        c.universe = {**c.universe, "jsdelivr_hits": boosted}
        c.refresh_dims()
        assert c._hits_ranked is not old
        assert c._hits_ranked.agg(F.min("hits")).first()[0] >= 10_000_000


class TestCrawlOrderingVsSimulator:
    def test_first_generation_order(self, spark, universe, tmp_path):
        """The scheduled set + order of generation 1 must match a straight-
        line simulator of the reference semantics (priority queue + per-host
        budget) on the same seed list."""
        c = Crawl(spark, str(tmp_path / "c"), universe, 10_000_000, budget_multiplier=1)
        c.seed(universe["raw_docs"].select("doc_id"))

        fr = c.frontier.read(spark)
        pending = fr.where(F.col("state") == "pending")
        got = politeness_schedule(pending, FR.DEFAULT_BUDGETS).select(
            "host", "priority", "url"
        ).collect()
        got_order = sorted(
            [(r["host"], -r["priority"], r["url"]) for r in got]
        )

        # simulator: same seed list, dict of per-host token budgets
        seeds = [
            (f"https://registry.npmjs.org/{SYN.pkg_name(i)}".lower()
             if False else f"https://registry.npmjs.org/{SYN.pkg_name(i)}",
             "registry.npmjs.org",
             float(SYN.pkg_props(i)["downloads"]))
            for i in range(N_DOCS)
        ]
        budget = FR.DEFAULT_BUDGETS["registry.npmjs.org"]
        sim = sorted(seeds, key=lambda t: (-t[2], t[0]))[:budget]
        sim_order = sorted([(h, -p, u) for (u, h, p) in sim])
        assert got_order == sim_order
