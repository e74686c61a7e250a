"""Hop fusion: a generation resolves a registry doc, its file list and its
changelog probes in one pass when the admission rule holds, and writes
each table once. Fusion changes how many generations a crawl takes, never
its final tables; per host and generation it admits no more than the
budget (or the watch window's remaining ledger); the scheduled set stays
the exact top-k; and every commit of a fused generation is a safe crash
point."""

from __future__ import annotations

import datetime
import os
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from npm_search_spark import frontier as FR
from npm_search_spark.frontier import Crawl
from npm_search_spark.schema import CHANGES, FRONTIER
from npm_search_spark.sources import synthetic as SYN
from npm_search_spark.state import StateStore
from npm_search_spark.streaming.watch import Watch
from npm_search_spark.tables import SnapTable

N_DOCS = 12  # the perfbench bootstrap's size
PROBE_HOSTS = ("raw.githubusercontent.com", "gitlab.com", "bitbucket.org")
HOP_HOSTS = ("cdn.jsdelivr.net", *PROBE_HOSTS)
# how the perfbench bootstrap drives the crawl: every hop fits its budget
BENCH = {"budget_multiplier": 600, "transient_modulus": 0}
# the fused generation's Spark jobs at N_DOCS on the tests' SparkSession (4 local
# cores, 4 shuffle partitions), measured at 62-69, plus a small margin
FUSED_GEN_JOB_CEILING = 75


@pytest.fixture(scope="module")
def universe(spark):
    return {k: v.cache() for k, v in SYN.universe(spark, N_DOCS, partitions=2).items()}


def _crawl(spark, universe, root, **kw) -> Crawl:
    kw = {**BENCH, **kw}
    c = Crawl(spark, root, universe, 10_000_000, backoff_scale=0.02, **kw)
    return c


def _tables(spark, c: Crawl) -> dict:
    """A crawl's final tables, order-free: packages without the volatile
    columns, the one_time memo rows, not_found urls, the seen set's
    (key, key2) pairs and every frontier url's state."""
    pk = c.packages.read(spark)
    cols = sorted(set(pk.columns) - {"lastCrawl", "_revision"})
    return {
        "packages": sorted(
            r[0] for r in pk.select(F.md5(F.to_json(F.struct(*cols)))).collect()
        ),
        "one_time": sorted(
            (r["objectID"], r["changelogFilename"] or "")
            for r in c.one_time.read(spark).collect()
        ) if c.one_time.exists() else [],
        "not_found": sorted(
            (r["url"], r["kind"]) for r in c.not_found.read(spark).collect()
        ) if c.not_found.exists() else [],
        "seen": sorted(
            (r["key"], r["key2"])
            for r in c.seen.table.read(spark).select("key", "key2").collect()
        ),
        "frontier": sorted(
            (r["url"], r["state"])
            for r in c.frontier.read(spark).select("url", "state").collect()
        ),
    }


def _memo(rows) -> dict:
    """The one_time memo as the crawl reads it: the probed versions, each
    with the changelog its probes found."""
    out: dict[str, set] = {}
    for oid, fn in rows:
        out.setdefault(oid, set())
        if fn:
            out[oid].add(fn)
    return out


def test_fusion_changes_generations_not_tables(spark, universe, tmp_path):
    """The same universe crawled twice: once fused (the bench budgets),
    once with hop-host budgets too small to fuse (every hop's rows
    outnumber its host's budget, so they are enqueued and dequeued later,
    as before fusion). The final tables are identical."""
    fused = _crawl(spark, universe, str(tmp_path / "fused"), gc_terminal=False)
    fused.seed(universe["raw_docs"].select("doc_id"))
    mf = fused.run_bootstrap(max_generations=60, log=None)

    small = {
        "registry.npmjs.org": 600,
        "cdn.jsdelivr.net": 4,  # < the docs a generation formats
        # < the 18 changelog candidates a package yields per git host
        **{h: 17 for h in PROBE_HOSTS},
    }
    queued = _crawl(
        spark, universe, str(tmp_path / "queued"), gc_terminal=False,
        budgets=small, budget_multiplier=1,
    )
    queued.seed(universe["raw_docs"].select("doc_id"))
    mq = queued.run_bootstrap(max_generations=60, log=None)

    assert [m["scheduled"] > 0 for m in mf] == [True, False]
    assert mf[0]["fused_by_host"]
    assert not any(m["fused_by_host"] for m in mq)
    assert sum(m["scheduled"] > 0 for m in mq) > 3
    assert sum(m["scheduled"] for m in mf) == sum(m["scheduled"] for m in mq)

    a, b = _tables(spark, fused), _tables(spark, queued)
    for table in ("packages", "not_found", "seen", "frontier"):
        assert a[table] == b[table], table
    assert a["one_time"]
    # fused: one memo row per probed version. A probe set the small budget
    # split over k generations memoizes once per generation (null until
    # the generation that finds the hit), so the queued run is compared
    # as the memo is read: per version, the changelog found
    assert len({oid for oid, _ in a["one_time"]}) == len(a["one_time"])
    assert _memo(a["one_time"]) == _memo(b["one_time"])


def test_fused_generation_job_and_commit_budget(spark, universe, tmp_path, monkeypatch):
    """A bootstrap of perfbench size resolves in one generation that
    writes each table once: one packages commit, no frontier append (the
    hop rows never enter the frontier), and at most
    FUSED_GEN_JOB_CEILING Spark jobs for the generation's fused metrics
    pass, formatPkg, the hop bodies and commits together."""
    sc = spark.sparkContext
    commits: list[tuple[int, str, str]] = []
    jobs: dict[int, int] = {}
    gen = [0]
    real_commit = SnapTable._commit
    real_gen = Crawl.run_generation

    def commit(self, operation, *args, **kwargs):
        commits.append((gen[0], os.path.basename(self.root), operation))
        return real_commit(self, operation, *args, **kwargs)

    def run_generation(self, generation, *args, **kwargs):
        gen[0] = generation
        gid = f"fusion-budget-{generation}"
        sc.setJobGroup(gid, gid)
        try:
            return real_gen(self, generation, *args, **kwargs)
        finally:
            sc.setJobGroup(f"{gid}-after", "")
            jobs[generation] = len(sc.statusTracker().getJobIdsForGroup(gid))

    c = _crawl(spark, universe, str(tmp_path / "budget"))
    c.seed(universe["raw_docs"].select("doc_id"))
    monkeypatch.setattr(SnapTable, "_commit", commit)
    monkeypatch.setattr(Crawl, "run_generation", run_generation)
    metrics = c.run_bootstrap(max_generations=10, log=None)

    busy = [m["generation"] for m in metrics if m["scheduled"]]
    assert len(busy) == 1 and metrics[-1]["scheduled"] == 0
    (g,) = busy
    assert set(metrics[0]["fused_by_host"]) <= set(HOP_HOSTS)
    assert "cdn.jsdelivr.net" in metrics[0]["fused_by_host"]
    mine = [(t, op) for gg, t, op in commits if gg == g]
    by_table = {t: [op for tt, op in mine if tt == t] for t, _ in mine}
    assert len(by_table["packages"]) == 1
    assert by_table["one_time_data"] == ["append"]
    assert by_table["seen"] == ["append"]
    assert by_table["frontier"] == ["merge"]
    assert not [op for _, t, op in commits if t == "frontier" and op == "append"]
    assert jobs[g] <= FUSED_GEN_JOB_CEILING, jobs
    # the drained tick runs the scheduler's one stats job and nothing else
    assert jobs[metrics[-1]["generation"]] <= 1, jobs


def test_crash_at_every_commit_of_a_fused_generation(spark, universe, tmp_path, monkeypatch):
    """Kill the fused generation after each of its commits — packages,
    one_time, seen, the frontier MERGE, then the state save — resume, and
    finish: the tables equal those of an uninterrupted run."""
    ref = _crawl(spark, universe, str(tmp_path / "ref"), gc_terminal=False)
    ref.seed(universe["raw_docs"].select("doc_id"))
    order: list[str] = []
    real_commit = SnapTable._commit
    real_save = StateStore.save

    def recording(self, operation, *args, **kwargs):
        order.append(os.path.basename(self.root))
        return real_commit(self, operation, *args, **kwargs)

    def recording_save(self, state):
        order.append("state")
        return real_save(self, state)

    with monkeypatch.context() as m:
        m.setattr(SnapTable, "_commit", recording)
        m.setattr(StateStore, "save", recording_save)
        ref.run_bootstrap(max_generations=10, log=None)
    want = _tables(spark, ref)
    order = order[: order.index("state") + 1]  # the fused generation's commits
    assert order[:4] == ["packages", "one_time_data", "seen", "frontier"]
    assert order[-1] == "state"

    class Crash(Exception):
        pass

    for k in range(1, len(order) + 1):
        root = str(tmp_path / f"crash{k}")
        c = _crawl(spark, universe, root, gc_terminal=False)
        c.seed(universe["raw_docs"].select("doc_id"))
        n = [0]

        def counted(real):
            def call(*args, **kwargs):
                out = real(*args, **kwargs)
                n[0] += 1
                if n[0] == k:
                    raise Crash(k)
                return out
            return call

        with monkeypatch.context() as m:
            m.setattr(SnapTable, "_commit", counted(real_commit))
            m.setattr(StateStore, "save", counted(real_save))
            with pytest.raises(Crash):
                c.run_bootstrap(max_generations=10, log=None)
        resumed = _crawl(spark, universe, root, gc_terminal=False)
        resumed.run_bootstrap(max_generations=10, log=None)
        assert _tables(spark, resumed) == want, f"crash after commit {k}"


# ---------------------------------------------------------------------------
# admission property
# ---------------------------------------------------------------------------


def _hop_row(url, host, kind, prio, next_attempt_at=None):
    return (url, host, kind, "pre", float(prio), 0, "pending", next_attempt_at, 0, (0, 0, 0))


def _pending_rows(spark, c: Crawl):
    return [
        r for r in c.frontier.read(spark).where(F.col("state") == "pending").collect()
    ]


def _brute_topk(rows, budget_of, now, paused) -> set[str]:
    """Due, unpaused pending rows: per host the top budget by
    (priority DESC, url ASC)."""
    by_host: dict[str, list] = {}
    for r in rows:
        due = r["next_attempt_at"] is None or r["next_attempt_at"].timestamp() <= now
        if due and r["host"] not in paused:
            by_host.setdefault(r["host"], []).append(r)
    out: set[str] = set()
    for h, rs in by_host.items():
        rs.sort(key=lambda r: (-r["priority"], r["url"]))
        out |= {r["url"] for r in rs[: budget_of(h)]}
    return out


@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.too_slow,
                                                                 HealthCheck.function_scoped_fixture])
@given(
    budgets=st.fixed_dictionaries({h: st.integers(1, 40) for h in HOP_HOSTS}),
    registry=st.integers(3, 12),
    pre_pending=st.sampled_from(HOP_HOSTS),
    pre_backoff=st.sampled_from(HOP_HOSTS),
    paused=st.sampled_from(HOP_HOSTS),
)
def test_admission_stays_within_budget_and_topk_exact(
    spark, universe, tmp_path_factory, budgets, registry, pre_pending, pre_backoff, paused
):
    """Random hop-host budgets, a pre-existing due pending hop row, a
    backing-off one and a paused hop host. Every generation: each host's
    admissions (scheduled + fused) stay within its budget, a host with
    due pending rows outside the batch (or paused) never fuses, and the
    scheduled set is the brute-force top-k. A backing-off row is not due,
    so fused rows may overtake it, as any row the scheduler takes may."""
    c = Crawl(
        spark, str(tmp_path_factory.mktemp("adm") / "c"), universe, 10_000_000,
        budgets={"registry.npmjs.org": registry, **budgets}, budget_multiplier=1,
        backoff_scale=0.02, transient_modulus=0,
    )
    c.seed(universe["raw_docs"].select("doc_id"))
    far = datetime.datetime.now() + datetime.timedelta(hours=1)
    c.frontier.append(spark.createDataFrame([
        _hop_row(f"https://{pre_pending}/pre/due", pre_pending, "file_list", 5.0),
        _hop_row(f"https://{pre_backoff}/pre/later", pre_backoff, "file_list", 5.0, far),
    ], FRONTIER))
    c.host_pauses = {paused: time.time() + 3600}
    budget_of = FR.host_budgets(c.budgets, budget_multiplier=c.budget_multiplier)

    picked: list[set[str]] = []
    real = FR.politeness_schedule

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        picked.append({r["url"] for r in out.select("url").collect()})
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(FR, "politeness_schedule", spy)
        for g in range(1, 9):
            before = _pending_rows(spark, c)
            want = _brute_topk(before, budget_of, time.time(), {paused})
            m = c.run_generation(g)
            assert picked[-1] == want, g
            if not m["scheduled"]:
                break
            dequeued: dict[str, int] = {}
            for r in before:
                if r["url"] in want:
                    dequeued[r["host"]] = dequeued.get(r["host"], 0) + 1
            for h, n in m["scheduled_by_host"].items():
                assert n <= budget_of(h), (g, h, n)
            now = time.time()
            for h in m["fused_by_host"]:
                due = sum(
                    1 for r in before if r["host"] == h and (
                        r["next_attempt_at"] is None or r["next_attempt_at"].timestamp() <= now
                    )
                )
                assert due == dequeued.get(h, 0) and h != paused, (g, h)
    # the paused host and the backing-off row never moved
    assert not any(m_ for m_ in picked if any(u.startswith(f"https://{paused}/") for u in m_))


@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.too_slow,
                                                                 HealthCheck.function_scoped_fixture])
@given(window=st.sampled_from([0.5, 1.0, 3.0]))
def test_watch_admission_stays_within_window_ledger(spark, universe, tmp_path_factory, window):
    """In a watch batch with a trigger window, each generation's per-host
    admissions (scheduled + fused) stay within what the window's ledger
    has left for the host."""
    root = tmp_path_factory.mktemp("wl")
    c = _crawl(spark, universe, str(root / "c"))
    c.seed(universe["raw_docs"].select("doc_id"))
    c.run_bootstrap(max_generations=10, log=None)
    names = [r["doc_id"] for r in universe["raw_docs"].select("doc_id").collect()]
    batch = spark.createDataFrame(
        [(100 + i, n, False, f"r{i}") for i, n in enumerate(names)], CHANGES
    )
    w = Watch(c, str(root / "ch"), str(root / "ck"), generations_per_batch=6,
              trigger_budget_secs=window)
    seen: list[tuple[dict, dict]] = []
    real = c.run_generation

    def spy(generation, budgets_override=None):
        left = dict(budgets_override or {})
        m = real(generation, budgets_override=budgets_override)
        seen.append((left, m))
        return m

    c.run_generation = spy
    w.process_batch(batch, 0)
    assert seen and seen[0][1]["scheduled"]
    for left, m in seen:
        for h, n in m["scheduled_by_host"].items():
            assert n <= left.get(h, 0), (h, n, left)
