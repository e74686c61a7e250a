"""North-rule gate: the engine's multi-generation crawl ordering and final
URL-seen set must equal a straight-line Python simulator of the reference
semantics (priority queue + per-host politeness budget + 3-hop expansion +
dedup) on the same seed list and budgets. The simulator models hop fusion:
a host's new hop rows run in the generation that produced them when a
bound on them (one file list per fetched doc, len(FILE_OPTIONS) probes per
fetched file list) fits the host's budget next to what the generation
scheduled for it; otherwise they queue.

The simulator is an independent reimplementation: plain dicts/sorts, no
Spark — only the synthetic universe *facts* (doc properties, robots rules,
the hash-derived not-found set) are shared. Per-generation fetched sets are
recovered from the engine's seen-set snapshot lineage, so the comparison
also proves the checkpoint metadata reflects the true crawl order."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from npm_search_spark.frontier import DEFAULT_BUDGETS, Crawl
from npm_search_spark.sources import synthetic as SYN
from npm_search_spark.sources.synthetic import FILE_OPTIONS, cdn_url, pkg_name, pkg_props

N_DOCS = 50
MULT = 5  # budget multiplier: registry 30/gen, cdn 30, github 100, ...

CHANGELOG_RE = re.compile(
    r"^(((changelogs?)|changes|history|(releases?)))((.(md|markdown))?$)", re.I
)

ROBOTS = {
    "gitlab.com": ["/user-7", "/user-17", "/user-27"],
    "cdn.jsdelivr.net": ["/npm/@angular/"],
    "bitbucket.org": ["/user-99"],
}


def simulate(not_found_ids: set[str]) -> tuple[list[set[str]], dict[str, str]]:
    """Returns (per-generation fetched URL sets, final url->state)."""
    props = {pkg_name(i): pkg_props(i) for i in range(N_DOCS)}
    pending: dict[str, tuple[str, str, str, float]] = {}  # url -> (host, kind, doc, prio)
    for name, p in props.items():
        pending[f"https://registry.npmjs.org/{name}"] = (
            "registry.npmjs.org", "registry_doc", name, float(p["downloads"]),
        )
    seen: set[str] = set()
    states: dict[str, str] = {}
    per_gen: list[set[str]] = []
    changelog: dict[str, str | None] = {}

    def robots_blocked(url: str, host: str) -> bool:
        path = re.sub(r"^[a-z+]+://[^/]+", "", url)
        return any(path.startswith(p) for p in ROBOTS.get(host, []))

    def budget(host: str) -> int:
        return DEFAULT_BUDGETS.get(host, 6) * MULT

    for _gen in range(100):
        # politeness: per-host top-budget by (priority desc, url asc)
        by_host: dict[str, list] = {}
        for url, (host, kind, doc, prio) in pending.items():
            by_host.setdefault(host, []).append((url, kind, doc, prio))
        scheduled = []
        for host, rows in by_host.items():
            rows.sort(key=lambda r: (-r[3], r[0]))
            scheduled.extend((host, *r) for r in rows[: budget(host)])
        if not scheduled:
            break
        # the frontier as the generation found it: hop rows already queued
        # (or crawled) there are neither re-queued nor fused
        frontier = set(pending) | set(states)
        n_sched: dict[str, int] = {}
        for host, url, *_ in scheduled:
            del pending[url]
            n_sched[host] = n_sched.get(host, 0) + 1
        fetched: set[str] = set()

        def process(host: str, url: str, kind: str, doc: str) -> dict:
            """Fetch one url; returns the hop rows it yields."""
            hops: dict[str, tuple[str, str, str, float]] = {}
            if robots_blocked(url, host):
                states[url] = "robots_blocked"
                return hops
            if url in seen:
                states[url] = "done"  # dup
                return hops
            seen.add(url)
            fetched.add(url)
            p = props[doc]
            if kind == "registry_doc":
                if doc in not_found_ids:
                    states[url] = "not_found"
                    return hops
                states[url] = "done"
                fl = f"https://cdn.jsdelivr.net/npm/{doc}@{p['version']}/flat"
                hops[fl] = ("cdn.jsdelivr.net", "file_list", doc, float(p["downloads"]))
            elif kind == "file_list":
                states[url] = "done"
                hit = next(
                    (f for f in p["files"] if CHANGELOG_RE.match(f.rsplit("/", 1)[-1])),
                    None,
                )
                if hit is not None:
                    changelog[doc] = cdn_url(doc, p["version"], hit)
                elif p["host"]:
                    project = doc.split("/")[-1]
                    i = [k for k, n in enumerate(props) if n == doc][0]
                    user = f"user-{i % 1000}"
                    if p["host"] == "github.com":
                        base = f"https://raw.githubusercontent.com/{user}/{project}/master"
                    elif p["host"] == "gitlab.com":
                        base = f"https://gitlab.com/{user}/{project}/raw/master"
                    else:
                        base = f"https://bitbucket.org/{user}/{project}/raw/master"
                    bhost = base.split("/")[2]
                    for rank, fname in enumerate(FILE_OPTIONS, start=1):
                        hops[f"{base}/{fname}"] = (
                            bhost, "changelog_probe", doc, 1000.0 - rank,
                        )
            else:  # changelog_probe
                states[url] = "done"
                if p["repo_changelog_rank"] is not None:
                    want = FILE_OPTIONS[p["repo_changelog_rank"]]
                    if url.rsplit("/", 1)[-1] == want and doc not in changelog:
                        prev = changelog.get(doc)
                        if prev is None:
                            changelog[doc] = url
            return hops

        def admit(hops: dict, bound: int) -> list:
            """Hop fusion: a host's new rows run in this generation when a
            bound on them fits its budget next to what this generation
            scheduled for it; otherwise they queue."""
            rows_by_host: dict[str, list] = {}
            for u, row in hops.items():
                if u not in frontier:
                    rows_by_host.setdefault(row[0], []).append((u, row))
            fused = []
            for host, rows in rows_by_host.items():
                if n_sched.get(host, 0) + bound <= budget(host):
                    fused.extend((host, u, row[1], row[2]) for u, row in rows)
                else:
                    pending.update(rows)
            return fused

        # one body per hop kind, each over its dequeued rows plus the rows
        # the previous hop fused into this generation. The bounds: hop 2
        # yields one file list per fetched doc, hop 3 len(FILE_OPTIONS)
        # probes per fetched file list
        stage = {"registry_doc": [], "file_list": [], "changelog_probe": []}
        for host, url, kind, doc, _prio in scheduled:
            stage[kind].append((host, url, kind, doc))
        hop2: dict = {}
        for row in stage["registry_doc"]:
            hop2.update(process(*row))
        n_ok = len(hop2)
        hop3: dict = {}
        for row in stage["file_list"]:
            hop3.update(process(*row))
        n_fl = sum(1 for row in stage["file_list"] if row[1] in fetched)
        for row in admit(hop2, n_ok):
            hop3.update(process(*row))
        cdn = "cdn.jsdelivr.net"
        n_fl += n_ok if n_sched.get(cdn, 0) + n_ok <= budget(cdn) else 0
        for row in stage["changelog_probe"] + admit(hop3, len(FILE_OPTIONS) * n_fl):
            process(*row)
        per_gen.append(fetched)
    return per_gen, states


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    uni = {k: v.cache() for k, v in SYN.universe(spark, N_DOCS, partitions=2).items()}
    c = Crawl(
        spark,
        str(tmp_path_factory.mktemp("eq") / "crawl"),
        uni,
        total_npm_downloads=10_000_000,
        budget_multiplier=MULT,
        transient_modulus=0,  # no synthetic failures: pure ordering semantics
        # tombstone mode: the test audits per-URL terminal states in the
        # frontier, which gc_terminal=True (the default) would GC
        gc_terminal=False,
    )
    c.seed(uni["raw_docs"].select("doc_id"))
    c.run_bootstrap(max_generations=100, log=None)
    return c


def test_crawl_order_and_seen_set_match_simulator(spark, crawl):
    names = [pkg_name(i) for i in range(N_DOCS)]
    nf = {
        r["doc_id"]
        for r in spark.createDataFrame([(n,) for n in names], "doc_id string")
        .where(F.pmod(F.xxhash64("doc_id"), F.lit(41)) == 0)
        .collect()
    }
    sim_gens, sim_states = simulate(nf)

    # engine per-generation fetched sets from seen-set snapshot lineage. The
    # seen table holds (key, key2) identities, not urls: each engine pair
    # is named by the simulator url keyed to it, and a pair no simulated
    # url keys to stays a (key, key2) tuple — a mismatch below.
    sim_urls = sorted(set().union(*sim_gens))
    url_of = {
        (r["key"], r["key2"]): r["sim_url"]
        for r in crawl.seen.keyed(
            spark.createDataFrame([(u, u) for u in sim_urls], "url string, sim_url string")
        ).collect()
    }
    assert len(url_of) == len(sim_urls)
    history = crawl.state.history()
    engine_gens: list[set] = []
    prev: set = set()
    for st in history:
        if st.generation == 0:
            continue
        snap = st.snapshots.get("seen") or None
        cur = (
            {
                url_of.get((r["key"], r["key2"]), (r["key"], r["key2"]))
                for r in crawl.seen.table.read(spark, snapshot_id=snap).collect()
            }
            if snap
            else set()
        )
        engine_gens.append(cur - prev)
        prev = cur
    engine_gens = [g for g in engine_gens if g]
    sim_gens = [g for g in sim_gens if g]

    assert len(engine_gens) == len(sim_gens)
    for i, (e, s) in enumerate(zip(engine_gens, sim_gens)):
        assert e == s, f"generation {i+1}: engine^sim diff {sorted(map(str, e ^ s))[:6]}"

    # final URL-seen set equality (north rule)
    assert prev == set().union(*sim_gens)

    # terminal states agree for every quarantined / blocked url
    fr = {r["url"]: r["state"] for r in crawl.frontier.read(spark).collect()}
    for url, st in sim_states.items():
        if st in ("not_found", "robots_blocked"):
            assert fr.get(url) == st, (url, st, fr.get(url))
