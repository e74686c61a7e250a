"""Property-based invariants (hypothesis): URL canonicalization algebra,
politeness-scheduler exactness vs a brute-force reference on random
frontiers (window and range-sorted boundary carves), and Bloom
no-false-negatives."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

HOSTS = ["registry.npmjs.org", "cdn.jsdelivr.net", "raw.githubusercontent.com", "x.org"]

url_segment = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789-_.~%"),
    min_size=1,
    max_size=12,
)


class TestCanonicalizeProperties:
    @settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(
            st.tuples(st.sampled_from(HOSTS), url_segment, st.booleans(), st.booleans()),
            min_size=1,
            max_size=50,
        )
    )
    def test_idempotent_and_variant_collapsing(self, spark, rows):
        """canon(canon(u)) == canon(u); scheme/host case, trailing slash and
        fragments never survive canonicalization."""
        from npm_search_spark.functions.urls import canonicalize_url

        urls = [
            ("HTTPS://" if up else "https://")
            + (h.upper() if up else h)
            + "/"
            + seg
            + ("/" if slash else "")
            + ("#frag" if up else "")
            for (h, seg, up, slash) in rows
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = [
            r["c"] for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
        ]
        df2 = spark.createDataFrame([(u,) for u in once], "url string")
        twice = [
            r["c"] for r in df2.select(canonicalize_url(F.col("url")).alias("c")).collect()
        ]
        assert once == twice
        for c in once:
            assert c.startswith("https://")
            host = c.split("/")[2]
            assert host == host.lower()
            assert "#" not in c and not c.endswith("/")


class TestCanonicalizeFusedEquivalence:
    def test_fused_regex_matches_reference_chain(self, spark):
        """r6 fused canonicalize_url (4 regex passes) must be byte-equal to
        the original 6-pass chain on an adversarial product corpus of
        schemes x hosts/ports x paths x queries x fragments (plus leading/
        trailing whitespace variants)."""

        def canon_reference(url):
            c = F.trim(url)
            c = F.concat(
                F.lower(F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
                F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
            )
            c = F.regexp_replace(c, r"#.*$", "")
            c = F.regexp_replace(c, r"^(https://[^/:?#]+):443(?=[/?#]|$)", r"$1")
            c = F.regexp_replace(c, r"^(http://[^/:?#]+):80(?=[/?#]|$)", r"$1")
            c = F.regexp_replace(c, r"/+$", "")
            return c

        from npm_search_spark.functions.urls import canonicalize_url

        schemes = ["https://", "http://", "HTTPS://", "HtTp://", "ftp+x://", ""]
        hosts = ["Example.COM", "x", "x:443", "x:80", "x:8080", "[::1]:443", ""]
        paths = ["", "/", "//", "/A/B", "/a/b/", "/a/b///", "/:443", "/a%20b"]
        queries = ["", "?q=1", "?x=/#no", "?#", "?:80"]
        frags = ["", "#f", "#f/", "#a#b", "#/x/", "###", "#:443"]
        rows = []
        for s in schemes:
            for h in hosts:
                for p in paths:
                    for q in queries:
                        for f in frags:
                            u = s + h + p + q + f
                            rows.append((u,))
                            rows.append((" " + u + " ",))
        df = spark.createDataFrame(rows, "url string")
        n_bad = (
            df.select(
                canon_reference(F.col("url")).alias("o"),
                canonicalize_url(F.col("url")).alias("n"),
            )
            .where(F.col("o") != F.col("n"))
            .count()
        )
        assert n_bad == 0


class TestPolitenessExactness:
    @settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(HOSTS),
                st.integers(min_value=0, max_value=50),  # priority (ties likely)
                st.integers(min_value=0, max_value=10_000),
            ),
            min_size=1,
            max_size=150,
        ),
        st.integers(min_value=1, max_value=9),  # default budget
    )
    def test_both_strategies_match_bruteforce(self, spark, rows, budget):
        """The scheduler returns EXACTLY the top-budget rows per host
        under (priority DESC, url ASC) — compared against a straight
        Python reference on adversarially small random frontiers with
        priority ties — through both boundary carves: the per-host window
        (default HIST_BOUNDARY_CAP) and the range-sorted fallback (cap 0
        sends every boundary bin through _schedule_range_topk)."""
        from npm_search_spark import frontier as FR
        from npm_search_spark.frontier import politeness_schedule

        data = [
            (f"https://{h}/p{u}", h, float(p)) for (h, p, u) in rows
        ]
        data = list({d[0]: d for d in data}.values())  # unique urls
        df = spark.createDataFrame(data, "url string, host string, priority double")

        expected = set()
        by_host: dict[str, list] = {}
        for url, h, p in data:
            by_host.setdefault(h, []).append((url, p))
        for h, items in by_host.items():
            items.sort(key=lambda t: (-t[1], t[0]))
            expected |= {u for u, _ in items[:budget]}

        for cap in (FR.HIST_BOUNDARY_CAP, 0):
            with mock.patch.object(FR, "HIST_BOUNDARY_CAP", cap):
                got = {
                    r["url"]
                    for r in politeness_schedule(
                        df, {}, default_budget=budget
                    ).collect()
                }
            assert got == expected, f"HIST_BOUNDARY_CAP={cap}"

    @settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(HOSTS),
                st.integers(min_value=0, max_value=50),  # priority (ties likely)
                st.integers(min_value=0, max_value=10_000),
            ),
            min_size=20,
            max_size=150,
        ),
        st.integers(min_value=1, max_value=9),  # default budget
    )
    def test_counts_carry_drain_matches_bruteforce(self, spark, rows, budget):
        """Multi-generation drain under counts-carry equals the Python
        reference drain generation by generation: the carried bin-count
        ledger must keep scheduling EXACTLY the top-budget-per-host of
        whatever is left, across random frontiers with heavy priority
        ties (boundary bins full of duplicates) until drained."""
        from npm_search_spark.frontier import politeness_schedule

        data = [(f"https://{h}/p{u}", h, float(p)) for (h, p, u) in rows]
        data = list({d[0]: d for d in data}.values())  # unique urls
        df = spark.createDataFrame(data, "url string, host string, priority double")

        by_host: dict[str, list] = {}
        for url, h, p in data:
            by_host.setdefault(h, []).append((url, p))
        for items in by_host.values():
            items.sort(key=lambda t: (-t[1], t[0]))

        pending = df
        hints = None
        counts = None
        taken: dict[str, int] = {}
        for _gen in range(4):
            sched = politeness_schedule(
                pending, {}, default_budget=budget,
                hist_hints=hints, hist_counts=counts,
            )
            got = sorted(r["url"] for r in sched.collect())
            expected = sorted(
                u
                for h, items in by_host.items()
                for u, _ in items[taken.get(h, 0): taken.get(h, 0) + budget]
            )
            assert got == expected, f"generation {_gen}"
            if not got:
                break
            for h, items in by_host.items():
                taken[h] = min(taken.get(h, 0) + budget, len(items))
            hints = sched.hist_hints or hints
            counts = getattr(sched, "hist_counts", None)
            retired = spark.createDataFrame([(u,) for u in got], "url string")
            pending = pending.join(F.broadcast(retired), "url", "left_anti")


class TestBloomProperties:
    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500)
    )
    def test_no_false_negatives(self, keys):
        """Every added key must hit — the property URL-seen correctness
        rests on (false positives go to the exact check; false negatives
        would re-crawl forever)."""
        from npm_search_spark.seen import BloomShards, DenseBloom

        keys_arr = np.array(keys, dtype=np.int64)
        buckets = (keys_arr % 16).astype(np.int64) % 16
        buckets = np.abs(buckets)
        shards = BloomShards(m_bits_per_shard=1024, k=4)
        shards.add(buckets, keys_arr)
        dense = DenseBloom(1024, 4, 16)
        for b, bm in shards.shards.items():
            dense.merge_shard(b, bm)
        assert dense.might_contain(buckets, keys_arr).all()
        assert shards.might_contain(buckets, keys_arr).all()


@pytest.fixture(scope="module", autouse=True)
def _quiet(spark):
    spark.sparkContext.setLogLevel("ERROR")
    yield


class TestCuckooProperties:
    """Cuckoo-filter invariants on random key sets: never a false
    negative (before or after deleting an arbitrary subset), deletes of
    added keys always succeed, and the build is order-deterministic."""

    @settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(
            st.integers(min_value=-(2**62), max_value=2**62),
            min_size=1,
            max_size=400,
            unique=True,
        ),
        st.integers(min_value=0, max_value=400),
    )
    def test_membership_and_delete(self, keys, n_delete):
        from npm_search_spark.cuckoo import DenseCuckoo, rows_for

        arr = np.array(keys, dtype=np.int64)
        buckets = np.abs(arr) % 8
        cf = DenseCuckoo(rows_for(max(len(arr) // 8, 8)), 8)
        cf.add(buckets, arr)
        assert cf.might_contain(buckets, arr).all()

        k = min(n_delete, len(arr))
        removed = cf.delete(buckets[:k], arr[:k])
        assert removed.all()
        assert cf.might_contain(buckets[k:], arr[k:]).all()

    @settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(
            st.integers(min_value=-(2**62), max_value=2**62),
            min_size=2,
            max_size=200,
            unique=True,
        )
    )
    def test_split_build_equals_whole_build_membership(self, keys):
        """Inserting in two halves (the incremental micro-batch path) must
        accept exactly the same membership set as one build."""
        from npm_search_spark.cuckoo import DenseCuckoo, rows_for

        arr = np.array(keys, dtype=np.int64)
        buckets = np.abs(arr) % 4
        rows = rows_for(max(len(arr) // 4, 8))
        whole, split = DenseCuckoo(rows, 4), DenseCuckoo(rows, 4)
        whole.add(buckets, arr)
        mid = len(arr) // 2
        split.add(buckets[:mid], arr[:mid])
        split.add(buckets[mid:], arr[mid:])
        assert split.might_contain(buckets, arr).all()
        assert whole.might_contain(buckets, arr).all()
