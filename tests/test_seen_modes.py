"""Wide-key (url-free) seen-set mode + per-batch delta broadcasts.

VERDICT r4 "Next round" #1: the drain's bytes-per-URL. The hot path
shuffled/checkpointed/wrote full ``(bucket, key, url string)`` rows where
dedup needs only keys — the ~60-80 B url was pure bus load. Wide-key mode
(``store_urls=False``) stores ``(bucket, key, key2)`` where key2 is an
independently-salted xxhash64: a (key, key2) match is a 128-bit equality
(pair-collision odds 2^-128; at 10^10 keys vs a 10^7 batch the expected
collision count is ~3e-22), so the exact check never needs the url and the
deferred delta resolves pending keys EXACTLY with no scan of the pending
batches. URL mode (default) keeps byte-exact url comparison and stays the
tested engine default; both modes must produce identical crawl results.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from npm_search_spark.seen import SeenSet


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://registry.npmjs.org/pkg-"), F.col("id")).alias("url")
    )


@pytest.fixture(params=["bloom", "cuckoo"])
def wide(request, tmp_path):
    return SeenSet(
        str(tmp_path / f"seen-{request.param}"),
        expected_keys_per_bucket=64,
        backend=request.param,
        store_urls=False,
    )


class TestWideKeyMode:
    def test_schema_has_no_url_column(self, spark, wide):
        wide.add(spark, _urls(spark, 0, 100))
        cols = wide.table.read(spark).columns
        assert "url" not in cols
        assert set(cols) == {"bucket", "key", "key2"}

    def test_filter_unseen_exact(self, spark, wide):
        wide.add(spark, _urls(spark, 0, 500))
        out = wide.filter_unseen(spark, _urls(spark, 250, 750))
        got = sorted(r["url"] for r in out.collect())
        want = sorted(r["url"] for r in _urls(spark, 500, 750).collect())
        assert got == want
        assert out.columns == ["url"]

    def test_deferred_adds_visible_before_flush(self, spark, wide):
        wide.add(spark, _urls(spark, 0, 200), defer=True)
        wide.add(spark, _urls(spark, 200, 400), defer=True)
        assert wide.table.current_snapshot_id() is None  # nothing durable yet
        out = wide.filter_unseen(spark, _urls(spark, 100, 500))
        got = sorted(r["url"] for r in out.collect())
        want = sorted(r["url"] for r in _urls(spark, 400, 500).collect())
        assert got == want
        wide.flush(spark)
        assert wide.count(spark) == 400

    def test_remove_reopens_urls(self, spark, wide):
        wide.add(spark, _urls(spark, 0, 300))
        wide.remove(spark, _urls(spark, 0, 100))
        out = wide.filter_unseen(spark, _urls(spark, 0, 300))
        assert out.count() == 100

    def test_pending_resolution_runs_no_exact_join(self, spark, wide):
        """With ONLY deferred batches (no durable table), the wide-mode
        delta is a 128-bit exact structure: filter_unseen must resolve
        every candidate from the broadcast alone — the returned plan
        contains no join against pending batches."""
        wide.add(spark, _urls(spark, 0, 200), defer=True)
        out = wide.filter_unseen(spark, _urls(spark, 0, 400))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert out.count() == 200


class TestDeltaBroadcastIsPerBatch:
    def test_old_delta_broadcasts_are_reused(self, spark, tmp_path):
        """Deferred adds must NOT re-sort/re-broadcast the accumulated
        delta: each batch gets its own broadcast, kept until flush — so a
        worker's per-generation fetch is O(batch), not O(total pending)."""
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64,
                    store_urls=False)
        s.add(spark, _urls(spark, 0, 100), defer=True)
        s.filter_unseen(spark, _urls(spark, 0, 10)).count()
        first = s._delta_bcs[0]
        s.add(spark, _urls(spark, 100, 200), defer=True)
        s.filter_unseen(spark, _urls(spark, 0, 10)).count()
        assert s._delta_bcs[0] is first  # batch-0 broadcast object untouched
        assert len(s._delta_bcs) == 2
        s.flush(spark)
        assert not s._delta_bcs

    def test_url_mode_also_uses_per_batch_deltas(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64)
        s.add(spark, _urls(spark, 0, 100), defer=True)
        first = s._delta_bcs[0]
        s.add(spark, _urls(spark, 100, 200), defer=True)
        assert s._delta_bcs[0] is first
        out = s.filter_unseen(spark, _urls(spark, 50, 250))
        assert out.count() == 50


class TestRollback:
    @pytest.mark.parametrize("store_urls", [True, False], ids=["url", "wide"])
    def test_rollback_forgets_deferred_and_later_adds(self, spark, tmp_path, store_urls):
        """rollback(snapshot) — the resume / bootstrap-redo API — drops
        un-flushed deferred adds and every add committed after the
        snapshot: those keys read unseen again and the count is the
        snapshot's."""
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64,
                    store_urls=store_urls)
        snap = s.add(spark, _urls(spark, 0, 100))
        s.filter_unseen(spark, _urls(spark, 0, 10)).count()  # prefilter at snap
        s.add(spark, _urls(spark, 100, 200), defer=True)
        s.flush(spark)  # committed after snap
        s.add(spark, _urls(spark, 200, 300), defer=True)  # never flushed
        s.rollback(snap)
        got = sorted(r["url"] for r in s.filter_unseen(spark, _urls(spark, 0, 300)).collect())
        assert got == sorted(r["url"] for r in _urls(spark, 100, 300).collect())
        assert s.count(spark) == 100

        s.add(spark, _urls(spark, 300, 400), defer=True)
        s.rollback(None)  # empty again, as a bootstrap redo starts
        assert s.filter_unseen(spark, _urls(spark, 0, 400)).count() == 400
        assert s.count(spark) == 0


class TestModeEquivalence:
    def test_bootstrap_results_identical(self, spark, tmp_path):
        """A full bootstrap in url mode and wide-key mode must converge to
        identical packages, frontier states, and seen KEY sets."""
        from npm_search_spark.frontier import Crawl
        from npm_search_spark.sources import synthetic as SYN

        uni = {k: v.cache() for k, v in SYN.universe(spark, 60, partitions=4).items()}

        def run(name, store_urls):
            c = Crawl(
                spark, str(tmp_path / name), uni,
                total_npm_downloads=10_000_000,
                budget_multiplier=50, backoff_scale=0.0,
                transient_modulus=3, checkpoint_interval=2,
                seen_store_urls=store_urls,
            )
            c.seed(uni["raw_docs"].select("doc_id"))
            c.run_bootstrap(max_generations=60)
            pk = sorted(
                (r["objectID"], r["version"])
                for r in c.packages.read(spark).collect()
            )
            fr = sorted(
                (r["url"], r["state"])
                for r in c.frontier.read(spark).collect()
            )
            ks = sorted(r["key"] for r in c.seen.table.read(spark).collect())
            return pk, fr, ks

        pk_u, fr_u, ks_u = run("url", True)
        pk_w, fr_w, ks_w = run("wide", False)
        assert pk_u == pk_w
        assert fr_u == fr_w
        assert ks_u == ks_w

    def test_key2_is_independent_of_key(self, spark, tmp_path):
        """key2 must not be a function of key alone (that would add zero
        collision protection): over a batch, (key -> key2) must differ from
        any shift/xor of key — spot-check rank correlation is ~0."""
        s = SeenSet(str(tmp_path / "s"), store_urls=False)
        rows = s.keyed(_urls(spark, 0, 2000)).select("key", "key2").collect()
        k = np.array([r["key"] for r in rows], dtype=np.int64)
        k2 = np.array([r["key2"] for r in rows], dtype=np.int64)
        assert len(np.unique(k2)) == len(k2)  # no degenerate constant
        assert not np.array_equal(np.argsort(k), np.argsort(k2))
