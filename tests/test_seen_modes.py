"""Seen-set rows, exact-check paths and per-batch delta broadcasts.

The seen table stores ``(bucket, key, key2)`` where key2 is an
independently-salted xxhash64: a (key, key2) match is a 128-bit equality
(pair-collision odds 2^-128; at 10^10 keys vs a 10^7 batch the expected
collision count is ~3e-22), so no check needs the url and the deferred
delta resolves pending keys EXACTLY with no scan of the pending batches.
The durable table is checked on one of two paths: the driver-held
lexsorted array (tables up to ``SeenSet.EXACT_DRIVER_MAX_BYTES``) or the
streamed prefilter + suspect semi-join (larger tables; tests force it by
patching the bound to 0). Both paths must give identical results, also
under forced 64-bit key collisions.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from npm_search_spark import seen as seen_mod
from npm_search_spark.seen import DenseBloom, SeenSet

PATHS = ["array", "streamed"]


def _pin_path(monkeypatch, path):
    """``streamed``: no table fits the driver-held array, so every check
    takes the prefilter + suspect semi-join."""
    if path == "streamed":
        monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://registry.npmjs.org/pkg-"), F.col("id")).alias("url")
    )


# the streamed check's id is ``bloom``: it is the path the Bloom prefilter serves
@pytest.fixture(params=PATHS, ids=["array", "bloom"])
def wide(request, tmp_path, monkeypatch):
    _pin_path(monkeypatch, request.param)
    return SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=64)


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
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64)
        s.add(spark, _urls(spark, 0, 100), defer=True)
        s.filter_unseen(spark, _urls(spark, 0, 10)).count()
        first = s._delta_bcs[0]
        s.add(spark, _urls(spark, 100, 200), defer=True)
        s.filter_unseen(spark, _urls(spark, 0, 10)).count()
        assert s._delta_bcs[0] is first  # batch-0 broadcast object untouched
        assert len(s._delta_bcs) == 2
        s.flush(spark)
        assert not s._delta_bcs

    def test_url_mode_also_uses_per_batch_deltas(self, spark, tmp_path, monkeypatch):
        """The streamed path's verdict pass reads the same per-batch
        deltas as the array path, over a durable table."""
        _pin_path(monkeypatch, "streamed")
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64)
        s.add(spark, _urls(spark, 200, 220))
        s.add(spark, _urls(spark, 0, 100), defer=True)
        first = s._delta_bcs[0]
        s.add(spark, _urls(spark, 100, 200), defer=True)
        assert s._delta_bcs[0] is first
        out = s.filter_unseen(spark, _urls(spark, 50, 250))
        assert out.count() == 30
        assert s._exact_bc is None and s._bloom_bc is not None


class TestEmptyTable:
    def test_deferred_adds_without_snapshot_take_array_path(
        self, spark, tmp_path, monkeypatch
    ):
        """Before the first flush there is no snapshot, only deferred adds
        (the first interval of a checkpoint_interval > 1 crawl). That reads
        as an empty table on the array path, even with every table above
        the driver bound: the deltas decide alone, and no Bloom is
        allocated or broadcast."""
        _pin_path(monkeypatch, "streamed")
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64)
        s.add(spark, _urls(spark, 0, 100), defer=True)
        assert s.table.current_snapshot_id() is None
        got = sorted(r["url"] for r in s.filter_unseen(spark, _urls(spark, 50, 150)).collect())
        assert got == sorted(r["url"] for r in _urls(spark, 100, 150).collect())
        assert s._bloom is None and s._bloom_bc is None
        assert s._exact_bc is not None


class TestStreamedBloom:
    """The streamed check's Bloom prefilter: cold rebuild, zero-file
    snapshots and stale-conservative removal."""

    @pytest.fixture(autouse=True)
    def _streamed(self, monkeypatch):
        _pin_path(monkeypatch, "streamed")

    @pytest.fixture()
    def urls(self, spark):
        return _urls(spark, 0, 500)

    def test_cold_start_rebuild(self, spark, tmp_path, urls, monkeypatch):
        """A fresh SeenSet over an existing table rebuilds the Bloom from
        parquet via executor shards (mapInArrow), once."""
        root = str(tmp_path / "c2")
        SeenSet(root, expected_keys_per_bucket=64).add(spark, urls)
        s2 = SeenSet(root, expected_keys_per_bucket=64)
        builds = []
        real = SeenSet._shards_of
        monkeypatch.setattr(
            SeenSet, "_shards_of", lambda self, df: builds.append(1) or real(self, df)
        )
        assert s2.filter_unseen(spark, urls).count() == 0
        assert s2.filter_unseen(spark, urls).count() == 0
        assert isinstance(s2._bloom, DenseBloom) and s2._bloom_bc is not None
        assert len(builds) == 1

    def test_filter_unseen_zero_file_snapshot(self, spark, tmp_path, urls, monkeypatch):
        """A snapshot that exists but holds zero files (everything
        merge-deleted) must treat every candidate as unseen in BOTH
        pruning modes — the unpruned branch used to call
        spark.read.parquet() with no paths and raise."""
        # below 0 even the zero-byte table takes the streamed check
        monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", -1)
        root = str(tmp_path / "zf")
        s = SeenSet(root, expected_keys_per_bucket=64)
        s.add(spark, urls)
        # force a snapshot with an EMPTY file list (remove() may leave a
        # rewritten file behind; the regression needs literally zero files)
        s.table._commit("delete", [], {}, {})
        fresh = SeenSet(root, expected_keys_per_bucket=64)
        assert fresh.table.snapshot().files == []
        n = urls.count()
        assert fresh.filter_unseen(spark, urls, prune_buckets=True).count() == n
        assert fresh.filter_unseen(spark, urls, prune_buckets=False).count() == n

    def test_remove_releases_urls(self, spark, tmp_path, urls):
        """remove() cannot delete from the Bloom: the removed keys stay
        prefilter hits, and the exact check reads them unseen."""
        s = SeenSet(str(tmp_path / "r"), expected_keys_per_bucket=64)
        s.add(spark, urls)
        assert s.filter_unseen(spark, urls).count() == 0
        assert s._bloom is not None
        gone = urls.limit(100)
        s.remove(spark, gone)
        keyed = s.keyed(gone).select("bucket", "key").collect()
        assert s._bloom.might_contain(
            np.array([r["bucket"] for r in keyed], dtype=np.int64),
            np.array([r["key"] for r in keyed], dtype=np.int64),
        ).all()
        # released URLs pass the filter again; the rest stay seen
        back = {r["url"] for r in s.filter_unseen(spark, urls).collect()}
        assert back == {r["url"] for r in gone.collect()}
        assert s.count(spark) == 400


class TestRollback:
    @pytest.mark.parametrize("path", PATHS)
    def test_rollback_forgets_deferred_and_later_adds(
        self, spark, tmp_path, monkeypatch, path
    ):
        """rollback(snapshot) — the resume / bootstrap-redo API — drops
        un-flushed deferred adds and every add committed after the
        snapshot: those keys read unseen again and the count is the
        snapshot's."""
        _pin_path(monkeypatch, path)
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64)
        snap = s.add(spark, _urls(spark, 0, 100))
        s.filter_unseen(spark, _urls(spark, 0, 10)).count()  # prefilter at snap
        assert (s._exact_bc is not None) == (path == "array")
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
        """A full bootstrap on the array path and on the streamed path must
        converge to identical packages, frontier states, and seen
        (key, key2) sets."""
        from unittest import mock

        from npm_search_spark.frontier import Crawl
        from npm_search_spark.sources import synthetic as SYN

        uni = {k: v.cache() for k, v in SYN.universe(spark, 60, partitions=4).items()}

        def run(name, max_bytes):
            with mock.patch.object(SeenSet, "EXACT_DRIVER_MAX_BYTES", max_bytes):
                c = Crawl(
                    spark, str(tmp_path / name), uni,
                    total_npm_downloads=10_000_000,
                    budget_multiplier=50, backoff_scale=0.0,
                    transient_modulus=3, checkpoint_interval=2,
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
            ks = sorted(
                (r["key"], r["key2"]) for r in c.seen.table.read(spark).collect()
            )
            return pk, fr, ks, c.seen._exact_bc is not None

        pk_a, fr_a, ks_a, used_array = run("array", SeenSet.EXACT_DRIVER_MAX_BYTES)
        pk_s, fr_s, ks_s, used_array_s = run("streamed", 0)
        assert used_array and not used_array_s
        assert pk_a == pk_s
        assert fr_a == fr_s
        assert ks_a == ks_s

    def test_key2_is_independent_of_key(self, spark, tmp_path):
        """key2 must not be a function of key alone (that would add zero
        collision protection): over a batch, (key -> key2) must differ from
        any shift/xor of key — spot-check rank correlation is ~0."""
        s = SeenSet(str(tmp_path / "s"))
        rows = s.keyed(_urls(spark, 0, 2000)).select("key", "key2").collect()
        k = np.array([r["key"] for r in rows], dtype=np.int64)
        k2 = np.array([r["key2"] for r in rows], dtype=np.int64)
        assert len(np.unique(k2)) == len(k2)  # no degenerate constant
        assert not np.array_equal(np.argsort(k), np.argsort(k2))

    def test_url_rows_are_gone(self, tmp_path):
        """``store_urls`` survives only as a keyword old callers pass:
        False is the one row format, True fails loudly."""
        s = SeenSet(str(tmp_path / "s"), store_urls=False)
        assert s.table.schema.names == ["bucket", "key", "key2"]
        with pytest.raises(ValueError, match="url rows were removed"):
            SeenSet(str(tmp_path / "u"), store_urls=True)


# ids name the check path and the SeenSet's (only) prefilter
@pytest.mark.parametrize("path", PATHS, ids=["array-bloom", "streamed-bloom"])
class TestKeyCollisions:
    """Identity is the 128-bit (key, key2) pair: with ``url_key`` forced
    down to two values every url collides with half the others on key,
    and defer, flush, durable add, remove and count must still tell them
    apart by key2."""

    def test_colliding_keys_stay_distinct(self, spark, tmp_path, monkeypatch, path):
        monkeypatch.setattr(
            seen_mod, "url_key", lambda u: F.pmod(F.xxhash64(u), F.lit(2))
        )
        _pin_path(monkeypatch, path)
        s = SeenSet(str(tmp_path / "s"), expected_keys_per_bucket=64)

        def unseen(lo, hi):
            out = s.filter_unseen(spark, _urls(spark, lo, hi))
            return sorted(r["url"] for r in out.collect())

        def urls(*ranges):
            return sorted(
                f"https://registry.npmjs.org/pkg-{i}" for lo, hi in ranges for i in range(lo, hi)
            )

        assert len({r["key"] for r in s.keyed(_urls(spark, 0, 30)).collect()}) == 2
        s.add(spark, _urls(spark, 0, 10))  # durable add
        assert s.table.read(spark).count() == 10
        assert unseen(0, 20) == urls((10, 20))
        assert (s._exact_bc is not None) == (path == "array")
        s.add(spark, _urls(spark, 10, 20), defer=True)
        assert unseen(0, 30) == urls((20, 30))
        s.flush(spark)
        assert s.table.read(spark).count() == 20
        assert unseen(0, 30) == urls((20, 30))
        assert s.count(spark) == 20
        s.remove(spark, _urls(spark, 0, 1))
        assert s.count(spark) == 19
        assert unseen(0, 30) == urls((0, 1), (20, 30))
