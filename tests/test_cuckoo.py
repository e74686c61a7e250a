"""Cuckoo-filter prefilter: pure-numpy unit tests + SeenSet backend
integration (north rule: partitioned Bloom/cuckoo URL-seen set).

The filter contract under test: never a false negative; deletes are exact
for keys actually added; executor shards merge losslessly; zero overflow
at the design load factor."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from npm_search_spark.cuckoo import (
    SLOTS,
    TARGET_LOAD,
    CuckooShards,
    DenseCuckoo,
    rows_for,
)
from npm_search_spark.seen import DenseBloom, SeenSet


def _mk_keys(seed: int, n: int, n_buckets: int = 16):
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(0, 2**63, n, dtype=np.int64))
    return keys, (keys % n_buckets).astype(np.int64)


class TestDenseCuckoo:
    def test_no_false_negatives(self):
        keys, buckets = _mk_keys(7, 40_000)
        cf = DenseCuckoo(rows_for(len(keys) // 16 + 2000), 16)
        assert cf.add(buckets, keys) == 0  # no overflow at this load
        assert cf.might_contain(buckets, keys).all()

    def test_false_positive_rate(self):
        keys, buckets = _mk_keys(7, 40_000)
        cf = DenseCuckoo(rows_for(len(keys) // 16 + 2000), 16)
        cf.add(buckets, keys)
        rng = np.random.default_rng(99)
        probe = np.setdiff1d(rng.integers(0, 2**63, 200_000, dtype=np.int64), keys)
        fpr = cf.might_contain((probe % 16).astype(np.int64), probe).mean()
        # 16-bit fingerprints, 4-slot rows: theoretical ~2*4/2^16 = 1.2e-4
        assert fpr < 1e-3, fpr

    def test_delete_exact_and_no_false_negatives_on_rest(self):
        keys, buckets = _mk_keys(11, 40_000)
        cf = DenseCuckoo(rows_for(len(keys) // 16 + 2000), 16)
        cf.add(buckets, keys)
        half = len(keys) // 2
        removed = cf.delete(buckets[:half], keys[:half])
        assert removed.all()
        assert cf.might_contain(buckets[half:], keys[half:]).all()

    def test_delete_of_aliased_keys(self):
        """Two distinct keys sharing fingerprint+rows each keep their own
        copy: deleting one must not evict the other (multiset semantics)."""
        cf = DenseCuckoo(64, 1)
        # craft an alias: same bits 8.. (row) and 48.. (fingerprint),
        # different low bits
        k1 = np.int64((0x1234 << 48) | (0x0AB << 8) | 0x01)
        k2 = np.int64((0x1234 << 48) | (0x0AB << 8) | 0x02)
        b = np.zeros(1, dtype=np.int64)
        cf.add(b, np.array([k1]))
        cf.add(b, np.array([k2]))
        assert cf.delete(b, np.array([k1])).all()
        assert cf.might_contain(b, np.array([k2])).all()
        assert cf.delete(b, np.array([k2])).all()
        assert not cf.might_contain(b, np.array([k2])).any()

    def test_target_load_factor_no_overflow(self):
        cf = DenseCuckoo(1024, 1)
        cap = int(1024 * SLOTS * TARGET_LOAD)
        rng = np.random.default_rng(3)
        keys = np.unique(rng.integers(0, 2**63, cap * 3, dtype=np.int64))[:cap]
        b = np.zeros(len(keys), dtype=np.int64)
        assert cf.add(b, keys) == 0
        assert cf.might_contain(b, keys).all()
        assert cf.load_factor() == pytest.approx(TARGET_LOAD, abs=0.01)

    def test_shard_merge_lossless(self):
        keys, buckets = _mk_keys(23, 30_000)
        rows = rows_for(len(keys) // 16 + 2000)
        sh1, sh2 = CuckooShards(rows), CuckooShards(rows)
        mid = len(keys) // 2
        sh1.add(buckets[:mid], keys[:mid])
        sh2.add(buckets[mid:], keys[mid:])
        cf = DenseCuckoo(rows, 16)
        for sh in (sh1, sh2):
            for b, sub in sh.shards.items():
                cf.merge_shard(b, sub.tobytes())
            for b, row, fp in sh.overflow:
                cf.reinsert_pair(b, row, fp)
        assert cf.might_contain(buckets, keys).all()

    def test_deterministic(self):
        """Same inserts -> bit-identical filter (replay/resume safety)."""
        keys, buckets = _mk_keys(31, 20_000)
        rows = rows_for(len(keys) // 16 + 1000)
        a, b = DenseCuckoo(rows, 16), DenseCuckoo(rows, 16)
        a.add(buckets, keys)
        b.add(buckets, keys)
        assert np.array_equal(a.table, b.table)
        assert a.stash == b.stash


class TestSeenSetCuckooBackend:
    @pytest.fixture(autouse=True)
    def _streamed(self, monkeypatch):
        # the prefilter backends only serve the streamed check: with the
        # driver-held array bound at 0, every table takes it
        monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)

    @pytest.fixture()
    def urls(self, spark):
        return spark.range(500).select(
            F.concat(F.lit("https://registry.npmjs.org/pkg-"), F.col("id")).alias("url")
        )

    def test_filter_unseen_matches_bloom_backend(self, spark, tmp_path, urls):
        bloom = SeenSet(str(tmp_path / "b"), expected_keys_per_bucket=64)
        cuckoo = SeenSet(
            str(tmp_path / "c"), expected_keys_per_bucket=64, backend="cuckoo"
        )
        first = urls.limit(300)
        for s in (bloom, cuckoo):
            s.add(spark, first)
        got_b = {r["url"] for r in bloom.filter_unseen(spark, urls).collect()}
        got_c = {r["url"] for r in cuckoo.filter_unseen(spark, urls).collect()}
        expect = {r["url"] for r in urls.join(first, "url", "left_anti").collect()}
        assert got_b == expect
        assert got_c == expect
        assert isinstance(bloom._bloom, DenseBloom)
        assert isinstance(cuckoo._bloom, DenseCuckoo)

    def test_cold_start_rebuild(self, spark, tmp_path, urls):
        """A fresh SeenSet over an existing table rebuilds the cuckoo
        filter from parquet via executor shards (merge path)."""
        root = str(tmp_path / "c2")
        s1 = SeenSet(root, expected_keys_per_bucket=64, backend="cuckoo")
        s1.add(spark, urls)
        s2 = SeenSet(root, expected_keys_per_bucket=64, backend="cuckoo")
        assert s2.filter_unseen(spark, urls).count() == 0
        assert isinstance(s2._bloom, DenseCuckoo)

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
        for backend in ("cuckoo", "bloom"):
            s = SeenSet(
                str(tmp_path / f"r-{backend}"),
                expected_keys_per_bucket=64,
                backend=backend,
            )
            s.add(spark, urls)
            assert s.filter_unseen(spark, urls).count() == 0
            assert s._bloom is not None
            gone = urls.limit(100)
            s.remove(spark, gone)
            # released URLs pass the filter again; the rest stay seen
            back = {r["url"] for r in s.filter_unseen(spark, urls).collect()}
            assert back == {r["url"] for r in gone.collect()}, backend
            assert s.count(spark) == 400

    def test_remove_keeps_cuckoo_filter_tight(self, spark, tmp_path, urls):
        """After remove(), the cuckoo prefilter itself reports the removed
        keys unseen (no reliance on the exact check), while the bloom
        backend goes stale-conservative — both stay correct end-to-end."""
        s = SeenSet(str(tmp_path / "tight"), expected_keys_per_bucket=64,
                    backend="cuckoo")
        s.add(spark, urls)
        s.filter_unseen(spark, urls)  # builds + caches the prefilter
        gone = urls.limit(100)
        s.remove(spark, gone)
        keyed = s.keyed(gone).select("bucket", "key").collect()
        hits = s._bloom.might_contain(
            np.array([r["bucket"] for r in keyed], dtype=np.int64),
            np.array([r["key"] for r in keyed], dtype=np.int64),
        )
        assert not hits.any()
