"""The seen set sharded by bucket, on the streamed check.

Three things are sharded by bucket, and each is pinned here:

- the Bloom prefilter's cold build: executors hash per-bucket
  ``BloomShards`` (mapInArrow) and the driver only ORs them into the dense
  matrix — bit-identical to the filter the driver keeps by folding each
  append and flush;
- the table's files: every append is repartitioned so a partition (a
  file) holds one contiguous bucket slice, and the suspect semi-join
  reads only the files of its suspects' slices;
- a flush's fold: it sets bits in the touched buckets' rows only.

The touch-only-your-slice property is pinned by POISONING foreign files:
if the exact check read any file outside its suspects' bucket slice, the
corrupt parquet would fail the job.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from npm_search_spark.seen import DenseBloom, SeenSet, _bucket_slice_partitioner


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://registry.npmjs.org/pkg-"), F.col("id")).alias("url")
    )


N_RANGES = 8


def _streamed(monkeypatch):
    # no table fits the driver-held array: every check takes the Bloom
    monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)


# the id names the prefilter the shards build (the Bloom is the only one)
@pytest.fixture(params=["bloom"])
def sharded(request, tmp_path, monkeypatch):
    _streamed(monkeypatch)
    return SeenSet(str(tmp_path / f"seen-{request.param}"), expected_keys_per_bucket=64)


def _slice_of(s, b):
    return b * N_RANGES // s.n_buckets


class TestShardedCorrectness:
    def test_filter_unseen_exact(self, spark, sharded):
        sharded.add(spark, _urls(spark, 0, 500), n_partitions=N_RANGES)
        out = sharded.filter_unseen(spark, _urls(spark, 250, 750))
        got = sorted(r["url"] for r in out.collect())
        want = sorted(r["url"] for r in _urls(spark, 500, 750).collect())
        assert got == want
        assert isinstance(sharded._bloom, DenseBloom)
        assert sharded.last_prune["files_total"] > 1

    def test_matches_dense_mode(self, spark, tmp_path, monkeypatch):
        """A fresh SeenSet's executor-shard build over the table equals,
        bit for bit, the filter a crawl kept by driver-side folds of each
        durable append (its files) and each flush (its key arrays)."""
        _streamed(monkeypatch)
        root = str(tmp_path / "dense")
        dense = SeenSet(root, expected_keys_per_bucket=64)
        dense._bloom_current(spark)  # empty table: an empty dense filter
        dense.add(spark, _urls(spark, 0, 300))
        dense.add(spark, _urls(spark, 300, 400), defer=True)
        dense.flush(spark)
        shard = SeenSet(root, expected_keys_per_bucket=64)
        q = _urls(spark, 100, 600)
        got_d = sorted(r["url"] for r in dense.filter_unseen(spark, q).collect())
        got_s = sorted(r["url"] for r in shard.filter_unseen(spark, q).collect())
        assert np.array_equal(dense._bloom.bits, shard._bloom.bits)
        assert dense._bloom.bits.any()
        assert got_d == got_s
        assert got_d == sorted(r["url"] for r in _urls(spark, 400, 600).collect())

    def test_wide_key_mode_composes(self, spark, tmp_path, monkeypatch):
        """The shard-built Bloom, the deferred (key, key2) deltas and the
        (key, key2) semi-join give one exact answer together."""
        _streamed(monkeypatch)
        s = SeenSet(str(tmp_path / "w"), expected_keys_per_bucket=64)
        s.add(spark, _urls(spark, 0, 400))
        s.add(spark, _urls(spark, 400, 500), defer=True)
        out = s.filter_unseen(spark, _urls(spark, 300, 700))
        assert sorted(r["url"] for r in out.collect()) == sorted(
            r["url"] for r in _urls(spark, 500, 700).collect()
        )


class TestTouchOnlyYourRange:
    def test_foreign_slices_poisoned(self, spark, sharded):
        """Queries whose buckets all fall in ONE slice must succeed with
        every file of the other slices overwritten by garbage — proof the
        exact check reads only its suspects' slice of the table."""
        sharded.add(spark, _urls(spark, 0, 2000), n_partitions=N_RANGES)
        # pick the slice with the most urls, restrict the query to it
        keyed = sharded.keyed(_urls(spark, 0, 2000)).select("url", "bucket").collect()
        by_rid: dict[int, list[str]] = {}
        for r in keyed:
            by_rid.setdefault(_slice_of(sharded, r["bucket"]), []).append(r["url"])
        target = max(by_rid, key=lambda k: len(by_rid[k]))
        urls = by_rid[target]
        assert len(urls) > 50
        own_buckets = [
            b for b in range(sharded.n_buckets) if _slice_of(sharded, b) == target
        ]
        own = set(sharded.table.files_matching("bucket", own_buckets))
        foreign = [f for f in sharded.table.snapshot().files if f not in own]
        assert own and foreign
        q = spark.createDataFrame([(u,) for u in urls], "url string")
        # the Bloom's cold build reads every file: build it before poisoning
        assert sharded.filter_unseen(spark, q).count() == 0
        for f in foreign:
            with open(f, "wb") as fh:
                fh.write(b"poisoned-foreign-slice")
        out = sharded.filter_unseen(spark, q)
        assert out.count() == 0  # all seen — and no poison read
        assert sharded.last_prune["files_scanned"] == len(own)
        # sanity: the poison actually fires when foreign slices ARE read
        with pytest.raises(Exception):
            sharded.filter_unseen(spark, q, prune_buckets=False).count()

    def test_candidate_partitions_are_single_range(self, spark, sharded):
        """The token partitioner puts exactly one bucket slice in each
        partition, so every file an append writes covers one slice (the
        locality the poison test relies on)."""
        sharded.add(spark, _urls(spark, 0, 2000), n_partitions=N_RANGES)
        cand = sharded.keyed(_urls(spark, 0, 5000))
        rid = F.floor(F.col("bucket") * N_RANGES / sharded.n_buckets).cast("int")
        parts = (
            cand.repartition(
                N_RANGES, _bucket_slice_partitioner(N_RANGES, sharded.n_buckets)
            )
            .select(F.spark_partition_id().alias("pid"), rid.alias("rid"))
            .groupBy("pid")
            .agg(F.countDistinct("rid").alias("n"))
            .collect()
        )
        assert parts and all(r["n"] == 1 for r in parts)
        snap = sharded.table.snapshot()
        assert len(snap.files) == N_RANGES
        for f in snap.files:
            lo, hi = snap.file_stats[f]["bucket"]
            assert _slice_of(sharded, lo) == _slice_of(sharded, hi)


class TestIncrementalInvalidation:
    def test_flush_dirties_only_touched_ranges(self, spark, sharded):
        """A deferred add leaves the filter and its broadcast alone; the
        flush folds its keys into the touched buckets' rows only and drops
        the broadcast, so the next check ships the updated filter."""
        sharded.add(spark, _urls(spark, 0, 1000))
        sharded.filter_unseen(spark, _urls(spark, 0, 10)).count()
        before = sharded._bloom.bits.copy()
        bc_before = sharded._bloom_bc
        assert bc_before is not None
        batch = _urls(spark, 1000, 1040)
        touched = {r["bucket"] for r in sharded.keyed(batch).select("bucket").collect()}
        sharded.add(spark, batch, defer=True)
        # defer never touches the filter
        assert np.array_equal(sharded._bloom.bits, before)
        assert sharded._bloom_bc is bc_before
        sharded.flush(spark)
        after = sharded._bloom.bits
        dirty = {b for b in range(sharded.n_buckets) if not np.array_equal(after[b], before[b])}
        assert dirty == touched
        assert sharded._bloom_bc is None
        assert sharded.filter_unseen(spark, batch).count() == 0
        assert sharded._bloom_bc is not None and sharded._bloom_bc is not bc_before

    def test_slice_bounds_cover_disjointly(self, spark):
        """Each partition of the bucket-slice partitioner holds one
        contiguous slice; the slices are disjoint and cover every bucket."""
        for n_ranges, n_buckets in ((8, 256), (7, 256), (32, 256), (5, 13)):
            rows = (
                spark.range(n_buckets)
                .select(F.col("id").cast("int").alias("bucket"))
                .repartition(n_ranges, _bucket_slice_partitioner(n_ranges, n_buckets))
                .select("bucket", F.spark_partition_id().alias("pid"))
                .collect()
            )
            by_pid: dict[int, list[int]] = {}
            for r in rows:
                by_pid.setdefault(r["pid"], []).append(r["bucket"])
            assert sorted(by_pid) == list(range(n_ranges))
            seen = []
            for pid in range(n_ranges):
                bs = sorted(by_pid[pid])
                assert bs == list(range(bs[0], bs[-1] + 1))
                assert all(b * n_ranges // n_buckets == pid for b in bs)
                seen.extend(bs)
            assert seen == list(range(n_buckets))
