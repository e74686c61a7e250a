"""Sharded prefilter broadcasts (VERDICT r4 "Next round" #3).

The dense-mode prefilter is collected, driver-merged and broadcast WHOLE —
at the 10^10-key north star that is ~1.5 GiB shipped to every worker per
filter version. Sharded mode (``n_ranges > 0``) broadcasts the filter as
bucket-range slices, range-aligns candidate batches with the exact token
partitioner, and each task dereferences only the slice broadcasts covering
its partition — so a worker fetches ~filter/n_ranges bytes per owned range
and a flush re-ships only the slices whose buckets changed.

The touch-only-your-range property is pinned by POISONING foreign slices:
if any task dereferenced a slice outside its partition's bucket range, the
poison object would raise inside the Arrow pass and fail the job.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from npm_search_spark.seen import SeenSet, _range_bounds


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://registry.npmjs.org/pkg-"), F.col("id")).alias("url")
    )


N_RANGES = 8


@pytest.fixture(params=["bloom", "cuckoo"])
def sharded(request, tmp_path):
    return SeenSet(
        str(tmp_path / f"seen-{request.param}"),
        expected_keys_per_bucket=64,
        backend=request.param,
        n_ranges=N_RANGES,
    )


# stand-in for a foreign range slice: it has no might_contain, so any task
# that dereferences it and probes it fails loudly — proof the task reached
# outside its bucket range
_POISON = "poisoned-foreign-range-slice"


class TestShardedCorrectness:
    def test_filter_unseen_exact(self, spark, sharded):
        sharded.add(spark, _urls(spark, 0, 500))
        out = sharded.filter_unseen(spark, _urls(spark, 250, 750))
        got = sorted(r["url"] for r in out.collect())
        want = sorted(r["url"] for r in _urls(spark, 500, 750).collect())
        assert got == want

    def test_matches_dense_mode(self, spark, tmp_path):
        dense = SeenSet(str(tmp_path / "dense"), expected_keys_per_bucket=64)
        shard = SeenSet(
            str(tmp_path / "shard"), expected_keys_per_bucket=64, n_ranges=N_RANGES
        )
        for s in (dense, shard):
            s.add(spark, _urls(spark, 0, 300))
            s.add(spark, _urls(spark, 300, 400), defer=True)
        q = _urls(spark, 100, 600)
        got_d = sorted(r["url"] for r in dense.filter_unseen(spark, q).collect())
        got_s = sorted(r["url"] for r in shard.filter_unseen(spark, q).collect())
        assert got_d == got_s
        assert got_d == sorted(r["url"] for r in _urls(spark, 400, 600).collect())

    def test_wide_key_mode_composes(self, spark, tmp_path):
        s = SeenSet(
            str(tmp_path / "w"), expected_keys_per_bucket=64, n_ranges=N_RANGES,
        )
        s.add(spark, _urls(spark, 0, 400))
        s.add(spark, _urls(spark, 400, 500), defer=True)
        out = s.filter_unseen(spark, _urls(spark, 300, 700))
        assert sorted(r["url"] for r in out.collect()) == sorted(
            r["url"] for r in _urls(spark, 500, 700).collect()
        )


class TestTouchOnlyYourRange:
    def test_foreign_slices_poisoned(self, spark, sharded):
        """Queries whose buckets all fall in ONE range must succeed with
        every other range's slice broadcast replaced by a poison object —
        proof a task fetches only its bucket range's filter bytes."""
        sharded.add(spark, _urls(spark, 0, 2000))
        # pick the range with the most candidates, restrict the query to it
        keyed = sharded.keyed(_urls(spark, 0, 2000)).select("url", "bucket").collect()
        rid_of = lambda b: b * N_RANGES // sharded.n_buckets  # noqa: E731
        by_rid: dict[int, list[str]] = {}
        for r in keyed:
            by_rid.setdefault(rid_of(r["bucket"]), []).append(r["url"])
        target = max(by_rid, key=lambda k: len(by_rid[k]))
        urls = by_rid[target]
        assert len(urls) > 50
        # build the real broadcasts, then poison every foreign slice
        sharded._range_broadcasts(spark)
        for rid in range(N_RANGES):
            if rid != target:
                sharded._range_bcs[rid].unpersist()
                sharded._range_bcs[rid] = spark.sparkContext.broadcast(_POISON)
        q = spark.createDataFrame([(u,) for u in urls], "url string")
        out = sharded.filter_unseen(spark, q)
        assert out.count() == 0  # all seen — and no poison dereferenced
        # sanity: the poison actually fires when foreign ranges ARE queried
        with pytest.raises(Exception, match="might_contain"):
            sharded.filter_unseen(spark, _urls(spark, 0, 2000)).count()

    def test_candidate_partitions_are_single_range(self, spark, sharded):
        """The token-partitioner alignment puts exactly one bucket range in
        each candidate partition (the locality the poison test relies on)."""
        sharded.add(spark, _urls(spark, 0, 100))
        cand = sharded.keyed(_urls(spark, 0, 5000))
        from npm_search_spark.seen import _bucket_partition_tokens

        toks = _bucket_partition_tokens(N_RANGES)
        pmap = F.create_map(*[F.lit(x) for p in range(N_RANGES) for x in (p, toks[p])])
        rid = F.floor(F.col("bucket") * N_RANGES / sharded.n_buckets).cast("int")
        parts = (
            cand.repartition(N_RANGES, pmap[rid])
            .select(F.spark_partition_id().alias("pid"), rid.alias("rid"))
            .groupBy("pid")
            .agg(F.countDistinct("rid").alias("n"))
            .collect()
        )
        assert parts and all(r["n"] == 1 for r in parts)


class TestIncrementalInvalidation:
    def test_flush_dirties_only_touched_ranges(self, spark, sharded):
        sharded.add(spark, _urls(spark, 0, 1000))
        bcs_before = list(sharded._range_broadcasts(spark))
        # defer a batch, note which ranges its buckets land in, flush
        batch = _urls(spark, 1000, 1040)
        keyed = sharded.keyed(batch).select("bucket").collect()
        touched = {r["bucket"] * N_RANGES // sharded.n_buckets for r in keyed}
        sharded.add(spark, batch, defer=True)
        assert not sharded._range_dirty  # defer never touches the filter
        sharded.flush(spark)
        assert sharded._range_dirty == touched
        bcs_after = sharded._range_broadcasts(spark)
        for rid in range(N_RANGES):
            if rid in touched:
                assert bcs_after[rid] is not bcs_before[rid]
            else:
                assert bcs_after[rid] is bcs_before[rid]

    def test_slice_bounds_cover_disjointly(self):
        for n_ranges, n_buckets in ((8, 256), (7, 256), (32, 256), (5, 13)):
            seen = []
            for rid in range(n_ranges):
                lo, hi = _range_bounds(rid, n_ranges, n_buckets)
                seen.extend(range(lo, hi))
                for b in range(lo, hi):
                    assert b * n_ranges // n_buckets == rid
            assert seen == list(range(n_buckets))
