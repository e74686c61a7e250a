"""SnapTable: snapshot semantics (append/overwrite/merge/time-travel) and
SeenSet: Bloom-prefiltered exact URL dedup."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from npm_search_spark.seen import SeenSet
from npm_search_spark.tables import SnapTable, source_files


class TestSnapTable:
    def test_append_and_time_travel(self, spark, tmp_path):
        t = SnapTable(str(tmp_path / "t"))
        s1 = t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
        s2 = t.append(spark.createDataFrame([(2, "b")], "id int, v string"))
        assert t.current_snapshot_id() == s2
        assert t.read(spark).count() == 2
        assert t.read(spark, snapshot_id=s1).count() == 1
        assert [s.snapshot_id for s in t.history()] == [s1, s2]

    def test_overwrite(self, spark, tmp_path):
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
        t.overwrite(spark.createDataFrame([(9, "z")], "id int, v string"))
        assert [r["id"] for r in t.read(spark).collect()] == [9]

    def test_merge_upsert(self, spark, tmp_path):
        t = SnapTable(str(tmp_path / "t"))
        t.append(
            spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "id int, v string, rev int")
        )
        t.merge_upsert(
            spark,
            spark.createDataFrame([(2, "B", 20), (3, "c", 20)], "id int, v string, rev int"),
            key="id",
        )
        got = {r["id"]: (r["v"], r["rev"]) for r in t.read(spark).collect()}
        assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 20)}

    def test_merge_upsert_revision_guard(self, spark, tmp_path):
        """IncrementFrom-style optimistic concurrency: stale source rows
        must not clobber newer target rows (reference
        src/indexers/MainWatchIndexer.ts:36-45)."""
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1, "new", 30)], "id int, v string, rev int"))
        t.merge_upsert(
            spark,
            spark.createDataFrame([(1, "stale", 20), (2, "x", 20)], "id int, v string, rev int"),
            key="id",
            guard="src.rev >= tgt.rev",
        )
        got = {r["id"]: (r["v"], r["rev"]) for r in t.read(spark).collect()}
        assert got == {1: ("new", 30), 2: ("x", 20)}

    def test_delete_where(self, spark, tmp_path):
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1, "done"), (2, "pending")], "id int, state string"))
        t.delete_where(spark, "state = 'done'")
        assert [r["id"] for r in t.read(spark).collect()] == [2]

    def test_crash_before_commit_invisible(self, spark, tmp_path):
        """Data files written without a manifest commit must stay invisible
        (resume reads the last complete snapshot)."""
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1,)], "id int"))
        # simulate a crash: write files but no commit
        t._write_files(spark.createDataFrame([(2,)], "id int"))
        assert t.read(spark).count() == 1


class TestSeenSet:
    def _urls(self, spark, urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    def test_empty_set_passes_all(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"))
        out = s.filter_unseen(spark, self._urls(spark, ["https://a.com/x"]))
        assert out.count() == 1

    def test_dedup_roundtrip(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        batch1 = ["https://registry.npmjs.org/react", "https://registry.npmjs.org/preact"]
        s.add(spark, self._urls(spark, batch1))
        batch2 = batch1 + ["https://registry.npmjs.org/vue"]
        out = s.filter_unseen(spark, self._urls(spark, batch2))
        assert [r["url"] for r in out.collect()] == ["https://registry.npmjs.org/vue"]

    def test_canonicalization_collapses_variants(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"))
        s.add(spark, self._urls(spark, ["HTTPS://Registry.NPMJS.org/react/"]))
        out = s.filter_unseen(
            spark,
            self._urls(spark, ["https://registry.npmjs.org/react#frag", "https://registry.npmjs.org/react2"]),
        )
        assert [r["url"] for r in out.collect()] == ["https://registry.npmjs.org/react2"]

    def test_exact_check_prunes_files(self, spark, tmp_path, monkeypatch):
        """A small suspect batch against a large seen table must read only
        the files whose bucket range can contain the suspects — sub-linear
        in table size (manifest-stats pruning over the (bucket, key)
        range-clustered layout). The bound at 0 forces the streamed check
        a table too big for the driver-held array takes."""
        monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        for g in range(4):
            urls = [f"https://registry.npmjs.org/pkg-{g}-{i}" for i in range(500)]
            s.add(spark, self._urls(spark, urls), n_partitions=4)
        out = s.filter_unseen(
            spark,
            self._urls(
                spark,
                [
                    "https://registry.npmjs.org/pkg-0-1",
                    "https://registry.npmjs.org/pkg-3-499",
                    "https://registry.npmjs.org/never-seen",
                ],
            ),
        )
        assert [r["url"] for r in out.collect()] == ["https://registry.npmjs.org/never-seen"]
        assert s.last_prune["files_total"] >= 8
        assert 0 < s.last_prune["files_scanned"] < s.last_prune["files_total"]

    def test_compact_restores_locality(self, spark, tmp_path, monkeypatch):
        """Many incremental appends -> one compacted, (bucket, key)-clustered
        file set: fewer files, same rows, pruning tighter than before
        (read from the streamed check, forced by the bound at 0)."""
        monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        for g in range(6):
            urls = [f"https://registry.npmjs.org/c-{g}-{i}" for i in range(300)]
            s.add(spark, self._urls(spark, urls), n_partitions=4)
        before_files = len(s.table.snapshot().files)
        n_before = s.count(spark)
        s.compact(spark, n_partitions=4)
        snap = s.table.snapshot()
        assert len(snap.files) == 4 < before_files
        assert s.count(spark) == n_before
        # clustered: every file carries bucket stats and ranges are disjoint
        ranges = sorted(snap.file_stats[f]["bucket"] for f in snap.files)
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))
        # lookups still exact after compaction (bloom survives — same rows)
        out = s.filter_unseen(
            spark,
            self._urls(spark, ["https://registry.npmjs.org/c-0-0", "https://x.org/new"]),
        )
        assert [r["url"] for r in out.collect()] == ["https://x.org/new"]
        assert s.last_prune["files_total"] == 4

    def test_incremental_adds(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=500)
        all_urls = [f"https://cdn.jsdelivr.net/npm/pkg{i}@1.0.0/x.js" for i in range(300)]
        s.add(spark, self._urls(spark, all_urls[:100]))
        out1 = s.filter_unseen(spark, self._urls(spark, all_urls[:200]))
        assert out1.count() == 100
        s.add(spark, out1)
        out2 = s.filter_unseen(spark, self._urls(spark, all_urls))
        assert out2.count() == 100
        s.add(spark, out2)
        assert s.filter_unseen(spark, self._urls(spark, all_urls)).count() == 0
        assert s.count(spark) == 300


class TestSeenDeferred:
    """Group-commit appends: add(defer=True) buffers keyed batches +
    prefilter folds; flush() makes ONE durable append per interval. The
    dedup contract must be indistinguishable from eager appends at every
    point in between."""

    def _urls(self, spark, urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    def test_deferred_adds_dedup_before_flush(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/seeded"]))
        snap_before = s.table.current_snapshot_id()
        b1 = [f"https://registry.npmjs.org/d1-{i}" for i in range(50)]
        b2 = [f"https://registry.npmjs.org/d2-{i}" for i in range(50)]
        s.add(spark, self._urls(spark, b1), defer=True)
        # no durable commit yet
        assert s.table.current_snapshot_id() == snap_before
        # but the deferred keys ARE seen — exactness across the buffer
        out = s.filter_unseen(spark, self._urls(spark, b1 + b2))
        assert sorted(r["url"] for r in out.collect()) == sorted(b2)
        s.add(spark, self._urls(spark, b2), defer=True)
        assert s.filter_unseen(spark, self._urls(spark, b1 + b2)).count() == 0
        # count() sees buffered keys
        assert s.count(spark) == 101
        # one flush, one new snapshot, identical final contents
        sid = s.flush(spark)
        assert sid != snap_before
        assert s.table.read(spark).count() == 101
        assert s.filter_unseen(spark, self._urls(spark, b1 + b2)).count() == 0

    def test_flush_matches_eager_path(self, spark, tmp_path):
        urls = [f"https://registry.npmjs.org/m-{i}" for i in range(200)]
        eager = SeenSet(str(tmp_path / "eager"), expected_keys_per_bucket=1000)
        for i in range(0, 200, 50):
            eager.add(spark, self._urls(spark, urls[i : i + 50]), n_partitions=4)
        deferred = SeenSet(str(tmp_path / "deferred"), expected_keys_per_bucket=1000)
        for i in range(0, 200, 50):
            deferred.add(spark, self._urls(spark, urls[i : i + 50]), defer=True)
        deferred.flush(spark, n_partitions=4)
        a = {r["key"] for r in eager.table.read(spark).select("key").collect()}
        b = {r["key"] for r in deferred.table.read(spark).select("key").collect()}
        assert a == b
        # flush wrote ONE snapshot with range-clustered files like add does
        snap = deferred.table.snapshot()
        ranges = sorted(snap.file_stats[f]["bucket"] for f in snap.files)
        assert all(x[1] <= y[0] for x, y in zip(ranges, ranges[1:]))

    def test_defer_on_empty_table(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        b1 = ["https://registry.npmjs.org/a", "https://registry.npmjs.org/b"]
        s.add(spark, self._urls(spark, b1), defer=True)
        out = s.filter_unseen(
            spark, self._urls(spark, b1 + ["https://registry.npmjs.org/c"])
        )
        assert [r["url"] for r in out.collect()] == ["https://registry.npmjs.org/c"]
        s.flush(spark)
        assert s.table.read(spark).count() == 2

    def test_defer_keeps_dense_broadcast_stable(self, spark, tmp_path, monkeypatch):
        """Deferred adds must not invalidate the dense filter's broadcast:
        re-shipping O(table) bits to every Python worker per micro-batch
        is a per-worker tax that grows with cluster size (the N->4N
        scaling criterion's enemy). Pending keys ride the small sorted-key
        delta broadcast instead; the dense fold happens once, at flush.
        The bound at 0 forces the streamed check, the one that broadcasts
        the dense filter."""
        monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/base"]))
        s.filter_unseen(spark, self._urls(spark, ["https://x.org/q"])).count()
        dense_bc = s._bloom_bc
        assert dense_bc is not None
        b1 = [f"https://registry.npmjs.org/g1-{i}" for i in range(40)]
        b2 = [f"https://registry.npmjs.org/g2-{i}" for i in range(40)]
        s.add(spark, self._urls(spark, b1), defer=True)
        assert s._bloom_bc is dense_bc  # untouched by the deferred add
        deltas = list(s._delta_bcs)
        assert len(deltas) == 1 and len(deltas[0].value[0]) == 40
        # dedup still exact across buffer + table while the dense bc is stale
        out = s.filter_unseen(spark, self._urls(spark, b1 + b2))
        assert sorted(r["url"] for r in out.collect()) == sorted(b2)
        s.add(spark, self._urls(spark, b2), defer=True)
        assert s._bloom_bc is dense_bc  # still untouched
        # per-batch deltas: batch 1's broadcast is reused, batch 2 adds one
        deltas2 = list(s._delta_bcs)
        assert deltas2[0] is deltas[0] and len(deltas2) == 2
        assert len(deltas2[1].value[0]) == 40
        # flush folds ONCE: dense broadcast finally rolls, delta clears
        s.flush(spark)
        assert s._delta_bcs == []
        s.filter_unseen(spark, self._urls(spark, b1)).count()
        assert s._bloom_bc is not dense_bc
        assert s.filter_unseen(spark, self._urls(spark, b1 + b2)).count() == 0

    def test_discard_pending(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/keep"]))
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/drop"]), defer=True)
        s.discard_pending()
        out = s.filter_unseen(
            spark,
            self._urls(
                spark,
                ["https://registry.npmjs.org/keep", "https://registry.npmjs.org/drop"],
            ),
        )
        # the discarded key is unseen again; the durable one stays seen
        assert [r["url"] for r in out.collect()] == ["https://registry.npmjs.org/drop"]
        assert s.count(spark) == 1

    def test_eager_add_flushes_buffer_first(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/x"]), defer=True)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/y"]))
        assert not s._pending
        assert s.table.read(spark).count() == 2

    def test_cross_batch_duplicates_collapse_at_flush(self, spark, tmp_path):
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        # same URL deferred twice (a caller that skips filter_unseen)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/dup"]), defer=True)
        s.add(spark, self._urls(spark, ["https://registry.npmjs.org/dup"]), defer=True)
        s.flush(spark)
        assert s.table.read(spark).count() == 1

    def test_deferred_cuckoo_backend(self, spark, tmp_path):
        s = SeenSet(
            str(tmp_path / "seen"), expected_keys_per_bucket=1000, backend="cuckoo"
        )
        b1 = [f"https://registry.npmjs.org/ck-{i}" for i in range(40)]
        s.add(spark, self._urls(spark, b1), defer=True)
        assert s.filter_unseen(spark, self._urls(spark, b1)).count() == 0
        s.flush(spark)
        assert s.filter_unseen(spark, self._urls(spark, b1)).count() == 0


class TestBucketPartitionTokens:
    def test_tokens_match_spark_hash_partitioning(self, spark):
        """The driver-side murmur3 token table must agree with Spark's
        HashPartitioning (F.hash, seed 42): pmod(hash(tokens[p]), n) == p.
        This is what makes seen.add's single-shuffle append an exact
        bucket-range partitioner with no sampling pass — if Spark ever
        changes its hash, this fails loudly instead of silently degrading
        file clustering."""
        from npm_search_spark.seen import _bucket_partition_tokens

        for n in (4, 32):
            toks = _bucket_partition_tokens(n)
            rows = (
                spark.createDataFrame([(p, t) for p, t in enumerate(toks)], "p int, tok int")
                .select("p", F.pmod(F.hash("tok"), F.lit(n)).alias("spark_p"))
                .collect()
            )
            assert all(r["p"] == r["spark_p"] for r in rows)

    def test_incremental_add_files_are_bucket_disjoint(self, spark, tmp_path):
        """Each append's files cover disjoint contiguous bucket ranges —
        the property manifest-stats pruning rests on, now produced by the
        deterministic token partitioner instead of repartitionByRange."""
        s = SeenSet(str(tmp_path / "seen"), expected_keys_per_bucket=1000)
        urls = [f"https://registry.npmjs.org/tok-{i}" for i in range(2000)]
        s.add(
            spark,
            spark.createDataFrame([(u,) for u in urls], "url string"),
            n_partitions=4,
        )
        snap = s.table.snapshot()
        ranges = sorted(
            snap.file_stats[f]["bucket"] for f in snap.files if f in snap.file_stats
        )
        assert len(ranges) == 4
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))


class TestMergeCopyOnWrite:
    def test_untouched_files_carried_not_rewritten(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = SnapTable(str(tmp_path / "t"))
        # two appends -> two disjoint file sets
        t.append(spark.createDataFrame([(i, "a") for i in range(100)], "id int, v string").coalesce(1))
        s1 = t.snapshot()
        t.append(spark.createDataFrame([(i, "b") for i in range(100, 200)], "id int, v string").coalesce(1))
        s2 = t.snapshot()
        file_of_batch1 = set(s1.files)
        # merge touching only batch-2 keys: batch-1 files must be carried verbatim
        t.merge_upsert(
            spark,
            spark.createDataFrame([(150, "B"), (999, "new")], "id int, v string"),
            key="id",
        )
        s3 = t.snapshot()
        assert s3.operation == "merge"
        assert file_of_batch1 <= set(s3.files)  # untouched files identical paths
        rewritten = set(s2.files) - set(s3.files)
        assert rewritten  # the affected batch-2 file was replaced
        got = {r["id"]: r["v"] for r in t.read(spark).collect()}
        assert got[150] == "B" and got[999] == "new" and got[0] == "a" and len(got) == 201

    def test_merge_into_empty_table(self, spark, tmp_path):
        from npm_search_spark.tables import SnapTable as ST

        t = ST(str(tmp_path / "t2"))
        t.merge_upsert(spark, spark.createDataFrame([(1, "x")], "id int, v string"), key="id")
        assert t.read(spark).count() == 1

    def test_merge_delete_file_granular(self, spark, tmp_path):
        """merge_delete mirrors merge_upsert: only files containing a
        matching key are rewritten, everything else is carried verbatim."""
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(i, "a") for i in range(100)], "id int, v string").coalesce(1))
        s1 = t.snapshot()
        t.append(spark.createDataFrame([(i, "b") for i in range(100, 200)], "id int, v string").coalesce(1))
        s2 = t.snapshot()
        t.merge_delete(spark, spark.createDataFrame([(150,)], "id int"), key="id")
        s3 = t.snapshot()
        assert set(s1.files) <= set(s3.files)          # batch-1 file untouched
        assert set(s2.files) - set(s3.files)           # batch-2 file rewritten
        ids = {r["id"] for r in t.read(spark).collect()}
        assert 150 not in ids and len(ids) == 199

    def test_merge_apply_upsert_and_delete_one_pass(self, spark, tmp_path):
        """One MERGE commit applying deletes + upserts together (the
        frontier's per-generation commit shape with GC enabled)."""
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, v string"))
        n_commits_before = len(t.history())
        t.merge_apply(
            spark,
            "id",
            upserts=spark.createDataFrame([(2, "B"), (4, "d")], "id int, v string"),
            delete_keys=spark.createDataFrame([(3,)], "id int"),
        )
        assert len(t.history()) == n_commits_before + 1  # single commit
        got = {r["id"]: r["v"] for r in t.read(spark).collect()}
        assert got == {1: "a", 2: "B", 4: "d"}


class TestMergeProvenance:
    """A MERGE whose sources were read from the table's current snapshot
    (``read_with_files`` + ``read_at``) rewrites exactly the files those
    rows came from and runs no detection; the result must be the detection
    MERGE's, row for row and file for file."""

    SCHEMA = "k string, p double, rev int, v string"

    def _table(self, spark, root):
        t = SnapTable(root, stats_cols=["k", "p"], cluster_by=["p"])
        old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            t.overwrite(spark.createDataFrame(
                [(f"k{i:04d}", float(i % 97), 0, "a") for i in range(400)], self.SCHEMA))
            t.append(spark.createDataFrame(
                [(f"k{i:04d}", float(i % 97), 0, "b") for i in range(400, 480)], self.SCHEMA))
        finally:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
        return t

    @staticmethod
    def _spy_detection(monkeypatch):
        calls = []
        real = SnapTable._affected_files

        def spy(self, *args, **kwargs):
            calls.append(self.root)
            return real(self, *args, **kwargs)

        monkeypatch.setattr(SnapTable, "_affected_files", spy)
        return calls

    @pytest.mark.parametrize("guard", [None, "src.rev >= tgt.rev"])
    def test_provenance_equals_detection(self, spark, tmp_path, monkeypatch, guard):
        t = self._table(spark, str(tmp_path / "t"))
        parent = t.snapshot()
        assert len(parent.files) >= 3
        calls = self._spy_detection(monkeypatch)
        rng = random.Random(7 if guard else 11)
        for _ in range(2):
            # a batch in a narrow priority band, like a scheduled batch:
            # it touches some files and leaves the rest to be carried
            lo = rng.randrange(80)
            keys = sorted(rng.sample([i for i in range(480) if lo <= i % 97 < lo + 15], 30))
            up_ids, del_ids = set(keys[::2]), set(keys[1::2])
            new_rows = spark.createDataFrame(
                [(f"n{rng.randrange(10**6):07d}", rng.uniform(0, 100), 1, "new")
                 for _ in range(5)], self.SCHEMA)

            def sources(df):
                ups = (
                    df.where(F.col("k").isin([f"k{i:04d}" for i in up_ids]))
                    .withColumn("rev", (F.xxhash64("k") % 3).cast("int") - 1)
                    .withColumn("v", F.concat(F.col("v"), F.lit("!")))
                    .unionByName(new_rows, allowMissingColumns=True)
                )
                dels = df.where(F.col("k").isin([f"k{i:04d}" for i in del_ids]))
                return ups, dels.drop("rev", "v")  # keys, stats and _file

            def result():
                snap = t.snapshot()
                rows = sorted(tuple(r) for r in t.read(spark).collect())
                return rows, sorted(set(snap.files) & set(parent.files))

            # detection
            ups, dels = sources(t.read(spark))
            n = len(calls)
            t.merge_apply(spark, "k", upserts=ups, delete_keys=dels, guard=guard)
            assert len(calls) == n + 1
            detected = result()

            # provenance, files collected from the sources' _file column
            t.rollback(parent.snapshot_id)
            df, sid = t.read_with_files(spark)
            ups, dels = sources(df)
            t.merge_apply(spark, "k", upserts=ups, delete_keys=dels, guard=guard,
                          read_at=sid)
            assert len(calls) == n + 1  # no detection ran
            assert result() == detected

            # provenance, files given by the caller
            t.rollback(parent.snapshot_id)
            df, sid = t.read_with_files(spark)
            ups, dels = sources(df)
            files = source_files(
                r[0] for r in ups.select("_file").union(dels.select("_file")).collect()
            )
            t.merge_apply(spark, "k", upserts=ups, delete_keys=dels, guard=guard,
                          read_at=sid, files=files)
            assert len(calls) == n + 1
            assert result() == detected
            assert detected[1] != sorted(parent.files)  # some files were rewritten
            assert detected[1]  # and some were carried
            t.rollback(parent.snapshot_id)

    def test_table_moved_since_read_falls_back_to_detection(
        self, spark, tmp_path, monkeypatch
    ):
        t = self._table(spark, str(tmp_path / "t"))
        calls = self._spy_detection(monkeypatch)
        df, sid = t.read_with_files(spark)
        ups = df.where(F.col("k").isin("k0001", "k0401")).withColumn("v", F.lit("up"))
        # a writer lands a row whose key the upserts also carry, in a file
        # the read never saw: only detection can find it
        t.append(spark.createDataFrame([("k0001", 1.0, 0, "dup")], self.SCHEMA))
        t.merge_upsert(spark, ups, key="k", read_at=sid)
        assert calls == [t.root]
        got = t.read(spark).where(F.col("k").isin("k0001", "k0401")).collect()
        assert sorted((r["k"], r["v"]) for r in got) == [("k0001", "up"), ("k0401", "up")]
        assert "_file" not in t.read(spark).columns

        # files outside the current snapshot are not trusted either
        df, sid = t.read_with_files(spark)
        t.merge_upsert(spark, df.where(F.col("k") == "k0002").withColumn("v", F.lit("x")),
                       key="k", read_at=sid, files=["/no/such/file.parquet"])
        assert calls == [t.root, t.root]
        assert t.read(spark).where(F.col("k") == "k0002").first()["v"] == "x"
        assert t.read(spark).count() == 480


class TestClusteredWrites:
    def test_cluster_by_prunes_merge_detection(self, spark, tmp_path):
        """A priority-clustered table merges a top-of-range batch without
        even *reading* the low-range files (manifest-stats pruning on a
        non-key column) — the frontier's per-generation commit shape."""
        t = SnapTable(
            str(tmp_path / "t"), stats_cols=["k", "p"], cluster_by=["p"]
        )
        old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            t.overwrite(
                spark.createDataFrame(
                    [(f"u{i}", float(i)) for i in range(1000)], "k string, p double"
                )
            )
        finally:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
        snap = t.snapshot()
        assert len(snap.files) >= 3
        low_files = {
            f for f in snap.files if snap.file_stats[f]["p"][1] < 900.0
        }
        assert low_files
        # merge touching only the top of the priority range
        t.merge_upsert(
            spark,
            spark.createDataFrame(
                [("u950", 950.0), ("u999", 999.0)], "k string, p double"
            ),
            key="k",
        )
        s2 = t.snapshot()
        assert low_files <= set(s2.files)  # untouched, carried verbatim
        got = {r["k"]: r["p"] for r in t.read(spark).collect()}
        assert got["u950"] == 950.0 and len(got) == 1000


class TestFileStats:
    def test_stats_recorded_and_prune(self, spark, tmp_path):
        t = SnapTable(str(tmp_path / "t"), stats_cols=["id"])
        t.append(spark.createDataFrame([(i,) for i in range(100)], "id int").coalesce(1))
        t.append(spark.createDataFrame([(i,) for i in range(100, 200)], "id int").coalesce(1))
        snap = t.snapshot()
        assert len(snap.files) == 2
        ranges = sorted(snap.file_stats[f]["id"] for f in snap.files)
        assert ranges == [[0, 99], [100, 199]]
        # driver-side pruning with zero I/O
        assert len(t.files_matching("id", [5])) == 1
        assert len(t.files_matching("id", [5, 150])) == 2
        assert t.files_matching("id", [500]) == []

    def test_stats_prune_bounds_merge(self, spark, tmp_path):
        """A merge whose source keys fall wholly outside a file's stats
        range must not rewrite that file — even before the exact scan."""
        t = SnapTable(str(tmp_path / "t"), stats_cols=["id"])
        t.append(spark.createDataFrame([(i, "a") for i in range(100)], "id int, v string").coalesce(1))
        low = set(t.snapshot().files)
        t.append(spark.createDataFrame([(i, "b") for i in range(1000, 1100)], "id int, v string").coalesce(1))
        t.merge_upsert(spark, spark.createDataFrame([(1050, "B")], "id int, v string"), key="id")
        assert low <= set(t.snapshot().files)
        assert {r["v"] for r in t.read(spark).where("id = 1050").collect()} == {"B"}


class TestSnapshotExpiration:
    def _ids(self, t, spark):
        return sorted(r["id"] for r in t.read(spark).collect())

    def test_expire_deletes_dead_files_keeps_live(self, spark, tmp_path):
        import os

        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1,)], "id int"))
        t.overwrite(spark.createDataFrame([(2,)], "id int"))  # v1 files dead
        s3 = t.append(spark.createDataFrame([(3,)], "id int"))
        res = t.expire_snapshots(keep_last=2)
        assert res["snapshots_expired"] == 1
        assert res["files_deleted"] >= 1
        # current data intact, time travel within keep window intact
        assert self._ids(t, spark) == [2, 3]
        assert t.current_snapshot_id() == s3
        assert len(t.history()) == 2
        # expired snapshot is gone
        with pytest.raises(FileNotFoundError):
            t.snapshot(1)

    def test_expire_keeps_shared_files(self, spark, tmp_path):
        """A file carried from an expired snapshot into a retained one must
        survive (appends share parent files)."""
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1,)], "id int"))
        t.append(spark.createDataFrame([(2,)], "id int"))
        t.append(spark.createDataFrame([(3,)], "id int"))
        t.expire_snapshots(keep_last=1)
        assert self._ids(t, spark) == [1, 2, 3]
        assert len(t.history()) == 1

    def test_expire_prunes_rolled_back_generation(self, spark, tmp_path):
        """A rollback commit re-points at the old files (its parent is the
        abandoned snapshot). Once the abandoned snapshot ages out of the
        keep window, its exclusive files are physically freed while the
        files shared with the live snapshot survive."""
        t = SnapTable(str(tmp_path / "t"))
        s1 = t.append(spark.createDataFrame([(1,)], "id int"))
        t.overwrite(spark.createDataFrame([(99,)], "id int"))  # half-applied gen
        t.rollback(s1)
        res = t.expire_snapshots(keep_last=1)
        assert self._ids(t, spark) == [1]
        assert res["snapshots_expired"] == 2  # s1's manifest + the overwrite
        assert res["files_deleted"] >= 1      # the overwrite's exclusive file
        assert self._ids(t, spark) == [1]     # shared file kept

    def test_expire_older_than_retains_young(self, spark, tmp_path):
        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1,)], "id int"))
        t.append(spark.createDataFrame([(2,)], "id int"))
        t.append(spark.createDataFrame([(3,)], "id int"))
        now = t.snapshot().timestamp_ms + 10
        # everything is younger than the 1-hour cutoff -> nothing expires
        res = t.expire_snapshots(keep_last=1, older_than_ms=3_600_000, now_ms=now)
        assert res["snapshots_expired"] == 0
        assert len(t.history()) == 3

    def test_remove_orphans(self, spark, tmp_path):
        import os

        t = SnapTable(str(tmp_path / "t"))
        t.append(spark.createDataFrame([(1,)], "id int"))
        # simulate a crashed writer: files on disk, no manifest commit
        df = spark.createDataFrame([(99,)], "id int")
        orphan_dir = str(tmp_path / "t" / "data" / "deadbeefcrash")
        df.coalesce(1).write.parquet(orphan_dir)
        assert t.remove_orphans() >= 1
        assert not os.path.exists(orphan_dir)
        assert self._ids(t, spark) == [1]

    def test_compact_then_expire_bounds_bytes(self, spark, tmp_path):
        """The maintenance pair: compact supersedes incremental files,
        expire physically frees them — total on-disk parquet tracks the
        live set."""
        import glob

        t = SnapTable(str(tmp_path / "t"), stats_cols=["id"], cluster_by=["id"])
        for i in range(6):
            t.append(spark.createDataFrame([(i,)], "id int"))
        n_before = len(glob.glob(str(tmp_path / "t" / "data" / "*" / "*.parquet")))
        t.compact(spark, n_partitions=1)
        t.expire_snapshots(keep_last=1)
        n_after = len(glob.glob(str(tmp_path / "t" / "data" / "*" / "*.parquet")))
        assert n_after < n_before
        assert n_after == 1
        assert self._ids(t, spark) == list(range(6))
