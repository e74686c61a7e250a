"""URL-seen set: partitioned Bloom/cuckoo prefilter + exact key check.

Re-creates the reference's dedup semantics — its queue upsert by objectID
and isProcessed flag (src/watch.ts:134-141, src/indexers/
MainBootstrapIndexer.ts:31-36) are semantically a URL-seen set — at
10^10-URL scale (north rule: canonicalized, xxhash64-keyed, broadcast-
merged per micro-batch).

Design:
- The exact set is a SnapTable of (bucket, key, key2) where
  key = xxhash64(canonical_url), key2 = an independently-salted xxhash64
  of the same url and bucket = pmod(xxhash64, 256). Identity is the
  128-bit (key, key2) pair: dedup, membership, remove and count all
  compare both halves, so a 64-bit key collision never merges two urls.
  Rows are written repartitioned+sorted by (bucket, key) so parquet
  row-group min/max stats prune the exact-check scan.
- Tables up to ``SeenSet.EXACT_DRIVER_MAX_BYTES`` are resolved from a
  driver-held, (key, key2)-lexsorted copy broadcast once per snapshot:
  one Arrow pass decides membership exactly.
- Larger tables use a prefilter sharded by bucket, built per snapshot with
  mapInArrow (vectorized numpy, one shard per bucket partition), merged on
  the driver, and broadcast. Candidates that miss it are definitively
  unseen (no false negatives); hits go to a bucket-pruned semi-join that
  compares (key, key2) (false positives resolved exactly). Two backends,
  selected at construction: a Bloom filter (OR-merged bitmaps, default) or
  a cuckoo filter (cuckoo.DenseCuckoo — deletable, so `remove()` keeps it
  tight).
- At 1e10 keys / 1% fp the filter is ~1.5 GiB total, i.e. ~6 MiB per
  bucket shard: on a real cluster only the shards matching the micro-batch's
  buckets need shipping; in local mode we broadcast the whole dict.

The streamed exact check never leaves the JVM-side join path; the
prefilter is the only Python stage and is Arrow-batched.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cuckoo import SLOTS as CUCKOO_SLOTS
from .cuckoo import CuckooShards, DenseCuckoo, rows_for
from .functions.urls import N_SEEN_BUCKETS, canonicalize_url, url_bucket, url_key
from .tables import SnapTable

# no url column: ~20 B/row instead of ~90 B, so the dedup shuffle,
# checkpoint, delta broadcast and parquet append carry keys only
SEEN_SCHEMA = "bucket int, key long, key2 long"
# a distinct leading literal makes key2 = xxhash64(salt, url) statistically
# independent of key = xxhash64(url); pair-collision odds are 2^-128 per
# candidate pair (at 10^10 seen keys vs a 10^7 batch: ~3e-22 expected)
_KEY2_SALT = "seen-k2:"
_HELPER_COLS = ["key", "bucket", "key2"]


def _contains_pairs(
    sorted_k: np.ndarray, sorted_k2: np.ndarray, k: np.ndarray, k2: np.ndarray
) -> np.ndarray:
    """Which (k[i], k2[i]) pairs occur in (sorted_k, sorted_k2), a
    (key, key2)-lexsorted pair list. Two int64 searchsorteds find each
    key's run; a run of one compares key2 directly and only longer runs
    (64-bit key collisions, repeated durable adds) are scanned."""
    n = len(sorted_k)
    if not n:
        return np.zeros(len(k), dtype=bool)
    lo = np.searchsorted(sorted_k, k, "left")
    runs = np.searchsorted(sorted_k, k, "right") - lo
    hit = (runs == 1) & (sorted_k2[np.minimum(lo, n - 1)] == k2)
    for i in np.nonzero(runs > 1)[0]:
        hit[i] = k2[i] in sorted_k2[lo[i] : lo[i] + runs[i]]
    return hit


def _lexsorted(k: np.ndarray, k2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    order = np.lexsort((k2, k))
    return np.ascontiguousarray(k[order]), np.ascontiguousarray(k2[order])


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32 of a 32-bit int (seed 42) — what
    HashPartitioning applies under repartition(n, col). Verified against
    F.hash in tests; public algorithm (Appleby's MurmurHash3)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = x & 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = (seed ^ k) & 0xFFFFFFFF
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


_TOKEN_CACHE: dict[int, list[int]] = {}


def _bucket_partition_tokens(n_parts: int) -> list[int]:
    """tokens[p] is an int that Spark's hash partitioning places in
    partition p: pmod(murmur3(tokens[p]), n_parts) == p. Mapping the
    bucket-range id through this table makes repartition(n, token) an
    EXACT range partitioner for the (already integer) bucket column —
    one shuffle, no repartitionByRange sampling pass, each output
    partition covering one contiguous bucket range."""
    cached = _TOKEN_CACHE.get(n_parts)
    if cached is not None:
        return cached
    out: list[int | None] = [None] * n_parts
    found, t = 0, 0
    while found < n_parts:
        p = _murmur3_int(t) % n_parts
        if out[p] is None:
            out[p] = t
            found += 1
        t += 1
    _TOKEN_CACHE[n_parts] = out  # type: ignore[assignment]
    return out  # type: ignore[return-value]




def _bloom_params(expected_keys: int, fp_rate: float) -> tuple[int, int]:
    m = max(64, int(-expected_keys * math.log(fp_rate) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / max(expected_keys, 1) * math.log(2)))
    return m, min(k, 8)


def _bloom_positions(keys: np.ndarray, m_bits: int, k: int) -> Iterator[np.ndarray]:
    """k hash positions per 64-bit key, derived from two halves of the key
    (Kirsch–Mitzenmacher double hashing) — vectorized."""
    h1 = keys.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    h2 = (keys.astype(np.uint64) >> np.uint64(32)) | np.uint64(1)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


class DenseBloom:
    """All bucket shards in one contiguous (n_buckets, m/64) uint64 matrix —
    a single zero-copy-pickled buffer, so per-worker broadcast
    deserialization is a memcpy, not a dict of small arrays. Membership is
    one vectorized gather across the whole Arrow batch."""

    def __init__(self, m_bits: int, k: int, n_buckets: int):
        self.m = m_bits
        self.k = k
        self.bits = np.zeros((n_buckets, m_bits // 64), dtype=np.uint64)

    def merge_shard(self, bucket: int, shard: np.ndarray) -> None:
        self.bits[bucket] |= shard

    def might_contain(self, buckets: np.ndarray, keys: np.ndarray) -> np.ndarray:
        hit = np.ones(len(keys), dtype=bool)
        b = buckets.astype(np.int64)
        for pos in _bloom_positions(keys, self.m, self.k):
            words = self.bits[b, pos >> 6]
            hit &= (words >> (pos & 63).astype(np.uint64)) & np.uint64(1) != 0
        return hit


class BloomShards:
    """bucket -> packed uint64 bitmap (executor-side partial builds)."""

    def __init__(self, m_bits_per_shard: int, k: int):
        self.m = m_bits_per_shard
        self.k = k
        self.shards: dict[int, np.ndarray] = {}

    def add(self, buckets: np.ndarray, keys: np.ndarray) -> None:
        for b in np.unique(buckets):
            mask = buckets == b
            shard = self.shards.setdefault(
                int(b), np.zeros(self.m // 64, dtype=np.uint64)
            )
            for pos in _bloom_positions(keys[mask], self.m, self.k):
                np.bitwise_or.at(shard, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64))

    def might_contain(self, buckets: np.ndarray, keys: np.ndarray) -> np.ndarray:
        out = np.zeros(len(keys), dtype=bool)
        for b in np.unique(buckets):
            mask = buckets == b
            shard = self.shards.get(int(b))
            if shard is None:
                continue
            hit = np.ones(int(mask.sum()), dtype=bool)
            for pos in _bloom_positions(keys[mask], self.m, self.k):
                hit &= (shard[pos // 64] >> (pos % 64).astype(np.uint64)) & np.uint64(1) != 0
            out[mask] = hit
        return out


class _OffsetFilter:
    """A contiguous bucket-range slice of a dense prefilter — the unit a
    sharded broadcast ships (~filter_bytes / n_ranges each). Buckets passed
    to ``might_contain`` stay absolute; the slice re-bases them."""

    def __init__(self, inner, lo: int):
        self.inner = inner
        self.lo = lo

    def might_contain(self, buckets: np.ndarray, keys: np.ndarray) -> np.ndarray:
        return self.inner.might_contain(buckets - self.lo, keys)


def _slice_filter(flt, lo: int, hi: int) -> _OffsetFilter:
    """Copy buckets [lo, hi) of a DenseBloom/DenseCuckoo into a standalone
    slice whose pickle is exactly the slice's bytes."""
    if isinstance(flt, DenseBloom):
        s = DenseBloom(flt.m, flt.k, hi - lo)
        s.bits = np.ascontiguousarray(flt.bits[lo:hi])
    else:
        s = DenseCuckoo(flt.n, hi - lo)
        s.table = np.ascontiguousarray(flt.table[lo:hi])
        s.stash = {(b - lo, r, f) for (b, r, f) in flt.stash if lo <= b < hi}
    return _OffsetFilter(s, lo)


def _range_bounds(rid: int, n_ranges: int, n_buckets: int) -> tuple[int, int]:
    """Bucket bounds [lo, hi) of range ``rid`` under the floor(bucket * R /
    NB) range id used everywhere (append clustering, candidate alignment)."""
    lo = -((-rid * n_buckets) // n_ranges)
    hi = -((-(rid + 1) * n_buckets) // n_ranges)
    return lo, hi


class SeenSet:
    def __init__(
        self,
        root: str,
        expected_keys_per_bucket: int = 200_000,
        fp_rate: float = 0.01,
        n_buckets: int = N_SEEN_BUCKETS,
        backend: str = "bloom",
        store_urls: bool = False,
        n_ranges: int = 0,
    ):
        """Rows are (bucket, key, key2): identity is the 128-bit
        (key, key2) pair, never the url string.

        ``backend``: the in-memory prefilter implementation.

        - ``"bloom"`` (default): DenseBloom — ~9.6 bits/key at 1 % fp;
          deletions leave it stale-conservative (extra false positives,
          resolved by the exact check — never a false negative).
        - ``"cuckoo"``: cuckoo.DenseCuckoo — ~19 bits/key, fp ≈ 0.012 %,
          2-row lookups, and **exact O(1) deletion** so `remove()` keeps
          the filter tight (package deletions, bootstrap redo).

        ``n_ranges``: 0 (default) broadcasts the dense prefilter whole —
        right for local mode and small tables. >0 is the sharded scale
        mode: the filter is broadcast as ``n_ranges`` bucket-range slices,
        candidates are range-aligned with ONE small shuffle (the exact
        token partitioner — no sampling pass), and each task dereferences
        ONLY the slice broadcasts covering its partition's bucket range —
        so at the 10^10-key north star (~1.5 GiB of filter at 1% fp) a
        worker fetches ~filter/n_ranges bytes per range it owns instead of
        the whole 1.5 GiB, and a flush invalidates (re-ships) only the
        slices whose buckets changed. tests/test_seen_sharded.py pins the
        touch-only-your-range property with poisoned foreign slices.

        ``store_urls`` is accepted for old callers: False is the only row
        format, True raises.
        """
        from pyspark.sql import types as T

        if store_urls:
            raise ValueError(
                "seen-set url rows were removed: rows are (bucket, key, key2)"
            )
        if backend not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown seen-set backend {backend!r}")
        schema = T.StructType.fromDDL(SEEN_SCHEMA)
        # per-file bucket min/max in the manifest: the exact check prunes
        # files driver-side by the suspects' buckets before any I/O
        self.table = SnapTable(root, schema, stats_cols=["bucket"])
        self.last_prune: dict[str, int] = {}
        self.n_buckets = n_buckets
        self.backend = backend
        self.m, self.k = _bloom_params(expected_keys_per_bucket, fp_rate)
        self.cuckoo_rows = rows_for(expected_keys_per_bucket)
        # `_bloom` is the prefilter object regardless of backend (DenseBloom
        # or DenseCuckoo — identical might_contain/merge_shard surface)
        self._bloom: DenseBloom | DenseCuckoo | None = None
        self._bloom_snapshot: int | None = None
        self._bloom_bc = None  # cached spark broadcast of the dense filter
        if n_ranges and not 0 < n_ranges <= n_buckets:
            raise ValueError(f"n_ranges must be in (0, {n_buckets}]")
        self.n_ranges = int(n_ranges)
        # sharded mode: one broadcast per bucket range; a fold marks only
        # the touched ranges dirty, so flushes re-ship slice bytes, never
        # the whole filter
        self._range_bcs: list = []
        self._range_dirty: set[int] = set()
        # group-commit buffer: keyed (bucket, key, key2) batches added with
        # defer=True, localCheckpointed, awaiting one flush() append
        self._pending: list[DataFrame] = []
        # driver-side (bucket, key, key2) arrays of the same batches. Pending
        # keys are made visible via SMALL per-batch sorted-key delta broadcasts,
        # NOT by folding into the dense filter: a fold would invalidate the
        # big filter's broadcast and force every Python worker to re-fetch
        # O(table) bits each micro-batch — a per-worker tax that grows with
        # cluster size (the 4N-executor cluster pays 4x). Each deferred
        # batch gets its OWN broadcast, created once and kept until flush —
        # a worker's per-generation fetch is O(batch), never a re-sorted
        # re-broadcast O(total pending). The delta is the batch's
        # (key, key2)-lexsorted pairs, so membership is 128-bit EXACT and
        # pending resolution needs no join against the buffered batches.
        self._pending_arrays: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
        self._delta_bcs: list = []
        # small-table fast path (r6): a driver-cached, (key, key2)-
        # lexsorted copy of the exact table, broadcast once per snapshot —
        # the Arrow verdict pass then resolves EXACT membership in-place
        # (searchsorted), so a steady-state filter_unseen runs NO per-batch
        # table scan and NO broadcast-join chain. Same trust model as the
        # dense prefilter (which is already driver-held, O(table) bits);
        # gated on table bytes <= EXACT_DRIVER_MAX_BYTES so the 10^10-key
        # deployment keeps the streamed, never-shuffled exact check.
        self._exact_arrays: tuple[np.ndarray, np.ndarray] | None = None
        self._exact_snapshot: int | None = None
        self._exact_bc = None
        # keyed-frame reuse stash (see filter_unseen's exact path): weakref
        # to the last returned frame + its keyed checkpoint, so add() can
        # skip re-keying when handed that exact object back
        self._keyed_out_ref = None
        self._keyed_out_rows = None

    # upper bound on the driver-cached exact-array copy of the table
    # (~64 MB = ~4M rows); larger tables use the streamed check
    EXACT_DRIVER_MAX_BYTES = 64 << 20

    # -- bloom maintenance ---------------------------------------------------

    def _invalidate_filter_broadcasts(self, buckets=None) -> None:
        """Mark cached prefilter broadcasts stale after a fold/delete.
        ``buckets``: the touched bucket ids — sharded mode dirties only
        their ranges (None = everything, e.g. a full rebuild)."""
        if self._bloom_bc is not None:
            # unpersist, NOT destroy: lazy plans built before this update
            # may still reference the old broadcast and must re-fetch it
            self._bloom_bc.unpersist()
            self._bloom_bc = None
        if not self.n_ranges:
            return
        if buckets is None:
            self._range_dirty.update(range(self.n_ranges))
            return
        b = np.asarray(buckets, dtype=np.int64)
        if len(b):
            rids = np.unique(b * self.n_ranges // self.n_buckets)
            self._range_dirty.update(int(r) for r in rids)

    def _range_broadcasts(self, spark: SparkSession) -> list:
        """The per-bucket-range slice broadcasts (sharded mode). Only dirty
        ranges are re-sliced and re-broadcast; a steady-state flush touches
        the ranges its keys landed in and leaves every other slice's
        broadcast (and the workers' cached copies) untouched."""
        self._bloom_current(spark)
        if not self._range_bcs:
            self._range_bcs = [None] * self.n_ranges
            self._range_dirty = set(range(self.n_ranges))
        for rid in sorted(self._range_dirty):
            lo, hi = _range_bounds(rid, self.n_ranges, self.n_buckets)
            if self._range_bcs[rid] is not None:
                self._range_bcs[rid].unpersist()
            self._range_bcs[rid] = spark.sparkContext.broadcast(
                _slice_filter(self._bloom, lo, hi)
            )
        self._range_dirty.clear()
        return list(self._range_bcs)

    def _shards_of(self, df: DataFrame) -> list:
        """Per-partition filter shards via mapInArrow -> (bucket, bits,
        overflow) rows. For the bloom backend ``bits`` is the packed
        bitmap; for cuckoo it's the subtable buffer and ``overflow`` packs
        any (row, fingerprint) pairs whose eviction walk overran (empty
        below the target load)."""
        df = df.select("bucket", "key")
        m, k = self.m, self.k
        backend, cuckoo_rows = self.backend, self.cuckoo_rows

        def build(batches):
            import pyarrow as pa

            out_schema = pa.schema(
                [
                    ("bucket", pa.int32()),
                    ("bits", pa.binary()),
                    ("overflow", pa.binary()),
                ]
            )
            local = (
                BloomShards(m, k) if backend == "bloom" else CuckooShards(cuckoo_rows)
            )
            for batch in batches:
                local.add(
                    batch.column("bucket").to_numpy(zero_copy_only=False),
                    batch.column("key").to_numpy(zero_copy_only=False),
                )
            over: dict[int, list[tuple[int, int]]] = {}
            for b, row, fp in getattr(local, "overflow", []):
                over.setdefault(b, []).append((row, fp))
            for b, bm in local.shards.items():
                ov = np.array(over.get(b, []), dtype=np.int64).tobytes()
                yield pa.RecordBatch.from_pydict(
                    {"bucket": [b], "bits": [bm.tobytes()], "overflow": [ov]},
                    schema=out_schema,
                )

        return df.mapInArrow(
            build, schema="bucket int, bits binary, overflow binary"
        ).collect()

    def _new_filter(self):
        if self.backend == "bloom":
            return DenseBloom(self.m, self.k, self.n_buckets)
        return DenseCuckoo(self.cuckoo_rows, self.n_buckets)

    def _fold_into_bloom(self, rows) -> None:
        if self._bloom is None:
            self._bloom = self._new_filter()
        for r in rows:
            if self.backend == "bloom":
                self._bloom.merge_shard(
                    r["bucket"], np.frombuffer(r["bits"], dtype=np.uint64)
                )
            else:
                self._bloom.merge_shard(r["bucket"], r["bits"])
                ov = np.frombuffer(r["overflow"] or b"", dtype=np.int64)
                for row, fp in ov.reshape(-1, 2):
                    self._bloom.reinsert_pair(r["bucket"], int(row), int(fp))
        self._invalidate_filter_broadcasts([r["bucket"] for r in rows])

    def _bloom_current(self, spark: SparkSession) -> DenseBloom:
        """Rebuild from the full table only on a cold start / external
        snapshot change; ``add()`` keeps it incrementally up to date
        (O(batch) per micro-batch, not O(table))."""
        snap = self.table.current_snapshot_id()
        if self._bloom is None or self._bloom_snapshot != snap:
            self._bloom = self._new_filter()
            self._invalidate_filter_broadcasts(None)  # full rebuild
            if snap is not None:
                self._fold_into_bloom(self._shards_of(self.table.read(spark)))
            self._bloom_snapshot = snap
            # deferred batches are NOT folded here: their keys stay
            # prefilter-visible through the sorted-key delta broadcast
            # (_delta_bcs), which filter_unseen ORs into the dense
            # filter's verdict — a miss would route a pending key to
            # "definitely unseen" (a dup crawl), so the delta is exact.
        if not self.n_ranges:
            # keep the exact-array broadcast current alongside the
            # prefilter (same lifecycle: derived filter state, rebuilt per
            # snapshot; cheap no-op when the table is scale-sized)
            self._exact_current(spark)
        return self._bloom

    def _bloom_broadcast(self, spark: SparkSession):
        """One broadcast per bloom version, reused across filter_unseen
        calls (workers deserialize the dense buffer once, not per query)."""
        self._bloom_current(spark)
        if self._bloom_bc is None:
            self._bloom_bc = spark.sparkContext.broadcast(self._bloom)
        return self._bloom_bc

    def _exact_current(self, spark: SparkSession):
        """The broadcast of the (key, key2)-lexsorted exact table, rebuilt
        only when the snapshot changes (a drain's generations share one
        snapshot — deferred adds live in the delta broadcasts). Returns
        None when there is no table yet or it is too big for a driver copy
        (above ``EXACT_DRIVER_MAX_BYTES``: the streamed check's regime)."""
        import os

        snap_id = self.table.current_snapshot_id()
        if snap_id is None:
            return None
        if self._exact_snapshot == snap_id and self._exact_bc is not None:
            return self._exact_bc
        snap = self.table.snapshot()
        try:
            total = sum(os.path.getsize(f) for f in snap.files)
        except OSError:
            return None
        if total > self.EXACT_DRIVER_MAX_BYTES:
            return None
        import pyarrow.parquet as pq

        ks, k2s = [], []
        for f in snap.files:
            t = pq.read_table(f, columns=["key", "key2"])
            ks.append(t.column("key").to_numpy(zero_copy_only=False))
            k2s.append(t.column("key2").to_numpy(zero_copy_only=False))
        k = np.concatenate(ks) if ks else np.empty(0, dtype=np.int64)
        k2 = np.concatenate(k2s) if k2s else np.empty(0, dtype=np.int64)
        self._exact_arrays = _lexsorted(k, k2)
        if self._exact_bc is not None:
            self._exact_bc.unpersist()
        self._exact_bc = spark.sparkContext.broadcast(self._exact_arrays)
        self._exact_snapshot = snap_id
        return self._exact_bc

    def _clear_delta(self) -> None:
        self._pending_arrays = []
        for bc in self._delta_bcs:
            bc.unpersist()
        self._delta_bcs = []

    # -- public API ------------------------------------------------------------

    def keyed(self, urls: DataFrame, url_col: str = "url") -> DataFrame:
        """``urls`` with ``url_col`` canonicalized and the seen-table
        identity columns (key, bucket, key2) added."""
        canon = canonicalize_url(F.col(url_col))
        return (
            urls.withColumn(url_col, canon)
            .withColumn("key", url_key(F.col(url_col)))
            .withColumn("bucket", url_bucket(F.col(url_col), self.n_buckets))
            # independent second hash: xxhash64 over (salt, url) — NOT a
            # function of key alone (tests/test_seen_modes.py pins this)
            .withColumn("key2", F.xxhash64(F.lit(_KEY2_SALT), F.col(url_col)))
        )

    def _rows_of(self, urls: DataFrame, url_col: str, dedup: bool = True) -> DataFrame:
        """The batch in table-row shape (bucket, key, key2), deduped by
        (key, key2) unless the caller defers that to a later global dedup
        (the group-commit path: flush() drops duplicates across ALL
        buffered batches anyway, so a per-batch dropDuplicates was a pure
        extra shuffle per generation — r6)."""
        rows = self.keyed(urls.select(url_col), url_col).select("bucket", "key", "key2")
        return rows.dropDuplicates(["key", "key2"]) if dedup else rows

    def filter_unseen(
        self,
        spark: SparkSession,
        urls: DataFrame,
        url_col: str = "url",
        prune_buckets: bool = True,
    ) -> DataFrame:
        """Rows of ``urls`` whose canonical URL is not in the seen set.

        Deferred (un-flushed) adds count as seen: their per-batch delta
        broadcasts confirm (key, key2) pairs exactly inside the Arrow pass.
        The durable table is checked one of two ways, chosen by its size:

        - up to ``EXACT_DRIVER_MAX_BYTES`` (and not sharded): against the
          driver-held lexsorted array, in the same Arrow pass — one job
          over the batch, no table scan, no join;
        - above it: the prefilter (Arrow batch, broadcast shards) splits
          candidates into definitely-unseen and possibly-seen; only the
          latter touch the table, via a bucket-pruned scan broadcast-joined
          on (key, key2) (the big table is never shuffled).

        ``prune_buckets=False`` skips the suspects' distinct-bucket collect
        (one driver action) and scans every file: right for bootstrap-sized
        batches whose suspects span all buckets anyway — the collect is the
        cost and the pruning buys nothing. Watch-mode micro-batches keep
        the default (a handful of buckets -> a handful of files read).
        """
        cand = self.keyed(urls, url_col)
        if self.table.current_snapshot_id() is None and not self._pending:
            return cand.drop(*_HELPER_COLS)

        deltas = list(self._delta_bcs)
        from pyspark.sql.pandas.functions import pandas_udf

        def pending_hit(k: np.ndarray, k2: np.ndarray) -> np.ndarray:
            hit = np.zeros(len(k), dtype=bool)
            for dbc in deltas:
                hit |= _contains_pairs(*dbc.value, k, k2)
            return hit

        exact_bc = None if self.n_ranges else self._exact_current(spark)
        if exact_bc is not None:

            @pandas_udf("boolean")
            def seen_exact(key, key2):
                import pandas as pd

                k = key.to_numpy()
                k2 = key2.to_numpy()
                hit = pending_hit(k, k2) | _contains_pairs(*exact_bc.value, k, k2)
                return pd.Series(hit)

            kept = (
                cand.withColumn("_seen", seen_exact(F.col("key"), F.col("key2")))
                .filter(~F.col("_seen"))
                .drop("_seen")
                .localCheckpoint(eager=False)
            )
            out = kept.drop(*_HELPER_COLS)
            # r6 keyed-frame reuse: the checkpoint above already holds the
            # (bucket, key, key2) columns for every returned row. When the
            # caller passes this very DataFrame object straight into
            # ``add()`` — the filter-then-mark call chain of a crawl
            # generation — add() can take the keyed rows from the
            # checkpoint instead of re-canonicalizing and re-hashing the
            # urls (pure common-subexpression reuse of the same lazy plan
            # within one call chain; keys are a deterministic function of
            # the url, so results are identical). Weakref-keyed so a
            # recycled object id can never alias a different frame.
            import weakref

            self._keyed_out_ref = weakref.ref(out)
            self._keyed_out_rows = kept
            return out

        if self.n_ranges:
            # sharded mode: align candidates to bucket ranges (ONE small
            # shuffle of the batch via the exact token partitioner), then
            # have each task dereference only the slice broadcasts its
            # partition's buckets fall in — the worker fetches slice bytes,
            # never the whole filter
            toks = _bucket_partition_tokens(self.n_ranges)
            pmap = F.create_map(
                *[F.lit(x) for p in range(self.n_ranges) for x in (p, toks[p])]
            )
            range_id = F.floor(
                F.col("bucket") * self.n_ranges / self.n_buckets
            ).cast("int")
            cand = cand.repartition(self.n_ranges, pmap[range_id])
            bcs = self._range_broadcasts(spark)
            n_ranges, n_buckets = self.n_ranges, self.n_buckets

            def dense_hit(bk: np.ndarray, k: np.ndarray) -> np.ndarray:
                hit = np.zeros(len(k), dtype=bool)
                rids = bk.astype(np.int64) * n_ranges // n_buckets
                for rid in np.unique(rids):
                    m = rids == rid
                    hit[m] = bcs[int(rid)].value.might_contain(bk[m], k[m])
                return hit
        else:
            bc = self._bloom_broadcast(spark)

            def dense_hit(bk: np.ndarray, k: np.ndarray) -> np.ndarray:
                return bc.value.might_contain(bk, k)

        # 0 unseen, 1 seen (a deferred batch's delta holds the pair), 2
        # possibly in the table (prefilter hit; resolved by the exact table
        # check below, which therefore never needs the buffered batches)
        @pandas_udf("byte")
        def verdict_of(bucket, key, key2):
            import pandas as pd

            k = key.to_numpy()
            confirmed = pending_hit(k, key2.to_numpy())
            hit = dense_hit(bucket.to_numpy(), k)
            return pd.Series(
                np.where(confirmed, 1, np.where(hit, 2, 0)).astype(np.int8)
            )

        # materialize once: both branches below consume this plan, and the
        # politeness/bloom upstream must not re-execute per branch
        cand = cand.withColumn(
            "_v", verdict_of(F.col("bucket"), F.col("key"), F.col("key2"))
        ).localCheckpoint(eager=False)
        sure_new = cand.filter(F.col("_v") == 0)
        suspects = cand.filter(F.col("_v") == 2)
        drop_cols = [*_HELPER_COLS, "_v"]

        # exact check: seen ⨝ suspects on (key, key2) (suspects broadcast —
        # the big table is never shuffled; key2 kills 64-bit key
        # collisions), then anti. The scan is pruned twice before it reads
        # anything: manifest stats drop every file whose bucket range
        # misses the suspects' buckets (rows are written range-clustered by
        # (bucket, key)), and the bucket IN (...) predicate is pushed into
        # the parquet scan so row-group stats prune within the surviving
        # files. A small suspect batch (watch mode) therefore reads a
        # handful of files, not the table.
        snap = self.table.snapshot()
        seen = None
        if prune_buckets:
            sus_buckets = sorted(
                {r["bucket"] for r in suspects.select("bucket").distinct().collect()}
            )
            files = self.table.files_matching("bucket", sus_buckets)
            self.last_prune = {
                "files_scanned": len(files),
                "files_total": len(snap.files) if snap else 0,
            }
            if files and sus_buckets:
                seen = spark.read.parquet(*files).where(
                    F.col("bucket").isin([int(b) for b in sus_buckets])
                )
        else:
            files = snap.files if snap else []
            self.last_prune = {
                "files_scanned": len(files),
                "files_total": len(files),
            }
            if files:
                seen = spark.read.parquet(*files)
        if seen is None:
            # no suspect, or zero files (e.g. merge_delete removed
            # everything): every suspect is unseen
            return sure_new.unionByName(suspects).drop(*drop_cols)
        confirmed = (
            seen.select("key", "key2")
            .join(F.broadcast(suspects.select("key", "key2")), ["key", "key2"])
            .distinct()
        )
        false_pos = suspects.join(
            F.broadcast(confirmed), ["key", "key2"], "left_anti"
        )
        return sure_new.unionByName(false_pos).drop(*drop_cols)

    def add(
        self,
        spark: SparkSession,
        urls: DataFrame,
        url_col: str = "url",
        n_partitions: int | None = None,
        defer: bool = False,
    ) -> int:
        """Append canonical URLs to the seen set (dedup within the batch);
        returns the new snapshot id. ``n_partitions`` pins the number of
        range partitions (and hence files) per append; default lets AQE
        size them.

        ``defer=True`` is the group-commit path: the batch is keyed,
        deduped, localCheckpointed and its keys entered into the sorted
        delta broadcast — so every subsequent ``filter_unseen`` treats it
        as seen — but the durable append (shuffle + sort + parquet write +
        snapshot commit) is postponed until ``flush()``. One flush per
        checkpoint interval replaces K per-generation commits: same bytes
        written, one job and one snapshot instead of K, and ONE dense-
        filter fold/re-broadcast instead of K — the drain's per-generation
        serial floor (commit + file fold) AND its per-worker broadcast
        traffic (O(table) bits x workers x generations) both drop to
        O(flushes). Returns the CURRENT snapshot id (unchanged until
        flush)."""
        if defer:
            import time as _time

            _t0 = _time.time()
            ref = getattr(self, "_keyed_out_ref", None)
            if ref is not None and ref() is urls:
                # keyed-frame reuse: `urls` IS the frame filter_unseen just
                # returned — its backing checkpoint already carries the
                # (bucket, key, key2) columns, so skip the re-canonicalize/
                # re-hash and the extra checkpoint entirely.
                batch = self._keyed_out_rows.select("bucket", "key", "key2")
            else:
                batch = self._rows_of(urls, url_col, dedup=False).localCheckpoint(
                    eager=True
                )
            _t1 = _time.time()
            # pending keys go into a SMALL per-batch sorted-key delta
            # broadcast (one Arrow collect), not the dense filter: the big
            # broadcast stays valid AND earlier batches' delta broadcasts
            # stay valid — the next filter_unseen ships each worker only
            # the batches it hasn't cached, O(batch) bytes, never a
            # re-sorted O(total pending) blob. The fold is paid at flush.
            tbl = batch.toArrow()
            arrays = tuple(
                np.ascontiguousarray(tbl.column(c).to_numpy(zero_copy_only=False))
                for c in ("bucket", "key", "key2")
            )
            self._pending_arrays.append(arrays)
            self._delta_bcs.append(
                spark.sparkContext.broadcast(_lexsorted(*arrays[1:]))
            )
            self._pending.append(batch)
            self.last_add = {
                "append_s": round(_t1 - _t0, 3),
                "fold_s": round(_time.time() - _t1, 3),
            }
            return self.table.current_snapshot_id() or 0
        if self._pending:
            # keep append ordering sane: a durable add flushes the buffer first
            self.flush(spark, n_partitions=n_partitions)
        prev_snap = self.table.current_snapshot_id()
        prev_files = (
            set(self.table.snapshot().files) if prev_snap is not None else set()
        )
        spark_ = urls.sparkSession
        # range-cluster by bucket: each data file covers one contiguous
        # bucket range, so the manifest's per-file bucket stats (and parquet
        # row-group stats) actually prune lookups. The partitioner is the
        # deterministic token table (bucket-range id -> murmur token), NOT
        # repartitionByRange: no sampling pass, so the whole append —
        # upstream batch plan, key-dedup, cluster shuffle, sort, write —
        # is ONE job, all JVM-side (no Python stage in the write path).
        n_part = int(n_partitions or spark_.conf.get("spark.sql.shuffle.partitions"))
        n_part = max(1, min(n_part, self.n_buckets))
        toks = _bucket_partition_tokens(n_part)
        pmap = F.create_map(
            *[F.lit(x) for p in range(n_part) for x in (p, toks[p])]
        )
        range_id = F.floor(F.col("bucket") * n_part / self.n_buckets).cast("int")
        rows = (
            self._rows_of(urls, url_col)
            .repartition(n_part, pmap[range_id])
            .sortWithinPartitions("bucket", "key")
        )
        import time as _time

        _t0 = _time.time()
        sid = self.table.append(rows, meta={"op": "seen-add"})
        _t1 = _time.time()
        if self._bloom is not None and self._bloom_snapshot == prev_snap:
            # incremental: fold only the appended batch into the cached
            # filter, read driver-side (pyarrow) from the files the append
            # just wrote. No Spark job: the shard-collect alternative ships
            # the same O(batch) bytes to the driver anyway (the dense filter
            # lives there), and a columnar (bucket, key) read of the new
            # files is strictly cheaper than scheduling a cluster pass.
            new_files = [
                f for f in self.table.snapshot(sid).files if f not in prev_files
            ]
            self._fold_files_into_bloom(new_files)
            self._bloom_snapshot = sid
        # phase timings for the bench's serial-floor decomposition: the
        # append job+commit vs the driver-side bloom fold
        self.last_add = {
            "append_s": round(_t1 - _t0, 3),
            "fold_s": round(_time.time() - _t1, 3),
        }
        return sid

    def flush(self, spark: SparkSession, n_partitions: int | None = None) -> int:
        """Commit all deferred batches as ONE clustered append: union the
        checkpointed batches, drop cross-batch duplicate (key, key2) pairs,
        one token-bucket shuffle, one sort, one parquet write, one
        snapshot commit, then one driver-side fold of the pending keys
        into the cached prefilter."""
        if not self._pending:
            return self.table.current_snapshot_id() or 0
        from functools import reduce

        batch = reduce(lambda a, b: a.unionByName(b), self._pending)
        allb, allk, allk2 = (np.concatenate(a) for a in zip(*self._pending_arrays))
        spark_ = batch.sparkSession
        n_part = int(n_partitions or spark_.conf.get("spark.sql.shuffle.partitions"))
        if n_partitions is None:
            # r6 output-file sizing (guide §6): the driver knows the exact
            # buffered row count (the delta arrays) — target >=128k rows
            # (~2.5 MB) per file instead of always fanning to the shuffle
            # width, which wrote dozens of sub-MB files per flush. Scale-
            # adaptive: row count drives the file count up to the shuffle
            # cap; an explicit n_partitions still wins.
            n_part = min(n_part, max(1, -(-len(allk) // 131_072)))
        n_part = max(1, min(n_part, self.n_buckets))
        toks = _bucket_partition_tokens(n_part)
        pmap = F.create_map(
            *[F.lit(x) for p in range(n_part) for x in (p, toks[p])]
        )
        range_id = F.floor(F.col("bucket") * n_part / self.n_buckets).cast("int")
        # r6: the driver already holds every buffered pair (the delta
        # arrays) — when they are provably unique across batches, the
        # cross-batch dropDuplicates is an identity and its whole exchange
        # is skipped. A crawl drain hits this every time (filter_unseen
        # removed dups before add); duplicate pairs keep the exact dedup.
        # `first` marks each pair's first occurrence (lexsort is stable).
        order = np.lexsort((allk2, allk))
        first = np.ones(len(order), dtype=bool)
        first[1:] = (np.diff(allk[order]) != 0) | (np.diff(allk2[order]) != 0)
        if not first.all():
            batch = batch.dropDuplicates(["key", "key2"])
        rows = (
            batch.repartition(n_part, pmap[range_id])
            .sortWithinPartitions("bucket", "key")
        )
        sid = self.table.append(
            rows, meta={"op": "seen-add", "batched": len(self._pending)}
        )
        self._pending = []
        if self._bloom is not None:
            # ONE driver-side fold of all flushed pairs (deduped, so the
            # cuckoo holds one copy per distinct pair) — the big broadcast
            # is invalidated here, once per flush, instead of once per
            # deferred add
            keep = order[first]
            self._fold_arrays_into_bloom(allb[keep], allk[keep])
            self._bloom_snapshot = sid
        self._clear_delta()
        return sid

    def discard_pending(self) -> None:
        """Drop deferred batches without committing (rollback path). The
        dense filter never saw the pending keys (they live in the delta
        broadcast), so it stays valid for the durable table — only the
        delta is dropped."""
        if not self._pending:
            return
        self._pending = []
        self._clear_delta()

    def rollback(self, snapshot_id: int | None) -> None:
        """Make ``snapshot_id`` (None = empty) the seen set's visible state
        again: un-flushed deferred adds are dropped, the table rolls back,
        and the derived prefilter is dropped so the next check rebuilds it
        against the rolled-back table."""
        self.discard_pending()
        self.table.rollback(snapshot_id)
        self._bloom = None
        self._bloom_snapshot = None

    def _fold_arrays_into_bloom(self, buckets: np.ndarray, keys: np.ndarray) -> None:
        """Driver-local incremental fold of raw (bucket, key) arrays into the
        cached dense filter."""
        if self._bloom is None:
            self._bloom = self._new_filter()
        if self.backend == "bloom" and isinstance(self._bloom, DenseBloom):
            # r6: fold straight into the dense matrix with flat indices —
            # the shard-dict path scanned a boolean mask of the whole batch
            # once per bucket (256 x |batch| work); this is k vectorized
            # scatter-ORs over the batch. Measured 0.68 s -> ~0.05 s per
            # 843k-key flush fold.
            m64 = self._bloom.m // 64
            flat = self._bloom.bits.reshape(-1)
            base = buckets.astype(np.int64) * m64
            for pos in _bloom_positions(keys, self._bloom.m, self._bloom.k):
                np.bitwise_or.at(
                    flat,
                    base + (pos >> 6),
                    np.uint64(1) << (pos & 63).astype(np.uint64),
                )
            self._invalidate_filter_broadcasts(buckets)
            return
        if self.backend == "bloom":
            local = BloomShards(self.m, self.k)
        else:
            local = CuckooShards(self.cuckoo_rows)
        local.add(buckets, keys)
        for b, bm in local.shards.items():
            self._bloom.merge_shard(b, bm)
        for b, row, fp in getattr(local, "overflow", []):
            self._bloom.reinsert_pair(b, int(row), int(fp))
        self._invalidate_filter_broadcasts(buckets)

    def _fold_files_into_bloom(self, files: list[str]) -> None:
        """Driver-local incremental fold: read (bucket, key) of freshly
        written parquet files and add them to the cached dense filter."""
        import pyarrow.parquet as pq

        for f in files:
            tbl = pq.read_table(f, columns=["bucket", "key"])
            self._fold_arrays_into_bloom(
                tbl.column("bucket").to_numpy(zero_copy_only=False),
                tbl.column("key").to_numpy(zero_copy_only=False),
            )

    def compact(self, spark: SparkSession, n_partitions: int | None = None) -> int:
        """Rewrite the seen table into one globally (bucket, key)-clustered
        file set. Incremental adds append one file set per generation, so
        after many generations a lookup touches ~one file per append; a
        periodic compact restores one-file-per-bucket-range locality."""
        if self._pending:
            self.flush(spark)
        sid = self.table.compact(
            spark, cluster_by=["bucket", "key"], n_partitions=n_partitions,
            meta={"op": "seen-compact"},
        )
        # rows unchanged -> the cached bloom is still exact for this snapshot
        if self._bloom is not None:
            self._bloom_snapshot = sid
        return sid

    def remove(
        self, spark: SparkSession, urls: DataFrame, url_col: str = "url"
    ) -> int:
        """Un-see URLs (file-granular merge-delete on the exact table).
        Used by periodic J9 reconciliation: a deleted package's registry
        URL is released so a later re-publish re-crawls it.

        The cached prefilter is updated in place: the cuckoo backend
        deletes exactly; the bloom backend cannot delete, so it is left
        stale-conservative (extra false positives resolved by the exact
        check — never a false negative). Returns the new snapshot id."""
        if self._pending:
            # merge_delete operates on the durable table only
            self.flush(spark)
        keyed = self._rows_of(urls, url_col)
        prev_snap = self.table.current_snapshot_id()
        filter_live = self._bloom is not None and self._bloom_snapshot == prev_snap
        # O(batch) driver collect, cuckoo only (bloom can't delete anyway);
        # remove() batches are reconcile-sized, not crawl-sized. The delete
        # set is semi-joined on (key, key2) against the exact table first:
        # cuckoo delete is only valid for keys actually added (cuckoo.py
        # contract) — deleting a never-added url whose key collides with,
        # or fingerprint-aliases, a present one would strip the present
        # row's copy and create a prefilter false negative.
        rows = []
        if filter_live and self.backend == "cuckoo" and prev_snap is not None:
            batch = keyed.localCheckpoint(eager=True)
            bks = sorted({r["bucket"] for r in batch.select("bucket").distinct().collect()})
            files = self.table.files_matching("bucket", bks)
            if files:
                present = (
                    spark.read.parquet(*files)
                    .where(F.col("bucket").isin([int(b) for b in bks]))
                    .select("key", "key2")
                )
                rows = batch.join(present, ["key", "key2"], "left_semi").collect()
        sid = self.table.merge_delete(
            spark, keyed.select("key", "key2"), key=["key", "key2"],
            meta={"op": "seen-remove"},
        )
        if filter_live:
            if self.backend == "cuckoo" and rows:
                bks = np.array([r["bucket"] for r in rows], dtype=np.int64)
                self._bloom.delete(
                    bks, np.array([r["key"] for r in rows], dtype=np.int64)
                )
                self._invalidate_filter_broadcasts(bks)
            # bloom: superset filter stays valid (conservative)
            self._bloom_snapshot = sid
        return sid

    def count(self, spark: SparkSession) -> int:
        dfs = []
        if self.table.current_snapshot_id() is not None:
            dfs.append(self.table.read(spark).select("key", "key2"))
        dfs.extend(p.select("key", "key2") for p in self._pending)
        if not dfs:
            return 0
        from functools import reduce

        return reduce(lambda a, b: a.unionByName(b), dfs).distinct().count()
