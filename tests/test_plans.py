"""Physical-plan assertions: the shapes that matter at 100 TB must be in
the plan, not just in docstrings — broadcast joins on dims, no shuffle in
narrow transform stages, filter/column pushdown into parquet scans."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_joins_are_broadcast(spark):
    from npm_search_spark.enrich import enrich_packages, rank_jsdelivr_hits
    from npm_search_spark.format_pkg import format_package
    from npm_search_spark.schema import PACKAGE

    with open(os.path.join(os.path.dirname(__file__), "fixtures", "preact.json")) as f:
        doc = json.load(f)
    rec = format_package(doc, 1, "2026-01-01T00:00:00.000Z")
    rec["doc_id"] = rec["objectID"]
    pkg_schema = "doc_id string, " + ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in PACKAGE.fields
    )
    pkgs = spark.createDataFrame([rec], pkg_schema).withColumn(
        "spans",
        F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"),
    )
    hits = spark.createDataFrame([("preact", 5)], "name string, hits long")
    dt = spark.createDataFrame([], "name string, types_name string")
    dl = spark.createDataFrame([], "name string, downloads_last_30d long")
    out = enrich_packages(pkgs, rank_jsdelivr_hits(hits), dt, dl, 100, 1)
    plan = plan_of(out)
    assert plan.count("BroadcastHashJoin") >= 3  # hits, dt, downloads
    assert "SortMergeJoin" not in plan


def test_parquet_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderkey") > 100)
        .select("o_orderkey", "o_custkey")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,100)]" in plan
    # column pruning: scan schema carries only the projected columns
    assert "o_totalprice" not in plan.split("ReadSchema")[1][:200]


def test_seen_exact_check_never_shuffles_big_side(spark, tmp_path, monkeypatch):
    from npm_search_spark.seen import SeenSet

    # the streamed check (the one that scans the table): forced by
    # putting the driver-held array's bound at 0
    monkeypatch.setattr(SeenSet, "EXACT_DRIVER_MAX_BYTES", 0)
    s = SeenSet(str(tmp_path / "seen"))
    urls = spark.createDataFrame(
        [(f"https://registry.npmjs.org/p{i}",) for i in range(50)], "url string"
    )
    s.add(spark, urls)
    out = s.filter_unseen(spark, urls)
    plan = plan_of(out)
    # the seen-table side joins via broadcast of the candidates; no
    # Exchange feeding the parquet scan of the seen table
    seg = plan.split("Scan parquet")
    assert len(seg) >= 2
    assert "BroadcastHashJoin" in plan


def test_ivf_centroid_seed_is_bounded_topk(spark, sf_dir):
    """Centroid seeding must compile to TakeOrderedAndProject (per-partition
    bounded heap, O(n) scan), never a global Sort."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(
        e.select("vec_id", "embedding").orderBy(F.xxhash64("vec_id")).limit(16)
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan and "Exchange rangepartitioning" not in plan


def _schedule_checkpoint_plans(monkeypatch, pending, **kw):
    """Run the politeness scheduler with ``DataFrame.localCheckpoint``
    spied; return the result and the executed plan of every frame it
    checkpointed, in order: the candidate materialization (the one pending
    scan) first, the winner set last."""
    from npm_search_spark.frontier import politeness_schedule

    # the concrete DataFrame class (Spark 4's classic DataFrame overrides
    # the abstract pyspark.sql.DataFrame's methods)
    cls = type(pending)
    plans = []
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(plan_of(self))
        return real(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(cls, "localCheckpoint", spy)
        out = politeness_schedule(pending, **kw)
    return out, plans


def _assert_pending_never_shuffled(plans):
    cand_plan, winners_plan = plans
    # the candidate materialization is the pending scan plus a narrow
    # bin-threshold filter: no hash/range Exchange consumes pending (the
    # input's own round-robin repartition is its plan, not the scheduler's)
    assert "Range (" in cand_plan
    assert "Exchange hashpartitioning" not in cand_plan
    assert "Exchange rangepartitioning" not in cand_plan
    # the winner set (definite rows + boundary window) is carved from the
    # checkpointed candidates and never re-scans pending
    assert "Scan ExistingRDD" in winners_plan
    assert "Range (" not in winners_plan


def _pending(spark, n, n_hosts, n_priorities):
    host = F.concat(F.lit("h"), F.col("id") % n_hosts, F.lit(".org"))
    return spark.range(n).select(
        F.concat(F.lit("https://"), host, F.lit("/"), F.col("id")).alias("url"),
        host.alias("host"),
        (F.col("id") % n_priorities).cast("double").alias("priority"),
    ).repartition(8)


def test_politeness_partial_path_no_shuffle_of_pending(spark, monkeypatch):
    """The production-budget politeness path must scan pending narrowly:
    its one pending scan (the candidate materialization) feeds no shuffle
    Exchange, and the winner carve reads the checkpointed candidates."""
    pending = _pending(spark, 1000, 3, 1000)
    out, plans = _schedule_checkpoint_plans(
        monkeypatch, pending, budgets={"h0.org": 5}, default_budget=5
    )
    assert out.count() == 15
    _assert_pending_never_shuffled(plans)


def test_enqueue_check_never_shuffles_frontier(spark, tmp_path):
    """The enqueue-dedup (new hop URLs vs existing frontier) must stream
    the frontier against broadcast additions — no Exchange may consume the
    frontier scan (mirror of test_seen_exact_check_never_shuffles_big_side
    for the enqueue path)."""
    from npm_search_spark.frontier import filter_new_urls
    from npm_search_spark.schema import FRONTIER
    from npm_search_spark.tables import SnapTable

    t = SnapTable(str(tmp_path / "fr"), FRONTIER, stats_cols=["url", "host", "priority"])
    rows = spark.createDataFrame(
        [
            (f"https://cdn.jsdelivr.net/npm/p{i}@1.0.0/flat", "cdn.jsdelivr.net",
             "file_list", f"p{i}", float(i), 0, "pending", None, 0,
             {"partition_id": 0, "snapshot_id": 0, "generation": 0})
            for i in range(50)
        ],
        FRONTIER,
    )
    t.append(rows)
    additions = rows.limit(10).unionByName(
        spark.createDataFrame(
            [("https://cdn.jsdelivr.net/npm/new@1.0.0/flat", "cdn.jsdelivr.net",
              "file_list", "new", 1.0, 0, "pending", None, 0,
              {"partition_id": 0, "snapshot_id": 0, "generation": 0})],
            FRONTIER,
        )
    )
    out = filter_new_urls(t, spark, additions, ["cdn.jsdelivr.net"])
    assert [r["doc_id"] for r in out.collect()] == ["new"]
    plan = plan_of(out)
    # both probes broadcast the additions side; the frontier parquet scan
    # feeds no hash-partitioning Exchange
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Exchange hashpartitioning(url" not in plan

    # contract enforcement: an addition whose host is outside the pruning
    # list would silently escape the dedup — it must fail loudly instead
    stray = additions.unionByName(
        spark.createDataFrame(
            [("https://evil.example/x", "evil.example",
              "file_list", "stray", 1.0, 0, "pending", None, 0,
              {"partition_id": 0, "snapshot_id": 0, "generation": 0})],
            FRONTIER,
        )
    )
    with pytest.raises(Exception, match="outside pruning list"):
        filter_new_urls(t, spark, stray, ["cdn.jsdelivr.net"]).collect()


def test_histogram_schedule_never_shuffles_pending(spark, monkeypatch):
    """The huge-budget politeness path (heavy priority ties) must scan
    pending and filter — the only shuffle allowed is the window over the
    tiny boundary bin of the checkpointed candidates, never an Exchange of
    the full pending relation."""
    pending = _pending(spark, 4000, 2, 997)
    out, plans = _schedule_checkpoint_plans(
        monkeypatch, pending, budgets={}, default_budget=1200
    )
    assert out.count() == 2400  # exact: 1200 per host
    _assert_pending_never_shuffled(plans)


def test_boundary_carve_filters_on_the_class_column(spark, monkeypatch):
    """The definite/boundary carve over the candidate checkpoint filters
    on the checkpointed class column only. A `_bin = _thr` carve let the
    optimizer infer, from the checkpoint's recorded constraints, a Filter
    that re-evaluated the bin formula (literal-map lookups, FLOOR) and the
    threshold lookup on every candidate row of the boundary branch."""
    pending = _pending(spark, 5000, 2, 997)
    out, plans = _schedule_checkpoint_plans(
        monkeypatch, pending, budgets={"h0.org": 50, "h1.org": 70}, default_budget=6
    )
    assert out.count() == 120
    winners_plan = plans[-1]
    assert winners_plan.count("Scan ExistingRDD") == 2  # definite + boundary
    filters = [ln for ln in winners_plan.splitlines() if "Filter (" in ln]
    assert filters
    for ln in filters:
        assert "map(keys" not in ln and "FLOOR" not in ln, ln


def test_enqueue_check_output_joins_on_host(spark, tmp_path):
    """filter_new_urls' host-contract check must not be copied onto a
    relation joined to its output on host: the robots rules list other
    hosts, and an inferred copy of the check over them raised."""
    from npm_search_spark.frontier import filter_new_urls, flag_robots
    from npm_search_spark.schema import FRONTIER
    from npm_search_spark.sources.synthetic import robots
    from npm_search_spark.tables import SnapTable

    t = SnapTable(str(tmp_path / "fr"), FRONTIER, stats_cols=["url", "host", "priority"])

    def row(url, doc):
        return (url, "cdn.jsdelivr.net", "file_list", doc, 1.0, 0, "pending", None, 0,
                {"partition_id": 0, "snapshot_id": 0, "generation": 0})

    t.append(spark.createDataFrame([row("https://cdn.jsdelivr.net/npm/a@1/flat", "a")], FRONTIER))
    additions = spark.createDataFrame(
        [row("https://cdn.jsdelivr.net/npm/b@1/flat", "b"),
         row("https://cdn.jsdelivr.net/npm/@angular/c@1/flat", "c")],
        FRONTIER,
    )
    flagged = flag_robots(
        filter_new_urls(t, spark, additions, ["cdn.jsdelivr.net"]), robots(spark)
    )
    assert {(r["doc_id"], r["_blocked"]) for r in flagged.collect()} == {
        ("b", False), ("c", True)
    }


def test_whole_stage_codegen_on_span_functions(spark):
    from npm_search_spark.functions import spans as SP
    from npm_search_spark.schema import DOCUMENTS

    df = spark.createDataFrame(
        [{"doc_id": "x", "spans": [{"kind": "media", "text": "/CHANGELOG.md", "media_ref": "u", "offset": 0}]}],
        DOCUMENTS,
    ).select(SP.changelog_filename(F.col("spans")))
    plan = plan_of(df)
    assert "Exchange" not in plan  # narrow map, no shuffle
    assert "Python" not in plan  # JVM-side expressions, no row-wise Python
