#!/usr/bin/env python
"""spark-submit entrypoint: watch-mode replication (north rule: delivered
as a spark-submit --py-files job).

Runs the full lifecycle after a bootstrap: finalize (promote the bootstrap
output to the prod table, reference src/bootstrap.ts:167-200), then drain
the changes feed through Structured Streaming with availableNow (swap the
trigger for processingTime in a long-running deployment), honoring the
30-day bootstrap-redo window (reference src/config.ts:173).

Usage (cluster):
    zip -r npm_search_spark.zip npm_search_spark/
    spark-submit --py-files npm_search_spark.zip \
        jobs/watch_job.py --root /data/crawl --changes-dir /data/changes

Local smoke:
    python jobs/bootstrap_job.py --root /tmp/crawl --n-docs 300
    python jobs/watch_job.py --root /tmp/crawl --n-docs 300 \
        --changes-dir /tmp/crawl/changes --emit-synthetic-changes 20

Exactly-once: the seq watermark commits only after every table write of a
batch has landed; a replayed batch dedups via the URL-seen set's
once-per-seq fetch identity.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="crawl table root directory")
    ap.add_argument("--changes-dir", required=True, help="append-only changes feed (parquet)")
    ap.add_argument("--n-docs", type=int, default=10_000)
    ap.add_argument("--budget-multiplier", type=int, default=600)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--emit-synthetic-changes", type=int, default=0,
                    help="write N synthetic change events before draining (smoke mode)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from npm_search_spark.frontier import Crawl
    from npm_search_spark.session import get_spark
    from npm_search_spark.sources import synthetic as SYN
    from npm_search_spark.streaming.watch import Watch, registry_info

    spark = get_spark("npm-search-watch", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    uni = {k: v.cache() for k, v in SYN.universe(spark, args.n_docs).items()}
    total = uni["npm_downloads"].agg(F.sum("downloads_last_30d")).first()[0]
    crawl = Crawl(
        spark, args.root, uni,
        total_npm_downloads=int(total),
        budget_multiplier=args.budget_multiplier,
        gc_terminal=True,  # long-running mode: GC processed frontier rows
    )
    st = crawl.state.load()
    if st is None:
        print("no bootstrap state under --root; run jobs/bootstrap_job.py first",
              file=sys.stderr)
        return 2

    now_ms = int(time.time() * 1000)
    if crawl.needs_bootstrap_redo(now_ms):
        crawl.redo_bootstrap(uni["raw_docs"].select("doc_id"))
        crawl.run_bootstrap()
    if st.stage != "watch":
        crawl.finalize_bootstrap(now_ms=now_ms)

    if args.emit_synthetic_changes:
        os.makedirs(args.changes_dir, exist_ok=True)
        base_seq = (crawl.state.load().seq or 0) + 1
        names = [r["doc_id"] for r in uni["raw_docs"].select("doc_id")
                 .orderBy("doc_id").limit(args.emit_synthetic_changes).collect()]
        rows = [(base_seq + i, n, False, f"rev-{base_seq + i}") for i, n in enumerate(names)]
        spark.createDataFrame(rows, "seq long, id string, deleted boolean, rev string") \
            .coalesce(1).write.mode("append").parquet(args.changes_dir)

    watch = Watch(crawl, args.changes_dir, os.path.join(args.root, "_watch_checkpoint"))
    watch.run_available_now()
    final = crawl.state.load()
    print(json.dumps({
        "stage": final.stage,
        "seq": final.seq,
        "registry": registry_info(spark, args.changes_dir),
        "packages": crawl.packages.read(spark).count(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
