#!/usr/bin/env python
"""spark-submit entrypoint: bootstrap crawl (north rule: delivered as a
spark-submit --py-files job).

Usage (cluster):
    zip -r npm_search_spark.zip npm_search_spark/
    spark-submit --py-files npm_search_spark.zip \
        jobs/bootstrap_job.py --root /data/crawl --n-docs 1000000

Local smoke:
    python jobs/bootstrap_job.py --root /tmp/crawl --n-docs 500

Resumable: re-running with the same --root continues from the last
committed generation (half-applied generations are rolled back).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="crawl table root directory")
    ap.add_argument("--n-docs", type=int, default=10_000)
    ap.add_argument("--budget-multiplier", type=int, default=600,
                    help="politeness budget = rate x this (seconds per generation)")
    ap.add_argument("--max-generations", type=int, default=200)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from npm_search_spark.frontier import Crawl
    from npm_search_spark.session import get_spark
    from npm_search_spark.sources import synthetic as SYN

    spark = get_spark("npm-search-bootstrap", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    uni = {k: v.cache() for k, v in SYN.universe(spark, args.n_docs).items()}
    total = uni["npm_downloads"].agg(F.sum("downloads_last_30d")).first()[0]
    crawl = Crawl(
        spark, args.root, uni,
        total_npm_downloads=int(total),
        budget_multiplier=args.budget_multiplier,
    )
    if not crawl.frontier.exists():
        crawl.seed(uni["raw_docs"].select("doc_id"))
    metrics = crawl.run_bootstrap(max_generations=args.max_generations)
    n_pkgs = crawl.packages.read(spark).count()
    print(json.dumps({"packages": n_pkgs, "generations": len(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
