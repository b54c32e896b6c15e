"""spark-submit entry point for the crawl engine (north_rule shipping
mode: `spark-submit --py-files dist/python_crawler_spark.zip
scripts/submit_crawl.py --out <dir>`).

Runs the full frontier round loop with snapshot-per-round checkpoints
and writes the fetch order, seen set, extracted tables, and per-round
metrics under --out. Resumes automatically from the latest committed
snapshot if --out already holds one (O10-O11 semantics; verified in
tests/test_resume.py).

On a cluster, pass --master spark://... (or YARN/K8s) to spark-submit;
the job itself is master-agnostic — it only uses the session it is
handed. Locally it runs the same way:

    bash scripts/package.sh
    spark-submit --master 'local[8]' \
        --py-files dist/python_crawler_spark.zip \
        scripts/submit_crawl.py --out /tmp/crawl_out
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="output/checkpoint directory")
    ap.add_argument("--tianyan-seeds", type=int, default=8)
    ap.add_argument(
        "--buckets", type=int, default=16,
        help="seen-set hash buckets; resuming an --out written with other buckets raises",
    )
    ap.add_argument("--salts", type=int, default=4)
    ap.add_argument("--max-rounds", type=int, default=8)
    args = ap.parse_args()

    # import after spark-submit has set up the py-files path
    from pyspark.sql import SparkSession

    from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun
    from python_crawler_spark.sources.tables import SnapshotStore
    from python_crawler_spark.sources.worldgen import WorldSpec

    spark = SparkSession.builder.appName("pcs-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = CrawlConfig(
        spec=WorldSpec(n_tianyan_seeds=args.tianyan_seeds),
        n_buckets=args.buckets,
        n_salts=args.salts,
        max_rounds=args.max_rounds,
    )
    run = CrawlRun.resume(spark, SnapshotStore(args.out), cfg)
    results = run.run()

    order = results["fetch_order"]
    order.write.mode("overwrite").parquet(f"{args.out}/fetch_order.parquet")
    for name in ("articles", "articles_text", "companies", "images"):
        df = results[name]
        if df is not None:
            df.write.mode("overwrite").parquet(f"{args.out}/{name}.parquet")
    summary = {
        "rounds": run.round,
        "fetches": order.count(),
        "seen": results["seen"].count(),
        "metrics": run.metrics,
    }
    print("CRAWL_SUMMARY " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
