"""spark-submit entrypoint: run queries against a built index.

    spark-submit --py-files lps.zip tools/query_job.py \
        --warehouse /path/to/warehouse --query '"user name" AND cache' \
        [--repo repo-00] [--k 255]

Prints one JSON line per query with its latency, the number of Spark jobs
it launched (counted in a job group of its own) and the top hits.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--repo", default=None)
    ap.add_argument("--k", type=int, default=255)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from lucene_plugin_spark.query.executor import SearchEngine
    from lucene_plugin_spark.storage.catalog import Catalog

    spark = SparkSession.builder.appName("lps-query").getOrCreate()
    engine = SearchEngine(spark, Catalog(args.warehouse))
    sc = spark.sparkContext
    for i, q in enumerate(args.query):
        group = f"lps-query-{i}"
        sc.setJobGroup(group, q)
        t0 = time.perf_counter()
        rows = engine.search(args.repo, q, limit=args.k).collect()
        ms = 1000 * (time.perf_counter() - t0)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(json.dumps({
            "query": q, "repo": args.repo, "k": args.k, "ms": round(ms, 1),
            "spark_jobs": jobs,
            "hits": [{"doc_id": r["doc_id"], "path": r["path"],
                      "score": round(r["score"], 6)} for r in rows[:20]],
            "n_hits": len(rows)}))


if __name__ == "__main__":
    main()
