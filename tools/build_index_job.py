"""spark-submit entrypoint: build (or resume) the full index for a corpus.

    zip -r lps.zip lucene_plugin_spark/
    spark-submit --py-files lps.zip tools/build_index_job.py \
        --input /path/to/docs_parquet --warehouse /path/to/warehouse \
        [--docs-per-slice 250000] [--fields-map-col fields]

The input parquet must have columns (repo, path, commit, lang, content)
(BASELINE.json input_hint).  Build stages are checkpoint-resumable: rerunning
after a failure skips completed stages (fingerprint match) and finishes the
rest.  Emits one JSON line of build metrics.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--docs-per-slice", type=int, default=250_000)
    ap.add_argument("--fields-map-col", default=None)
    args = ap.parse_args()

    from lucene_plugin_spark.index.builder import IndexBuilder
    from lucene_plugin_spark.session import session_builder
    from lucene_plugin_spark.storage.catalog import Catalog

    spark = session_builder("lps-build-index").getOrCreate()
    src = spark.read.parquet(args.input)
    t0 = time.perf_counter()
    res = IndexBuilder(spark, Catalog(args.warehouse),
                       docs_per_slice=args.docs_per_slice).build(
        src, fields_map_col=args.fields_map_col)
    sec = time.perf_counter() - t0
    print(json.dumps({"n_docs": res.n_docs, "build_sec": round(sec, 2),
                      "docs_per_sec": round(res.n_docs / sec, 1),
                      "docs_snapshot": res.docs_snapshot,
                      "segments_snapshot": res.segments_snapshot}))


if __name__ == "__main__":
    main()
