"""CheckIndex CLI (Lucene's org.apache.lucene.index.CheckIndex analogue).

    spark-submit --py-files lps.zip tools/check_index.py --warehouse /wh

Exits 0 on a healthy index, 1 with the violation list otherwise.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    args = ap.parse_args()

    from lucene_plugin_spark.session import session_builder
    from lucene_plugin_spark.storage.catalog import Catalog
    from lucene_plugin_spark.storage.checker import check_index

    spark = session_builder("lps-check-index").getOrCreate()
    rep = check_index(spark, Catalog(args.warehouse))
    print(json.dumps(rep))
    sys.exit(1 if rep["errors"] else 0)


if __name__ == "__main__":
    main()
