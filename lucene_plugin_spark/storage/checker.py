"""Index integrity checker — the Lucene CheckIndex analogue.

Lucene ships ``org.apache.lucene.index.CheckIndex`` (the 5.2.1 jar the
reference links, LuceneIndexBean.java's Lucene dependency) to validate
posting-file invariants before trusting an index.  At 100 TB a build or a
partition-scoped mutation that silently corrupted one slice is worth one
cheap scan to catch, so this is the same idea as a distributed pass:

**per-slice kernel checks** (mapInPandas over segment blocks, task-aligned
with whole doc-slices exactly like query execution — no shuffle):

- docID streams decode to STRICTLY increasing ids;
- per-block ``first_doc``/``last_doc``/``doc_count`` match the decoded
  stream (these drive WAND block skipping and collection-filter pruning);
- tf streams are positive and one tf per posting;
- ``block_max_tf`` equals the block's true max tf (an understated bound
  would make block-max WAND skip scoring docs it must score);
- position streams, where present, decode to one strictly-increasing run
  per posting with lengths == tf (phrase correctness);
- every posting's doc has a doc-norm row for its field (BM25 needs dl).

**driver-side catalog checks** (Spark aggregations):

- ``term_dict.df``/``cf`` equal the live postings' true per-term counts
  (tombstone-aware — mutations maintain these incrementally, so drift
  here means the delta-aggregate path broke);
- ``stats.n_docs``/``sum_dl`` per field equal the live ``field_lens``;
- every tombstone sits in its doc's slice, ``doc_id // docs_per_slice``
  (the width persisted on the segments snapshot) — the query kernels read
  a slice's tombstones by that partition, so a misfiled one never masks;
- the merge-on-read docs table (``storage/catalog.py``) reads as exactly
  the live set: every live docs key appears once and matches exactly one
  live docs_meta row (docs_meta minus tombstones), every docs row's ``kb``
  is its key bucket, and no delete entry sits in a partition without a
  data dir.

Returns a summary dict; a healthy index reports ``errors == []``.  Only
violations are collected to the driver (bounded), never corpus-sized data.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

CHECK_SCHEMA = ("dslice long, terms_checked long, postings_checked long, "
                "errors array<string>")


def _check_slice_kernel(norms_dirs: list, fields: list[str]):
    """Per-task validator over one-or-more whole doc-slices."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lucene_plugin_spark.query.executor import (_SliceIndex,
                                                        _read_norms)
        frames = [b for b in batches if len(b)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        for dslice, sl in pdf.groupby("dslice", sort=False):
            errors: list[str] = []
            idx = _SliceIndex(sl)
            # one groupby over the slice frame instead of an O(rows)
            # boolean mask per (field, term) — keeps the scan O(rows)
            # total on term-heavy slices
            sl_groups = {k: g for k, g in
                         sl.groupby(["field", "term"], sort=False)}
            norms = _read_norms(norms_dirs, int(dslice), fields)
            norm_ids = {f: np.sort(g["doc_id"].to_numpy())
                        for f, g in norms.groupby("field")}
            n_terms = 0
            n_postings = 0

            def err(msg: str) -> None:
                if len(errors) < 20:  # bound driver payload per slice
                    errors.append(msg)

            for (field, term), ent in idx.entries.items():
                if term == "":  # norms sentinel rows (fused.NORMS_TERM):
                    continue    # validated via the doc_norms coverage check
                n_terms += 1
                tag = f"dslice={dslice} {field}:{term}"
                ids, tfs, pos = idx.decoded(field, term, True)
                n_postings += ids.size
                counts = ent["doc_count"]
                if ids.size != int(counts.sum()):
                    err(f"{tag}: decoded ids {ids.size} != doc_count sum "
                        f"{int(counts.sum())}")
                    continue
                if ids.size == 0:
                    err(f"{tag}: empty posting list stored")
                    continue
                if not np.all(np.diff(ids) > 0):
                    err(f"{tag}: docID stream not strictly increasing")
                bounds = np.concatenate(([0], np.cumsum(counts)))
                firsts = ids[bounds[:-1]]
                lasts = ids[bounds[1:] - 1]
                # _SliceIndex doesn't retain first/last columns; re-derive
                # from the slice frame for this (field, term)
                rows = sl_groups[(field, term)]
                rf = rows["first_doc"].to_numpy()
                rl = rows["last_doc"].to_numpy()
                order = np.argsort(rf, kind="stable")
                if not (np.array_equal(np.sort(rf), firsts)
                        and np.array_equal(rl[order], lasts)):
                    err(f"{tag}: block first/last_doc disagree with stream")
                if tfs.size != ids.size or (tfs <= 0).any():
                    err(f"{tag}: tf stream invalid (len {tfs.size}, "
                        f"min {int(tfs.min()) if tfs.size else -1})")
                    continue
                bmt = rows["block_max_tf"].to_numpy()[order]
                true_bmt = np.maximum.reduceat(tfs, bounds[:-1])
                if not np.array_equal(bmt.astype(np.int64), true_bmt):
                    err(f"{tag}: block_max_tf != true per-block max tf")
                if pos is not None and rows["pos_lens_ok"].to_numpy().any():
                    if pos.size != int(tfs.sum()):
                        err(f"{tag}: positions len {pos.size} != tf sum "
                            f"{int(tfs.sum())}")
                    else:
                        # strictly increasing within each posting's span
                        pb = np.concatenate(([0], np.cumsum(tfs)))
                        d = np.diff(pos)
                        span_start = np.zeros(pos.size, dtype=bool)
                        span_start[pb[:-1]] = True
                        bad = (d <= 0) & ~span_start[1:]
                        if bad.any():
                            err(f"{tag}: positions not increasing within "
                                f"a posting")
                nid = norm_ids.get(field)
                if nid is None:
                    err(f"{tag}: no doc_norms for field")
                else:
                    j = np.searchsorted(nid, ids)
                    missing = (j >= nid.size) | (nid[np.minimum(j, nid.size - 1)] != ids)
                    if missing.any():
                        err(f"{tag}: {int(missing.sum())} postings lack a "
                            f"doc_norms row")
            yield pd.DataFrame({"dslice": [int(dslice)],
                                "terms_checked": [n_terms],
                                "postings_checked": [n_postings],
                                "errors": [errors]})

    return kernel


def check_index(spark: SparkSession, catalog) -> dict:
    """Run every check; returns {"slices", "terms", "postings", "errors"}."""
    from lucene_plugin_spark.index.builder import flat_postings_view

    seg_t = catalog.table("segments")
    if not seg_t.exists():
        return {"slices": 0, "terms": 0, "postings": 0,
                "errors": ["no segments table"]}
    seg = seg_t.read(spark)
    fields = [r["field"] for r in seg.select("field").distinct().collect()]
    norms_dirs = catalog.table("doc_norms").snapshot().data_dirs
    rep = seg.mapInPandas(_check_slice_kernel(norms_dirs, fields),
                          schema=CHECK_SCHEMA)
    agg = rep.agg(F.count(F.lit(1)).alias("slices"),
                  F.sum("terms_checked").alias("terms"),
                  F.sum("postings_checked").alias("postings"),
                  F.flatten(F.collect_list("errors")).alias("errors")
                  ).collect()[0]
    errors = list(agg["errors"] or [])

    # ---- catalog-level aggregates (tombstone-aware live counts)
    flat = flat_postings_view(spark, catalog).where(F.col("term") != "")
    tt = catalog.table("tombstones")
    if tt.exists():
        tomb = tt.read(spark).select("doc_id")
        flat = flat.join(tomb, "doc_id", "left_anti")
    true_td = flat.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df2"), F.sum("tf").alias("cf2"))
    td = catalog.table("term_dict").read(spark)
    bad_td = (td.join(true_td, ["field", "term"], "full")
              .where((F.coalesce("df", F.lit(-1)) != F.coalesce("df2", F.lit(-1)))
                     | (F.coalesce("cf", F.lit(-1)) != F.coalesce("cf2", F.lit(-1))))
              .limit(20).collect())
    for r in bad_td:
        errors.append(f"term_dict {r['field']}:{r['term']}: df {r['df']} "
                      f"vs live {r['df2']}, cf {r['cf']} vs {r['cf2']}")

    lens = catalog.table("field_lens").read(spark)
    if tt.exists():
        lens = lens.join(tt.read(spark).select("doc_id"), "doc_id", "left_anti")
    true_stats = lens.groupBy("field").agg(
        F.count(F.lit(1)).alias("n2"), F.sum("dl").alias("sum2"))
    st = catalog.table("stats").read(spark)
    bad_st = (st.join(true_stats, "field", "full")
              .where((F.col("n_docs") != F.col("n2"))
                     | (F.col("sum_dl") != F.col("sum2")))
              .limit(20).collect())
    for r in bad_st:
        errors.append(f"stats[{r['field']}]: n_docs {r['n_docs']} vs live "
                      f"{r['n2']}, sum_dl {r['sum_dl']} vs {r['sum2']}")

    dps = seg_t.snapshot().properties.get("docs_per_slice")
    if tt.exists() and dps:
        bad_tomb = (tt.read(spark)
                    .where(F.col("dslice") != F.floor(F.col("doc_id") / int(dps)))
                    .limit(20).collect())
        for r in bad_tomb:
            errors.append(f"tombstone doc_id {r['doc_id']} in dslice "
                          f"{r['dslice']}, not {r['doc_id'] // int(dps)}")

    errors += _docs_errors(spark, catalog)
    return {"slices": int(agg["slices"]), "terms": int(agg["terms"] or 0),
            "postings": int(agg["postings"] or 0), "errors": errors}


def _docs_errors(spark: SparkSession, catalog) -> list[str]:
    """The merge-on-read docs checks (module docstring)."""
    docs_t = catalog.table("docs")
    if not docs_t.exists():
        return []
    errors = [f"docs delete entry for partition {v} has no data dir"
              for v in sorted(docs_t.partition_values(["repo", "kb"], deletes=True)
                              - docs_t.partition_values(["repo", "kb"]))]
    docs = docs_t.read(spark)
    buckets = docs_t.snapshot().properties.get("doc_buckets")
    if buckets:
        for r in (docs.where(F.col("kb") != F.pmod(F.hash("repo", "path"),
                                                   F.lit(int(buckets))))
                  .select("repo", "path", "kb").limit(20).collect()):
            errors.append(f"docs ({r['repo']}, {r['path']}) in kb {r['kb']}, "
                          f"not its key bucket")
    meta = catalog.table("docs_meta").read(spark)
    tt = catalog.table("tombstones")
    if tt.exists():
        meta = meta.join(tt.read(spark).select("doc_id"), "doc_id", "left_anti")
    bad = (docs.groupBy("repo", "path").agg(F.count(F.lit(1)).alias("n_docs"))
           .join(meta.groupBy("repo", "path")
                 .agg(F.count(F.lit(1)).alias("n_meta")), ["repo", "path"], "full")
           .where((F.coalesce("n_docs", F.lit(0)) != 1)
                  | (F.coalesce("n_meta", F.lit(0)) != 1))
           .limit(20).collect())
    for r in bad:
        errors.append(f"docs key ({r['repo']}, {r['path']}): {r['n_docs'] or 0} "
                      f"live docs rows, {r['n_meta'] or 0} live docs_meta rows")
    return errors
