"""Streaming incremental indexing — the Spark-native analogue of the
reference's NRT soft-commit policy (W6, SURVEY.md §2.3).

The reference makes new docs visible when >=16 updates are pending or 1 s has
elapsed (softCommitMaxDocs/softCommitMaxAge, LuceneIndexBean.java:78-79;
policy at SearcherUpdateServiceImpl.java:101-115).  In Structured Streaming
the same policy is the trigger interval + per-trigger batch bound:

- ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``  ==  softCommitMaxDocs
- each micro-batch commits one index snapshot via ``foreachBatch`` ->
  ``IndexMutator.upsert`` (last-write-wins by (repo, path), so replayed
  batches are idempotent — exactly-once index state from at-least-once
  delivery), and readers see it on their next snapshot acquire (the searcher
  reopen analogue, LuceneIndexBean.java:620-637).
- ``trigger(processingTime='1 second')`` asks for softCommitMaxAge = 1 s
  but cannot deliver it: a micro-batch arrives as a DataFrame, so its
  commit takes the Spark mutation pass, tens of small Spark jobs that took
  3.8-6.0 s for a 16-write / 4-delete batch over a 10k-doc index at
  local[4] on a 4-vCPU host; most of it is the new docs' postings writes.
  The docs table is merge-on-read in both passes (appended rows and key
  deletes, no partition rewrite), but only a local batch (the facade's)
  takes the one-task pass, about 0.4 s for the same batch (see
  ``index/mutations.py``).  A trigger shorter than the commit only makes
  the next batch start as soon as the previous one ends, so new docs become
  visible about one commit after they arrive, not one trigger interval.

No event-time semantics are needed (the reference has none): documents carry
no timestamps and ordering is by arrival, so watermarks/windows don't apply —
late data is just the next upsert winning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.index.mutations import IndexMutator
from lucene_plugin_spark.storage.catalog import Catalog


def start_indexing_stream(spark: SparkSession, catalog: Catalog,
                          source: DataFrame, checkpoint_dir: str,
                          trigger: dict | None = None,
                          docs_per_slice: int = 250_000) -> StreamingQuery:
    """Attach an indexing sink to a streaming DataFrame of docs
    (repo, path, commit, lang, content).

    ``trigger``: e.g. {"processingTime": "1 second"} (the reference's 1 s
    soft-commit age) or {"availableNow": True} for catch-up-and-stop.
    """
    builder = IndexBuilder(spark, catalog, docs_per_slice=docs_per_slice)
    mutator = IndexMutator(spark, catalog, builder)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select("repo", "path", "commit", "lang", "content")
        if rows.isEmpty():
            return
        if not catalog.table("docs_meta").exists():
            builder.build(rows)
        else:
            # upsert is last-write-wins by key -> replaying a failed batch
            # converges to the same state (idempotent sink)
            mutator.upsert(rows)

    writer = source.writeStream.foreachBatch(commit_batch) \
        .option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
