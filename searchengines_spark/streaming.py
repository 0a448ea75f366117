"""Structured-Streaming ingestion: near-real-time incremental indexing.

A file-source stream watches a directory for new page parquet drops (the
continuous-crawl pattern); each micro-batch appends a segment to the index
via incremental.append_pages (foreachBatch — the index append is a batch
job, exactly-once per epoch via the streaming checkpoint). Queries pick up
new segments on the next IndexReader open.

incremental.compact() (periodic, from the forward table) restores
rebalanced stripes and a single file layout, and physically purges
tombstoned deletes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .corpus import PAGES_SCHEMA
from .index.incremental import append_pages, delete_pages


def stream_index(spark: SparkSession, watch_dir: str, index_dir: str,
                 checkpoint_dir: str, available_now: bool = True,
                 processing_interval: str = "30 seconds"):
    """Start the ingestion stream; returns the StreamingQuery.
    available_now=True drains what's there and stops (batch-test mode);
    False runs continuously on a trigger interval."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "16")
        .parquet(watch_dir)
    )

    def sink(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        m = append_pages(spark, index_dir, batch_df)
        print(f"[stream_index] epoch={epoch_id} appended={m.get('appended')}")

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


def stream_deletes(spark: SparkSession, watch_dir: str, index_dir: str,
                   checkpoint_dir: str, available_now: bool = True,
                   processing_interval: str = "30 seconds"):
    """Continuous delete feed (takedowns / robots removals / recrawl
    invalidations): watch a directory for parquet drops of (url) rows and
    tombstone each micro-batch via incremental.delete_pages — exactly-once
    per epoch through the streaming checkpoint, snapshot-committed, purged
    physically at the next compact(). Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", "16")
        .parquet(watch_dir)
    )

    def sink(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        m = delete_pages(spark, index_dir, batch_df)
        print(f"[stream_deletes] epoch={epoch_id} "
              f"tombstones={m.get('n_deleted_total')}")

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


LINKS_DDL = "src string, dst string, anchor string"


def stream_anchor_votes(spark: SparkSession, src_dir: str, out_dir: str,
                        checkpoint_dir: str, state_dir: str,
                        max_anchors: int = 32, per_host_cap: int = 4,
                        available_now: bool = True):
    """Continuous anchor-text maintenance — the streaming twin of
    links.anchor_texts for a crawl that never stops: each micro-batch of
    newly discovered (src, dst, anchor) links updates the aggregated
    inlink text of EXACTLY the affected targets.

    Per micro-batch (foreachBatch — the state is a vote TABLE the next
    epoch anti-joins, not a per-key scalar):

    1. batch links -> distinct (dst, src_host, anchor) votes
       (links.link_votes — identical counting to the batch path);
    2. novel votes = anti-join against the persistent vote store,
       EXCLUDING the current epoch's own partition (so a replayed epoch
       recomputes the same novel set instead of finding itself);
    3. store += novel under an epoch=<id> dynamic-partition overwrite
       (idempotent, exactly-once per the streaming checkpoint);
    4. affected = distinct dst of the novel votes; their aggregates are
       recomputed from the store restricted to affected dsts
       (links.aggregate_votes — byte-identical text to a batch rebuild
       over the same votes, per-epoch cost O(affected), never O(corpus));
    5. the (url, inlink) delta lands in out_dir/epoch=<id>; downstream,
       incremental.refresh_anchors(..., delta=True) applies each cycle's
       deltas to the index (latest epoch per url wins).

    State footprint is O(distinct votes) — dst x host x anchor after the
    per-host dedup, the same table a batch aggregation scans; compact by
    rewriting without the epoch column. Returns the StreamingQuery."""
    import os

    from pyspark.sql import functions as F

    from .links import aggregate_votes, link_votes

    links = spark.readStream.schema(LINKS_DDL).parquet(src_dir)
    votes_dir = os.path.join(state_dir, "votes")

    def sink(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        bs = batch_df.sparkSession
        bv = link_votes(batch_df)
        if os.path.exists(votes_dir):
            store = (bs.read.parquet(votes_dir)
                     .filter(F.col("epoch") != int(epoch_id))
                     .select("dst", "src_host", "anchor"))
            novel = bv.join(store, ["dst", "src_host", "anchor"], "left_anti")
        else:
            novel = bv
        novel = novel.cache()
        affected = novel.select("dst").distinct()

        ep = F.lit(int(epoch_id))
        (novel.withColumn("epoch", ep).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(votes_dir))
        full = bs.read.parquet(votes_dir).select(
            "dst", "src_host", "anchor")
        delta = aggregate_votes(
            full.join(affected, "dst", "left_semi"),
            max_anchors=max_anchors, per_host_cap=per_host_cap)
        (delta.withColumn("epoch", ep).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(out_dir))
        novel.unpersist()

    writer = links.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir)
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
        processingTime="30 seconds")
    return writer.start()
