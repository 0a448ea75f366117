"""Structured-Streaming ingestion: near-real-time incremental indexing.

A file-source stream watches a directory for new page parquet drops (the
continuous-crawl pattern); each micro-batch appends a segment to the index
via incremental.append_pages (foreachBatch — the index append is a batch
job, exactly-once per epoch via the streaming checkpoint). Queries pick up
new segments on the next IndexReader open; WAND should use
recompute_bounds=True until the next compaction (see incremental.py).

incremental.compact() (periodic, from the forward table) restores tight
block bounds, rebalanced stripes and a single file layout, and physically
purges tombstoned deletes.
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


# --------------------------------------------------------------------------
# Event-stream operators: watermarked windowed aggregation + a custom
# stateful operator (gap sessionization) via applyInPandasWithState.
# --------------------------------------------------------------------------

EVENTS_DDL = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")


def stream_event_window_stats(spark: SparkSession, src_dir: str, out_dir: str,
                              checkpoint_dir: str, available_now: bool = True,
                              window: str = "1 hour", lateness: str = "1 hour"):
    """Watermarked tumbling-window aggregation over an event stream:
    counts + value sums per (event-time window, event_type), append mode —
    a window is emitted exactly once, after the watermark passes its end,
    with late events inside the lateness bound folded in. The streaming
    state store holds only open windows (bounded by lateness), which is
    what survives at firehose scale. Returns the StreamingQuery."""
    from pyspark.sql import functions as F

    ev = spark.readStream.schema(EVENTS_DDL).parquet(src_dir)
    # watermarks require TimestampType; session tz is UTC so the NTZ cast is
    # wall-clock-identical
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", lateness)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    writer = (
        agg.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", checkpoint_dir)
    )
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
        processingTime="30 seconds")
    return writer.start()


DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
DEDUP_OUT_DDL = "doc_id long, h string"
DEDUP_STATE_DDL = "seen int"


def stream_dedup_exact(spark: SparkSession, src_dir: str, out_dir: str,
                       checkpoint_dir: str, available_now: bool = True):
    """Stateful streaming exact dedup: emit each document the FIRST time its
    content hash is seen, drop every later arrival. Per-hash state is one
    bit in the state store (keyed groupBy md5(text)); within a micro-batch
    the smallest doc_id wins deterministically, across batches/restarts the state store
    (checkpointed per epoch) suppresses re-emits. At firehose scale state is
    O(distinct hashes) — the same footprint a Bloom-gated batch dedup pays,
    but incremental. Returns the StreamingQuery."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = spark.readStream.schema(DOCS_DDL).parquet(src_dir)
    hashed = docs.select("doc_id", F.md5("text").alias("h"))

    def first_seen(key, pdf_iter, state):
        (h,) = key
        if state.exists:
            for _ in pdf_iter:
                pass
            yield pd.DataFrame(columns=["doc_id", "h"])
            return
        best = None
        for pdf in pdf_iter:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                best = m if best is None else min(best, m)
        state.update((1,))
        yield pd.DataFrame([(best, h)], columns=["doc_id", "h"])

    kept = hashed.groupBy("h").applyInPandasWithState(
        first_seen, DEDUP_OUT_DDL, DEDUP_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)
    writer = (
        kept.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", checkpoint_dir)
    )
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
        processingTime="30 seconds")
    return writer.start()


SESSION_OUT_DDL = ("user_id long, start_sec double, end_sec double, "
                   "n_events long")
SESSION_STATE_DDL = "start_sec double, last_sec double, n_events long"


def stream_sessionize(spark: SparkSession, src_dir: str, out_dir: str,
                      checkpoint_dir: str, gap_sec: float = 1800.0,
                      available_now: bool = True):
    """Custom stateful streaming operator (applyInPandasWithState): gap-based
    sessionization per user. Per-key state = the OPEN session (start, last
    event, count); an event later than ``gap_sec`` after the last closes the
    session and emits it. Open sessions stay in the state store across
    micro-batches (closed sessions match a batch gap sessionization
    exactly; each user's final open session emits only when a later batch
    closes it). Events are sorted WITHIN a micro-batch; cross-batch order
    relies on the source delivering files in event-time order (true for
    crawl-style drops). Returns the StreamingQuery."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = spark.readStream.schema(EVENTS_DDL).parquet(src_dir)

    def sessionize(key, pdf_iter, state):
        (user_id,) = key
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            yield pd.DataFrame(columns=["user_id", "start_sec", "end_sec", "n_events"])
            return
        ts = pd.concat(chunks)["ts"].sort_values()
        # normalize to ns regardless of the arriving datetime64 unit
        ev_sec = ts.astype("datetime64[ns]").astype("int64") / 1e9
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = []
        for s in ev_sec:
            s = float(s)
            if start is None:
                start, last, n = s, s, 1
            elif s - last > gap_sec:
                out.append((user_id, start, last, n))
                start, last, n = s, s, 1
            else:
                last, n = s, n + 1
        state.update((start, last, n))
        yield pd.DataFrame(out, columns=["user_id", "start_sec", "end_sec", "n_events"])

    sess = ev.groupBy("user_id").applyInPandasWithState(
        sessionize, SESSION_OUT_DDL, SESSION_STATE_DDL, "append",
        GroupStateTimeout.NoTimeout)
    writer = (
        sess.writeStream.outputMode("append").format("parquet")
        .option("path", out_dir).option("checkpointLocation", checkpoint_dir)
    )
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
        processingTime="30 seconds")
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

        prev = bs.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        bs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            ep = F.lit(int(epoch_id))
            (novel.withColumn("epoch", ep).write.mode("overwrite")
             .partitionBy("epoch").parquet(votes_dir))
            full = bs.read.parquet(votes_dir).select(
                "dst", "src_host", "anchor")
            delta = aggregate_votes(
                full.join(affected, "dst", "left_semi"),
                max_anchors=max_anchors, per_host_cap=per_host_cap)
            (delta.withColumn("epoch", ep).write.mode("overwrite")
             .partitionBy("epoch").parquet(out_dir))
        finally:
            bs.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        novel.unpersist()

    writer = links.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir)
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(
        processingTime="30 seconds")
    return writer.start()
