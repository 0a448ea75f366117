"""Incremental index append — continuous-crawl ingestion without a full
rebuild.

New pages get docids continuing after the existing max (rank of the NEW
sorted urls, offset by old max+1), which lands them in NEW salt stripes:
block files stay disjoint by docid range, so appended segments concatenate
with the existing index — no re-sort, no rewrite of old blocks. Stats tables
(term_stats, field_stats) are re-merged (old + delta groupBy sum).

One consistency caveat, by design: docid order == url order no longer
holds globally after an append (new urls may sort before old ones) — it
holds WITHIN each url-rank segment (base build, each append delta). Serving
stays exact by cutting top-k per segment inside each stripe before resolving
urls (manifest appends record each segment's docid extent;
IndexReader.segment_cuts / query/wand.py _segment_cut).
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import FIELDS, assign_docids, pages_to_tokenized
from .build import (SEGMENTS_SCHEMA, IndexReader, doc_terms_dir, encode_blocks,
                    term_bucket_col)



def _invalidate_path_caches(spark: SparkSession, index_dir: str) -> None:
    """Drop/refresh any cached plan fragment that scans this index's files.
    Serving layers cache decoded-postings and stats frames, and Spark's
    CacheManager keys them by the scan's root PATH — every mutator here
    rewrites files under the SAME paths (_swap, dynamic partition
    overwrite), so without an explicit refresh a post-mutation read
    silently serves the pre-mutation cache (e.g. postings of purged docs
    after compact). refreshByPath invalidates by path prefix, covering
    blocks/, term_stats/, doc_lens_wide/, docids/ in one call."""
    spark.catalog.refreshByPath(index_dir)


def append_pages(spark: SparkSession, index_dir: str, new_pages: DataFrame,
                 anchors: DataFrame | None = None,
                 page_ranks: DataFrame | None = None) -> dict:
    """Append a batch of pages to an existing index. Returns metrics
    (incl. per-stage seconds, like build_index's stage_secs).
    anchors: optional (url, inlink) frame for the NEW pages (same contract
    as build_index) so an anchor-built index stays consistent across
    appends. Inbound-anchor updates to ALREADY-indexed targets are a
    re-index of those docs (upsert_pages), not an append — web engines
    batch those into periodic anchor refreshes.
    page_ranks: optional (url, page_rank) graph-prior frame (same contract
    as build_index) — pass the current priors on every incremental op of a
    prior-built index or the new docids revert to the stand-in attribute."""
    t0 = time.time()
    stage_secs: dict[str, float] = {}
    _last = [t0]

    def _lap(name: str) -> None:
        now = time.time()
        stage_secs[name] = round(now - _last[0], 2)
        _last[0] = now

    reader = IndexReader(spark, index_dir)
    old_docids = reader.docid_url_map()
    max_docid = old_docids.agg(F.max("docid")).collect()[0][0]
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)

    # new docids: offset dense rank over NEW urls. The anti-join is against
    # LIVE docids only (tombstoned urls can be re-added — that's how
    # upsert_pages replaces a re-crawled page); a url's tombstoned docid
    # keeps existing until compact(), so docid values are never reused.
    live_docids = old_docids
    dels = reader.deletes_df()
    if dels is not None:
        live_docids = old_docids.join(F.broadcast(dels), "docid", "left_anti")
    fresh = (
        new_pages.filter(F.col("lang") == "en")
        .select("url", "html")
        .join(live_docids.select("url"), "url", "left_anti")
    )
    # two-pass range-partitioned rank (corpus.assign_docids) + offset: the
    # same fully-parallel docid assignment the batch build uses. (An
    # unpartitioned window rank here would funnel every new url through ONE
    # task — the round-1 scale bug.)
    new_ids = assign_docids(fresh).withColumn(
        "docid", F.col("docid") + F.lit(int(max_docid) + 1)
    )
    # match the fused docids+attrs layout (build.py stage 1)
    base_rows = new_ids.select(
        "url", "docid",
        (F.conv(F.substring(F.md5("url"), 1, 4), 16, 10).cast("long") % 100)
        .cast("double").alias("spam_score"),
        ((F.conv(F.substring(F.md5("url"), 5, 4), 16, 10).cast("long") % 10000) / 100.0)
        .alias("page_rank"),
    )
    if page_ranks is not None:
        # same graph-prior override as build.py stage 1 — without it every
        # append/upsert would silently revert a page's PageRank attribute
        # (LTR f4) to the stand-in
        pr = page_ranks.select("url", F.col("page_rank").alias("pr_in"))
        base_rows = (base_rows.join(pr, "url", "left")
                     .select("url", "docid", "spam_score",
                             F.coalesce("pr_in", "page_rank")
                             .alias("page_rank")))
    base_rows.write.mode("append").parquet(os.path.join(index_dir, "docids"))
    new_ids = spark.read.parquet(os.path.join(index_dir, "docids")).select("url", "docid").filter(
        F.col("docid") > max_docid
    )
    n_new = new_ids.count()
    _lap("docids")
    if n_new == 0:
        return {"appended": 0, "secs": time.time() - t0}

    # IMPORTANT: do not reuse `fresh` here — its anti-join against the docids
    # directory re-lists files lazily and now sees the ids we just appended,
    # evaluating empty. new_ids (docid > max_docid) already names exactly the
    # genuinely-new urls, so join the raw pages straight to it.
    new_en = new_pages.filter(F.col("lang") == "en").select("url", "html")
    with_ids = new_en.join(new_ids, "url")
    if anchors is not None:
        # same discipline as build_index: restrict to THIS batch's urls
        # before the broadcast gate (the global anchor table can be
        # corpus-sized; the batch slice is n_new-bounded)
        bcast_cap = int(os.environ.get("SE_BROADCAST_CAP_BYTES", 256 << 20))
        # extend the per-docid anchor state for refresh diffs, then read
        # the new slice back as the join source (one evaluation of the
        # anchor lineage; build.py does the same). Appended docids are
        # fresh, so append-mode rows never collide — live-filtering on
        # docid resolves upserted urls.
        state_path = os.path.join(index_dir, "anchor_state")
        from ..links import one_anchor_row_per_url

        # one row per url (latest epoch wins on a streaming delta read):
        # a duplicate url would duplicate page rows in the join below and
        # silently index inflated tf/df postings
        one_anchor_row_per_url(anchors).join(new_ids, "url").select(
            "docid", "url", "inlink"
        ).write.mode("append").parquet(state_path)
        anc = (spark.read.parquet(state_path)
               .filter(F.col("docid") > max_docid)
               .select("url", F.col("inlink").alias("inlink_override")))
        anc = F.broadcast(anc) if n_new * 1024 <= bcast_cap else anc
        with_ids = with_ids.join(anc, "url", "left")
    # stem NEW pages with the stemmer this index's docs were built with —
    # a mismatch would silently split one term's postings across two stems
    tokenized = pages_to_tokenized(
        with_ids, stemmer=manifest.get("stemmer", "s")).cache()
    tokenized.filter(F.col("term") == "").select(
        "docid", "field", F.col("doclen").cast("int").alias("len")
    ).write.mode("append").parquet(os.path.join(index_dir, "doc_lens"))
    dw = tokenized.filter(F.col("term") == "").groupBy("docid").pivot(
        "field", FIELDS).agg(F.first(F.col("doclen").cast("int")))
    for f in FIELDS:
        dw = dw.withColumnRenamed(f, f"len_{f}")
    # docid-sorted delta files: appended docids are all > the old max,
    # so the new files' docid ranges stay disjoint from existing ones
    # and the norms sidecar's row-group range pruning keeps working
    dw.sort("docid").write.mode("append").parquet(
        os.path.join(index_dir, "doc_lens_wide"))
    delta_terms = tokenized.filter(F.col("term") != "")
    delta_terms.write.mode("append").parquet(doc_terms_dir(index_dir))
    _lap("tokenize")

    # merged stats (old + delta)
    delta_stats = delta_terms.groupBy("field", "term").agg(
        F.count(F.lit(1)).cast("long").alias("df"), F.sum("tf").cast("long").alias("ctf")
    )
    merged_ts = (
        reader._term_stats.select("field", "term", "df", "ctf")
        .unionByName(delta_stats)
        .groupBy("field", "term")
        .agg(F.sum("df").cast("long").alias("df"), F.sum("ctf").cast("long").alias("ctf"))
        .withColumn("bucket", term_bucket_col(F.col("term")))
    )
    ts_tmp = os.path.join(index_dir, "term_stats_new")
    from .build import write_term_stats

    write_term_stats(merged_ts, ts_tmp)
    _swap(index_dir, "term_stats")
    # Which term buckets did this delta touch? Bounded by N_BUCKETS (64)
    # rows; computed from the delta's own vocab (cached `tokenized` lineage),
    # never a rescan of the index. compact_buckets() uses this to re-encode
    # only the fragmented buckets instead of the whole posting store.
    touched_buckets = sorted(
        int(r["b"]) for r in delta_stats.select(
            term_bucket_col(F.col("term")).alias("b")).distinct().collect()
    )
    _lap("stats_merge")

    # field_stats: old + DELTA (never a rescan of the full doc_lens table —
    # that would make append cost O(index size) instead of O(batch)). The
    # delta aggregates ≤ |fields| rows from the already-cached tokenized
    # batch; the merge adds it to the reader's stats in plain Python.
    n_docs = int(manifest["n_docs"]) + n_new
    delta_fs = {
        r["field"]: (int(r["doc_count"]), int(r["sum_len"]))
        for r in tokenized.filter(F.col("term") == "")
        .filter(F.col("doclen") > 0).groupBy("field").agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.col("doclen").cast("long")).alias("sum_len")).collect()
    }
    merged_fs = [
        (f,
         reader.field_stats.get(f, (0, 0))[0] + delta_fs.get(f, (0, 0))[0],
         reader.field_stats.get(f, (0, 0))[1] + delta_fs.get(f, (0, 0))[1])
        for f in sorted(set(reader.field_stats) | set(delta_fs))
    ] + [("__docs__", int(n_docs), 0)]
    spark.createDataFrame(
        merged_fs, ["field", "doc_count", "sum_len"]
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "field_stats_new")
    )
    _swap(index_dir, "field_stats")

    # encode ONLY the delta postings; new docids >= max+1 land in new salt
    # stripes, so appended block files are docid-range disjoint from old ones
    salt_range = manifest.get("salt_range") or max(1, math.ceil(int(manifest["n_docs"]) / 32))
    new_ts = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    from .build import SALT_MIN_DF

    blocks = encode_blocks(spark, delta_terms, new_ts, salt_range,
                           salt_min_df=int(manifest.get("salt_min_df", SALT_MIN_DF)),
                           payload_codec=manifest.get("payload_codec", "varint"),
                           store_positions=manifest.get("store_positions", True))
    # Two-step layout, same as the build's segments->merge: a DIRECT
    # partitionBy("bucket") write here would emit one file per (encode task,
    # bucket) — measured 8k+ tiny files and 4x the append wall clock on a
    # 27k-doc delta. Instead the flat segment write lands the compressed
    # blocks once, and the ~100x-smaller re-read range-partitions them into
    # O(tasks + buckets) bucket-contiguous files.
    seg_path = os.path.join(index_dir, "blocks_segments")
    blocks.write.mode("append").parquet(seg_path)
    delta_blocks = spark.read.schema(SEGMENTS_SCHEMA).parquet(seg_path).filter(
        F.col("min_docid") > max_docid)  # new docids start past old max
    (
        delta_blocks.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 16),
            "bucket", "field", "term", "salt")
        .sortWithinPartitions("bucket", "field", "term", "salt", "min_docid")
        .write.mode("append").partitionBy("bucket")
        .parquet(os.path.join(index_dir, "blocks"))
    )
    _lap("encode")
    tokenized.unpersist()

    manifest["n_docs"] = n_docs
    # appended docids are dense above the old max, so the space grows by
    # exactly n_new on top of the old extent
    manifest["docid_space"] = int(max_docid) + 1 + int(n_new)
    manifest.setdefault("appends", []).append(
        {"n_new": int(n_new), "ts": time.time(), "secs": time.time() - t0,
         "buckets": touched_buckets,
         # docid extent of this append SEGMENT. Within a segment docid
         # order == url order (delta docids are ranks of the delta's sorted
         # urls); serving uses these cuts for exact per-segment top-k
         # tie-breaks (IndexReader.segment_cuts / wand._segment_cut).
         "docid_lo": int(max_docid) + 1,
         "docid_hi": int(max_docid) + int(n_new)}
    )
    manifest["uncompacted_buckets"] = sorted(
        set(manifest.get("uncompacted_buckets", [])) | set(touched_buckets))
    with open(os.path.join(index_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    from .snapshots import commit_snapshot

    snap = commit_snapshot(index_dir, "append")
    _invalidate_path_caches(spark, index_dir)
    _lap("snapshot")
    return {"appended": int(n_new), "secs": time.time() - t0, "n_docs": n_docs,
            "snapshot": snap, "stage_secs": stage_secs}


def upsert_pages(spark: SparkSession, index_dir: str,
                 pages: DataFrame, anchors: DataFrame | None = None,
                 page_ranks: DataFrame | None = None) -> dict:
    """Re-crawl upsert: REPLACE any already-indexed url's content with the
    incoming page and add genuinely-new urls — tombstone the live docid of
    every incoming url (merge-on-read, like delete_pages), then append the
    whole batch; the anti-join in append_pages skips only LIVE urls, so the
    re-crawled pages index under fresh docids. Serving reflects the new
    content immediately; the old versions leave physically at the next
    compact(). Completes the index CRUD lifecycle:
    build / append / upsert / delete / compact, each snapshot-committed.
    anchors: (url, inlink) contract as in build_index — pass the CURRENT
    aggregated anchor state so re-indexed pages keep anchor-built inlink
    fields (this is the periodic-anchor-refresh path for anchor-built
    indexes)."""
    t0 = time.time()
    urls_in = pages.filter(F.col("lang") == "en").select("url").distinct()
    d = delete_pages(spark, index_dir, urls_in)
    a = append_pages(spark, index_dir, pages, anchors=anchors,
                     page_ranks=page_ranks)
    return {"replaced_tombstones": d["n_deleted_total"],
            "appended": a.get("appended", 0),
            "secs": time.time() - t0,
            "snapshot": a.get("snapshot", d.get("snapshot"))}


def anchor_changed_urls(spark: SparkSession, index_dir: str,
                        anchors: DataFrame, delta: bool) -> DataFrame:
    """The refresh_anchors join-diff as a LAZY frame: live urls whose new
    anchor aggregate differs from the indexed anchor_state ('' == absent).
    Anchor-table-sized and narrow — two semi-joins against the live docid
    map plus one url equi-join; nothing corpus-sized shuffles. Factored out
    so tools/capture_plans.py captures exactly the plan refresh_anchors
    executes."""
    state_path = os.path.join(index_dir, "anchor_state")
    reader = IndexReader(spark, index_dir)
    live = reader.docid_url_map()
    dels = reader.deletes_df()
    if dels is not None:
        live = live.join(F.broadcast(dels), "docid", "left_anti")
    state = (spark.read.parquet(state_path)
             .join(live.select("docid"), "docid", "left_semi")
             .select("url", F.col("inlink").alias("old_inlink")))
    new = (anchors.select("url", F.col("inlink").alias("new_inlink"))
           .join(live.select("url"), "url", "left_semi"))
    diff = F.coalesce(F.col("old_inlink"), F.lit("")) != F.coalesce(
        F.col("new_inlink"), F.lit(""))
    if delta:  # urls absent from the partial table are untouched
        return new.join(state, "url", "left").filter(diff).select("url")
    return state.join(new, "url", "full_outer").filter(diff).select("url")


def refresh_anchors(spark: SparkSession, index_dir: str, pages: DataFrame,
                    anchors: DataFrame, delta: bool = False,
                    page_ranks: DataFrame | None = None) -> dict:
    """Periodic anchor refresh for an anchor-built index: diff the CURRENT
    aggregated anchor table against the per-docid anchor state the index
    actually carries (written by build/append/upsert when anchors are
    given) and re-index ONLY the pages whose inlink text changed — the
    web-scale answer to 'a new link appeared' (re-crawling nothing, and
    never re-tokenizing the unchanged 99.9% of the corpus; real engines
    run exactly this delta pass per crawl cycle).

    pages: the page source (html) for the re-indexed targets; only the
    changed urls' rows are read. Changed = live url whose new aggregate
    differs from the indexed one (missing-on-either-side counts as
    changed, '' == absent). Executes as one join-diff (anchor-table-sized,
    narrow) + an upsert of the changed slice. Returns counts.

    delta=True: `anchors` is a PARTIAL table carrying only urls whose
    aggregate may have changed (one row per url, latest value — the
    per-epoch output of streaming.stream_anchor_votes); urls absent from
    it are untouched rather than treated as changed-to-empty."""
    state_path = os.path.join(index_dir, "anchor_state")
    if not os.path.exists(state_path):
        raise ValueError("index has no anchor_state — build it with "
                         "build_index(anchors=...) first")
    t0 = time.time()
    from ..links import one_anchor_row_per_url

    # normalize once at entry (latest epoch per url wins): the delta path
    # documents 'one row per url, latest value', but a direct
    # spark.read.parquet(out_dir) across epoch partitions violates it
    anchors = one_anchor_row_per_url(anchors)
    changed = anchor_changed_urls(spark, index_dir, anchors, delta)
    # materialize NOW: the upsert below tombstones these very urls, and a
    # lazy `changed` would re-evaluate against the post-delete live set
    # (re-listed deletes/) inside append_pages — evaluating EMPTY, deleting
    # the pages without re-indexing them
    changed = changed.localCheckpoint(eager=True)
    n_changed = changed.count()
    if n_changed == 0:
        return {"refreshed": 0, "secs": round(time.time() - t0, 3)}
    todo = pages.join(changed, "url", "left_semi")
    u = upsert_pages(spark, index_dir, todo, anchors=anchors,
                     page_ranks=page_ranks)
    return {"refreshed": n_changed, "secs": round(time.time() - t0, 3),
            "snapshot": u.get("snapshot")}


def delete_pages(spark: SparkSession, index_dir: str, urls: DataFrame) -> dict:
    """Tombstone documents by url (merge-on-read delete — the Lucene/Iceberg
    delete model). Appends the matching docids to ``deletes/``; serving
    excludes tombstoned docs immediately (the stripe job skips them) while
    corpus statistics stay as-built until ``compact()`` removes the
    documents physically (copy-on-write) and recomputes stats.
    Commits a snapshot, so the pre-delete state stays time-travelable."""
    t0 = time.time()
    reader = IndexReader(spark, index_dir)
    ids = reader.docid_url_map().join(
        urls.select("url").distinct(), "url").select("docid")
    prior = reader.deletes_df()
    if prior is not None:  # idempotent: don't re-tombstone
        ids = ids.join(prior, "docid", "left_anti")
    if ids.limit(1).count() == 0:  # nothing new to tombstone
        return {"n_deleted_total": len(reader.deleted_set() or ()),
                "secs": time.time() - t0, "snapshot": None}
    ids.write.mode("append").parquet(os.path.join(index_dir, "deletes"))
    n_del = len(IndexReader(spark, index_dir).deleted_set())
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    manifest["n_deleted"] = int(n_del)
    with open(os.path.join(index_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    from .snapshots import commit_snapshot

    snap = commit_snapshot(index_dir, "delete")
    _invalidate_path_caches(spark, index_dir)
    return {"n_deleted_total": int(n_del), "secs": time.time() - t0,
            "snapshot": snap}


def compact(spark: SparkSession, index_dir: str, n_salts: int | None = None,
            store_positions: bool | None = None,
            salt_range: int | None = None) -> dict:
    """Re-encode the whole posting store from the forward table — the LSM
    compaction that follows a run of appends. Skips tokenization (the
    dominant build stage); restores everything appends left approximate:

    - salt stripes re-cut over the full docid range (appends land new docids
      in new stripes; compaction rebalances stripe sizes);
    - one fresh bucket-contiguous file layout (appends accumulate files).

    store_positions: None keeps the manifest's setting; True/False converts
    the index between full-positional and DOCS_AND_FREQS layouts (the
    forward table always keeps positions, so restoring them is pure
    re-encode, no re-tokenize).

    Stats tables are already exact after appends and are left untouched.
    The docid assignment is preserved (url -> docid is append-stable)."""
    import shutil

    from .build import SALT_MIN_DF, doc_terms_dir, encode_blocks

    t0 = time.time()
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    n_docs = int(manifest["n_docs"])
    n_salts = n_salts or int(manifest.get("n_salts") or 32)
    salt_min_df = int(manifest.get("salt_min_df", SALT_MIN_DF))

    # Crash-safety contract: a COMPACTING marker brackets the whole run.
    # While it exists (in-progress or crashed), IndexReader serves the last
    # COMMITTED snapshot instead of the half-rewritten live tree (Iceberg
    # read-committed behavior), and re-running compact() repairs: every
    # purge step below is an idempotent anti-join, tombstones survive until
    # the very last step, and n_docs is re-derived by counting tables —
    # never by manifest arithmetic that a restart would double-apply.
    marker = os.path.join(index_dir, "COMPACTING")
    with open(marker, "w") as f:
        f.write(str(t0))

    # ---- physical delete (copy-on-write leg of merge-on-read deletes) ----
    # Tombstoned docs leave every table; term/field stats are recomputed, so
    # post-compact results are bit-identical to a fresh build over the
    # surviving corpus (docid holes don't matter: ranking keys on url).
    del_path = os.path.join(index_dir, "deletes")
    dels = None
    if os.path.isdir(del_path) and any(
            f.endswith(".parquet") for f in os.listdir(del_path)):
        dels = spark.read.parquet(del_path).select("docid").distinct()
    if dels is not None:
        n_del = dels.count()
        tok_path = os.path.join(index_dir, "tokenized")
        (
            spark.read.parquet(tok_path)
            .join(F.broadcast(dels), "docid", "left_anti")
            .write.mode("overwrite").partitionBy("post")
            .parquet(tok_path + "_new")
        )
        _swap(index_dir, "tokenized")
        # anchor_state rides the same purge: superseded upsert rows are
        # live-filtered at read time, but only compaction reclaims them
        for tbl in ("doc_lens", "doc_lens_wide", "docids", "anchor_state"):
            p = os.path.join(index_dir, tbl)
            if not os.path.exists(p):
                continue
            purged = spark.read.parquet(p).join(
                F.broadcast(dels), "docid", "left_anti")
            if tbl == "doc_lens_wide":
                # keep the norms sidecar docid-clustered so stripe range
                # reads stay row-group-pruned after the purge
                purged = purged.repartitionByRange(
                    max(spark.sparkContext.defaultParallelism, 8), "docid"
                ).sortWithinPartitions("docid")
            purged.write.mode("overwrite").parquet(p + "_new")
            _swap(index_dir, tbl)
        doc_terms_purged = spark.read.parquet(doc_terms_dir(index_dir))
        from .build import write_term_stats

        write_term_stats(
            doc_terms_purged.groupBy("field", "term").agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.sum("tf").cast("long").alias("ctf"))
            .withColumn("bucket", term_bucket_col(F.col("term"))),
            os.path.join(index_dir, "term_stats_new"),
        )
        _swap(index_dir, "term_stats")
        n_docs = spark.read.parquet(
            os.path.join(index_dir, "docids")).count()
        doc_lens = spark.read.parquet(os.path.join(index_dir, "doc_lens"))
        field_stats = doc_lens.filter(F.col("len") > 0).groupBy("field").agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.sum("len").cast("long").alias("sum_len"))
        meta_row = spark.createDataFrame(
            [("__docs__", int(n_docs), 0)], ["field", "doc_count", "sum_len"])
        field_stats.unionByName(meta_row).write.mode("overwrite").parquet(
            os.path.join(index_dir, "field_stats_new"))
        _swap(index_dir, "field_stats")
        manifest["n_docs"] = n_docs
        manifest["n_deleted"] = 0
        manifest.setdefault("purges", []).append(
            {"n_purged": int(n_del), "ts": time.time()})

    # docid SPACE (max docid + 1) can exceed n_docs once a purge left holes;
    # stripes are cut over the space so every surviving docid stays covered
    mx = spark.read.parquet(os.path.join(index_dir, "docids")).agg(
        F.max("docid")).collect()[0][0]
    docid_space = int(mx) + 1 if mx is not None else n_docs
    manifest["docid_space"] = docid_space
    if salt_range is None:  # explicit override keeps existing stripe cuts
        salt_range = max(1, math.ceil(docid_space / n_salts))
    doc_terms = spark.read.parquet(doc_terms_dir(index_dir))
    term_stats = spark.read.parquet(os.path.join(index_dir, "term_stats"))

    if store_positions is None:
        store_positions = manifest.get("store_positions", True)
    blocks = encode_blocks(spark, doc_terms, term_stats,
                           salt_range, salt_min_df,
                           payload_codec=manifest.get("payload_codec", "varint"),
                           store_positions=store_positions)
    seg_tmp = os.path.join(index_dir, "blocks_segments_new")
    blocks.write.mode("overwrite").parquet(seg_tmp)
    _swap(index_dir, "blocks_segments")

    seg = spark.read.schema(SEGMENTS_SCHEMA).parquet(
        os.path.join(index_dir, "blocks_segments"))
    blocks_tmp = os.path.join(index_dir, "blocks_new")
    (
        seg.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 16),
            "bucket", "field", "term", "salt")
        .sortWithinPartitions("bucket", "field", "term", "salt", "min_docid")
        .write.mode("overwrite").partitionBy("bucket").parquet(blocks_tmp)
    )
    _swap(index_dir, "blocks")
    for name in ("blocks_segments_old", "blocks_old"):
        shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    manifest["salt_range"] = salt_range
    manifest["n_salts"] = n_salts
    # compact re-encoded EVERY block at this threshold, so the manifest can
    # (re)assert it even if the pre-compact value was unknown
    manifest["salt_min_df"] = salt_min_df
    manifest.pop("salt_min_df_unknown", None)
    manifest["store_positions"] = bool(store_positions)
    manifest["uncompacted_buckets"] = []
    manifest.setdefault("compactions", []).append(
        {"ts": time.time(), "secs": round(time.time() - t0, 2)})
    with open(os.path.join(index_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    # tombstones die LAST: any crash above leaves them in place, so
    # merge-on-read filtering keeps serving correctly and a compact() re-run
    # repairs (every purge step is an idempotent anti-join)
    shutil.rmtree(os.path.join(index_dir, "deletes"), ignore_errors=True)
    from .snapshots import commit_snapshot

    snap = commit_snapshot(index_dir, "compact")
    _invalidate_path_caches(spark, index_dir)
    os.remove(marker)
    return {"secs": time.time() - t0, "n_docs": n_docs,
            "salt_range": salt_range, "snapshot": snap}


def compact_buckets(spark: SparkSession, index_dir: str,
                    buckets: list[int] | None = None) -> dict:
    """Bucket-scoped compaction — re-encode ONLY the term buckets appends
    touched, leaving every other ``blocks/bucket=N`` directory's files
    physically untouched (byte- and inode-identical).

    After a run of appends the posting store is fragmented per bucket (each
    append adds docid-disjoint block files). A full compact() re-encodes the
    whole corpus; this re-encodes the postings of the touched buckets only —
    same codec, same stripe cuts (manifest ``salt_range`` is preserved,
    because the stripe job derives stripe docid windows from ONE global
    salt_range) and CURRENT term dfs, so for the touched buckets the result
    is row-identical to a full compact run at the same salt_range.

    Cost shape at scale: the forward doc_terms scan is still O(corpus)
    (forward files are doc-ordered, every bucket's terms live in every file),
    but the expensive legs — the encode shuffle, the numpy block kernel and
    the serving-layout write — are O(touched fraction). The touched-bucket
    swap in the serving layout uses Spark's dynamic partition overwrite, so
    untouched bucket directories are never listed, read, or rewritten.

    Deletes are copy-on-write across ALL buckets a doc's terms hash into, so
    pending tombstones require the full compact(): this raises if any exist.

    buckets: explicit bucket list; default = manifest ``uncompacted_buckets``
    (recorded per-append)."""
    import shutil

    from .build import SALT_MIN_DF, doc_terms_dir, encode_blocks

    t0 = time.time()
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    reader = IndexReader(spark, index_dir)
    if reader.deletes_df() is not None:
        raise ValueError(
            "pending tombstones: physical delete touches every bucket — "
            "run the full compact()")
    if buckets is None:
        buckets = manifest.get("uncompacted_buckets", [])
    buckets = sorted(set(int(b) for b in buckets))
    if not buckets:
        return {"secs": time.time() - t0, "buckets": [], "noop": True}

    n_docs = int(manifest["n_docs"])
    salt_range = int(manifest.get("salt_range") or max(1, -(-n_docs // 32)))

    marker = os.path.join(index_dir, "COMPACTING")
    with open(marker, "w") as f:
        f.write(str(t0))

    bucket_filter = term_bucket_col(F.col("term")).isin(buckets)
    doc_terms = spark.read.parquet(doc_terms_dir(index_dir)).filter(bucket_filter)
    term_stats = spark.read.parquet(
        os.path.join(index_dir, "term_stats")).filter(F.col("bucket").isin(buckets))
    blocks = encode_blocks(
        spark, doc_terms, term_stats, salt_range,
        salt_min_df=int(manifest.get("salt_min_df", SALT_MIN_DF)),
        payload_codec=manifest.get("payload_codec", "varint"),
        store_positions=manifest.get("store_positions", True))

    # keep the segments store (flat staging copy of the serving rows) in
    # sync: replace the touched buckets' rows. At 100 TB the segments store
    # would be bucket-partitioned too and take the same dynamic-overwrite
    # path; here the rewrite is IO-only over ~100x-compressed blocks.
    seg_path = os.path.join(index_dir, "blocks_segments")
    keep = spark.read.schema(SEGMENTS_SCHEMA).parquet(seg_path).filter(
        ~F.col("bucket").isin(buckets))
    keep.unionByName(blocks).write.mode("overwrite").parquet(seg_path + "_new")
    _swap(index_dir, "blocks_segments")
    shutil.rmtree(os.path.join(index_dir, "blocks_segments_old"),
                  ignore_errors=True)
    blocks = spark.read.schema(SEGMENTS_SCHEMA).parquet(seg_path).filter(
        F.col("bucket").isin(buckets))

    # serving layout: dynamic partition overwrite swaps ONLY the bucket
    # directories present in `blocks`; untouched bucket dirs keep their files
    (
        blocks.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 16),
            "bucket", "field", "term", "salt")
        .sortWithinPartitions("bucket", "field", "term", "salt", "min_docid")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(os.path.join(index_dir, "blocks"))
    )

    manifest["uncompacted_buckets"] = sorted(
        set(manifest.get("uncompacted_buckets", [])) - set(buckets))
    manifest.setdefault("partial_compactions", []).append(
        {"ts": time.time(), "secs": round(time.time() - t0, 2),
         "buckets": buckets})
    with open(os.path.join(index_dir, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    from .snapshots import commit_snapshot

    snap = commit_snapshot(index_dir, "compact_buckets")
    _invalidate_path_caches(spark, index_dir)
    os.remove(marker)
    return {"secs": time.time() - t0, "buckets": buckets, "snapshot": snap}


def _swap(index_dir: str, name: str) -> None:
    """Atomic-ish table swap: name_new -> name (keep one backup)."""
    import shutil

    cur, new, old = (os.path.join(index_dir, n) for n in (name, name + "_new", name + "_old"))
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(cur):  # first-ever swap of a table the index never had
        os.rename(cur, old)
    os.rename(new, cur)
