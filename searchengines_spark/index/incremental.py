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

import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import assign_docids, pages_to_tokenized
from .build import (SEGMENTS_SCHEMA, IndexReader, StageTimer, commit,
                    doc_terms_dir, deletes_dir, field_stats_of, index_params,
                    join_anchors, norms_of, read_deletes, read_docids,
                    read_manifest, read_term_stats, term_bucket_col,
                    term_stats_of, write_blocks, write_docids,
                    write_field_stats, write_manifest, write_norms,
                    write_segments, write_term_stats)


def _merge_stats(old: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Per-key sums of an index's stats rows and an append's delta."""
    sums = [F.sum(c).cast("long").alias(c) for c in delta.columns if c not in keys]
    return old.unionByName(delta).groupBy(*keys).agg(*sums)


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
    timer = StageTimer()
    reader = IndexReader(spark, index_dir)
    old_docids = reader.docid_url_map()
    max_docid = old_docids.agg(F.max("docid")).collect()[0][0]
    manifest = read_manifest(index_dir)
    params = index_params(manifest, int(manifest["n_docs"]))

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
    # without page_ranks every append/upsert would silently revert a
    # page's PageRank attribute (LTR f4) to the stand-in
    write_docids(new_ids, os.path.join(index_dir, "docids"), "append",
                 page_ranks)
    new_ids = read_docids(spark, index_dir).select("url", "docid").filter(
        F.col("docid") > max_docid
    )
    n_new = new_ids.count()
    timer.lap("docids")
    if n_new == 0:
        return {"appended": 0, "secs": time.time() - timer.t0}

    # IMPORTANT: do not reuse `fresh` here — its anti-join against the docids
    # directory re-lists files lazily and now sees the ids we just appended,
    # evaluating empty. new_ids (docid > max_docid) already names exactly the
    # genuinely-new urls, so join the raw pages straight to it.
    new_en = new_pages.filter(F.col("lang") == "en").select("url", "html")
    with_ids = new_en.join(new_ids, "url")
    if anchors is not None:
        # restricted to THIS batch's urls before the broadcast gate (the
        # global anchor table can be corpus-sized; the batch slice is
        # n_new-bounded). Appended docids are fresh, so the anchor_state
        # rows appended here never collide
        with_ids = join_anchors(spark, index_dir, with_ids, anchors, new_ids,
                                n_new, "append", after_docid=max_docid)
    # stem NEW pages with the stemmer this index's docs were built with —
    # a mismatch would silently split one term's postings across two stems
    tokenized = pages_to_tokenized(with_ids, stemmer=params["stemmer"]).cache()
    delta_lens = tokenized.filter(F.col("term") == "").select(
        "docid", "field", F.col("doclen").cast("int").alias("len"))
    delta_lens.write.mode("append").parquet(os.path.join(index_dir, "doc_lens"))
    write_norms(spark, norms_of(delta_lens),
                os.path.join(index_dir, "doc_lens_wide"), "append")
    delta_terms = tokenized.filter(F.col("term") != "")
    delta_terms.write.mode("append").parquet(doc_terms_dir(index_dir))
    timer.lap("tokenize")

    # merged stats (old + delta)
    delta_stats = term_stats_of(delta_terms)
    write_term_stats(
        _merge_stats(reader._term_stats, delta_stats, ["field", "term", "bucket"]),
        os.path.join(index_dir, "term_stats_new"))
    _swap(index_dir, "term_stats")
    # Which term buckets did this delta touch? Bounded by N_BUCKETS (64)
    # rows; computed from the delta's own vocab (cached `tokenized` lineage),
    # never a rescan of the index. compact_buckets() uses this to re-encode
    # only the fragmented buckets instead of the whole posting store.
    touched_buckets = sorted(
        int(r["bucket"]) for r in delta_stats.select("bucket").distinct().collect())
    timer.lap("stats_merge")

    # field_stats: old + DELTA (never a rescan of the full doc_lens table —
    # that would make append cost O(index size) instead of O(batch)). The
    # delta aggregates <= |fields| rows from the already-cached tokenized
    # batch; the old rows come from the reader's driver-side stats.
    n_docs = int(manifest["n_docs"]) + n_new
    old_fs = spark.createDataFrame(
        [(f, c, s) for f, (c, s) in reader.field_stats.items()],
        "field string, doc_count long, sum_len long")
    write_field_stats(spark, _merge_stats(old_fs, field_stats_of(delta_lens), ["field"]),
                      n_docs, os.path.join(index_dir, "field_stats_new"))
    _swap(index_dir, "field_stats")

    # encode ONLY the delta postings; new docids >= max+1 land in new salt
    # stripes, so appended block files are docid-range disjoint from old ones.
    # Two-step layout, same as the build's segments->merge: the flat
    # segment write lands the compressed blocks once, and the ~100x-smaller
    # re-read is merged into bucket-contiguous files (write_blocks).
    seg_path = os.path.join(index_dir, "blocks_segments")
    write_segments(spark, delta_terms, read_term_stats(spark, index_dir),
                   seg_path, "append", params)
    delta_blocks = spark.read.schema(SEGMENTS_SCHEMA).parquet(seg_path).filter(
        F.col("min_docid") > max_docid)  # new docids start past old max
    write_blocks(spark, delta_blocks, os.path.join(index_dir, "blocks"), "append")
    timer.lap("encode")
    tokenized.unpersist()

    manifest["n_docs"] = n_docs
    # appended docids are dense above the old max, so the space grows by
    # exactly n_new on top of the old extent
    manifest["docid_space"] = int(max_docid) + 1 + int(n_new)
    manifest.setdefault("appends", []).append(
        {"n_new": int(n_new), "ts": time.time(), "secs": time.time() - timer.t0,
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
    write_manifest(index_dir, manifest)
    snap = commit(spark, index_dir, "append")
    timer.lap("snapshot")
    return {"appended": int(n_new), "secs": time.time() - timer.t0, "n_docs": n_docs,
            "snapshot": snap, "stage_secs": timer.secs}


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
    manifest = read_manifest(index_dir)
    manifest["n_deleted"] = int(n_del)
    write_manifest(index_dir, manifest)
    snap = commit(spark, index_dir, "delete")
    return {"n_deleted_total": int(n_del), "secs": time.time() - t0,
            "snapshot": snap}


def _begin_compaction(index_dir: str) -> str:
    """Write the COMPACTING marker and return its path. It brackets the
    whole rewrite: while it exists (in progress or crashed), IndexReader
    serves the last COMMITTED snapshot instead of the half-rewritten live
    tree (Iceberg read-committed behavior), and only a completed re-run
    removes it."""
    marker = os.path.join(index_dir, "COMPACTING")
    with open(marker, "w") as f:
        f.write(str(time.time()))
    return marker


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

    t0 = time.time()
    manifest = read_manifest(index_dir)
    n_docs = int(manifest["n_docs"])
    n_salts = n_salts or int(manifest.get("n_salts") or 32)
    params = index_params(manifest, n_docs)

    # Crash-safety contract: re-running compact() after a crash repairs
    # the live tree — every purge step below is an idempotent anti-join,
    # tombstones survive until the very last step, and n_docs is re-derived
    # by counting tables, never by manifest arithmetic that a restart
    # would double-apply.
    marker = _begin_compaction(index_dir)

    # ---- physical delete (copy-on-write leg of merge-on-read deletes) ----
    # Tombstoned docs leave every table; term/field stats are recomputed, so
    # post-compact results are bit-identical to a fresh build over the
    # surviving corpus (docid holes don't matter: ranking keys on url).
    dels = read_deletes(spark, index_dir)
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
                write_norms(spark, purged, p + "_new", "overwrite")
            else:
                purged.write.mode("overwrite").parquet(p + "_new")
            _swap(index_dir, tbl)
        write_term_stats(term_stats_of(spark.read.parquet(doc_terms_dir(index_dir))),
                         os.path.join(index_dir, "term_stats_new"))
        _swap(index_dir, "term_stats")
        n_docs = read_docids(spark, index_dir).count()
        write_field_stats(
            spark, field_stats_of(spark.read.parquet(os.path.join(index_dir, "doc_lens"))),
            n_docs, os.path.join(index_dir, "field_stats_new"))
        _swap(index_dir, "field_stats")
        manifest["n_docs"] = n_docs
        manifest["n_deleted"] = 0
        manifest.setdefault("purges", []).append(
            {"n_purged": int(n_del), "ts": time.time()})

    # docid SPACE (max docid + 1) can exceed n_docs once a purge left holes;
    # stripes are cut over the space so every surviving docid stays covered
    mx = read_docids(spark, index_dir).agg(F.max("docid")).collect()[0][0]
    docid_space = int(mx) + 1 if mx is not None else n_docs
    manifest["docid_space"] = docid_space
    if salt_range is None:  # explicit override keeps existing stripe cuts
        salt_range = max(1, math.ceil(docid_space / n_salts))
    if store_positions is None:
        store_positions = params["store_positions"]
    params.update(salt_range=salt_range, store_positions=store_positions)

    write_segments(spark, spark.read.parquet(doc_terms_dir(index_dir)),
                   read_term_stats(spark, index_dir),
                   os.path.join(index_dir, "blocks_segments_new"),
                   "overwrite", params)
    _swap(index_dir, "blocks_segments")
    write_blocks(spark, spark.read.schema(SEGMENTS_SCHEMA).parquet(
        os.path.join(index_dir, "blocks_segments")),
        os.path.join(index_dir, "blocks_new"), "overwrite")
    _swap(index_dir, "blocks")
    for name in ("blocks_segments_old", "blocks_old"):
        shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)

    manifest["salt_range"] = salt_range
    manifest["n_salts"] = n_salts
    # compact re-encoded EVERY block at this threshold, so the manifest can
    # (re)assert it even if the pre-compact value was unknown
    manifest["salt_min_df"] = params["salt_min_df"]
    manifest.pop("salt_min_df_unknown", None)
    manifest["store_positions"] = bool(store_positions)
    manifest["uncompacted_buckets"] = []
    manifest.setdefault("compactions", []).append(
        {"ts": time.time(), "secs": round(time.time() - t0, 2)})
    write_manifest(index_dir, manifest)
    # tombstones die LAST: any crash above leaves them in place, so
    # merge-on-read filtering keeps serving correctly and a compact() re-run
    # repairs (every purge step is an idempotent anti-join)
    shutil.rmtree(os.path.join(index_dir, "deletes"), ignore_errors=True)
    snap = commit(spark, index_dir, "compact")
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

    t0 = time.time()
    manifest = read_manifest(index_dir)
    if deletes_dir(index_dir) is not None:
        raise ValueError(
            "pending tombstones: physical delete touches every bucket — "
            "run the full compact()")
    if buckets is None:
        buckets = manifest.get("uncompacted_buckets", [])
    buckets = sorted(set(int(b) for b in buckets))
    if not buckets:
        return {"secs": time.time() - t0, "buckets": [], "noop": True}

    params = index_params(manifest, int(manifest["n_docs"]))
    marker = _begin_compaction(index_dir)

    in_buckets = F.col("bucket").isin(buckets)
    doc_terms = spark.read.parquet(doc_terms_dir(index_dir)).filter(
        term_bucket_col(F.col("term")).isin(buckets))
    # keep the segments store (flat staging copy of the serving rows) in
    # sync: replace the touched buckets' rows. At 100 TB the segments store
    # would be bucket-partitioned too and take the same dynamic-overwrite
    # path; here the rewrite is IO-only over ~100x-compressed blocks.
    seg_path = os.path.join(index_dir, "blocks_segments")
    keep = spark.read.schema(SEGMENTS_SCHEMA).parquet(seg_path).filter(~in_buckets)
    write_segments(spark, doc_terms, read_term_stats(spark, index_dir).filter(in_buckets),
                   seg_path + "_new", "overwrite", params, keep=keep)
    _swap(index_dir, "blocks_segments")
    shutil.rmtree(os.path.join(index_dir, "blocks_segments_old"),
                  ignore_errors=True)

    # serving layout: dynamic partition overwrite swaps ONLY the bucket
    # directories present in the touched rows; untouched bucket dirs keep
    # their files
    write_blocks(spark, spark.read.schema(SEGMENTS_SCHEMA).parquet(seg_path).filter(in_buckets),
                 os.path.join(index_dir, "blocks"), "overwrite",
                 partitionOverwriteMode="dynamic")

    manifest["uncompacted_buckets"] = sorted(
        set(manifest.get("uncompacted_buckets", [])) - set(buckets))
    manifest.setdefault("partial_compactions", []).append(
        {"ts": time.time(), "secs": round(time.time() - t0, 2),
         "buckets": buckets})
    write_manifest(index_dir, manifest)
    snap = commit(spark, index_dir, "compact_buckets")
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
