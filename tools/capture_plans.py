"""Capture .explain('formatted') for the engine's headline physical plans
into PLANS.md — the evidence that scans prune (PartitionFilters on the term
bucket, PushedFilters on term), projections prune columns (ReadSchema), the
hot expressions run in WholeStageCodegen, and the build's joins broadcast.

Usage: python tools/capture_plans.py [index_dir]  (builds a tiny index if absent)
"""

from __future__ import annotations

import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def fmt(df) -> str:
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def trim(text: str, max_lines: int = 60) -> str:
    lines = text.splitlines()
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [f"... ({len(text.splitlines()) - max_lines} more lines)"]
    return "\n".join(lines)


def main() -> None:
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.session import get_spark

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    idx = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plans_idx"
    if not os.path.exists(os.path.join(idx, "MANIFEST.json")):
        pages = generate_pages(spark, 300, seed=42, partitions=4)
        build_index(spark, pages, idx, n_salts=4)
    r = IndexReader(spark, idx)
    e = Engine(r)

    sections = []

    scan = r.blocks_for([("body", "haceba4"), ("body", "badiba5")]).select(
        "term", "salt", "blk", "n", "docids_z")
    sections.append((
        "Pruned posting-block scan (two query terms)",
        "What to look for: `PartitionFilters: [bucket IN (...)]` — directory "
        "pruning on the md5 term bucket; `PushedFilters: [In(term, ...)]` — "
        "row-group pruning via parquet min/max stats (the merge stage wrote "
        "term-contiguous row groups); `ReadSchema` carrying only the "
        "selected columns.",
        fmt(scan)))

    wand = e.search("haceba4 badiba5", k=10)
    sections.append((
        "Stripe top-k serving path (every query class)",
        "What to look for: `InMemoryTableScan` of the per-reader serve "
        "cache (striped blocks + skeleton rows, pre-partitioned by salt — "
        "IndexReader.serve_blocks) feeding `FlatMapGroupsInPandas` with NO "
        "Exchange between them: the groupBy reuses the cached "
        "partitioning, so a warm query is one no-shuffle stage. Each "
        "docid-range stripe evaluates the compiled query tree (dense numpy "
        "accumulators; wand_topk compiles its flat bag of words to the "
        "same #SUM program), cuts k per url-rank segment and resolves its urls "
        "via row-group-pruned point reads of the docid-sorted url table "
        "(index/urlmap.py) — no corpus-sized join appears anywhere. The "
        "global `TakeOrderedAndProject` merges <= k url-resolved rows per "
        "stripe. Compressed blocks reach the stripe task undecoded.",
        fmt(wand)))

    from pyspark.sql import functions as F
    docids = r.docid_url_map()
    pages = generate_pages(spark, 300, seed=42, partitions=4)
    joined = pages.filter(F.col("lang") == "en").join(F.broadcast(docids), "url")
    sections.append((
        "Build: pages x docids join",
        "What to look for: `BroadcastHashJoin` with the narrow (url, docid) "
        "side broadcast — the html bytes never shuffle. At 10^12 docs the "
        "cluster answer is bucketed co-partitioned storage on url; either "
        "way no wide exchange of page payloads.",
        fmt(joined)))

    indri = e.search("#WAND( 0.6 haceba4 0.4 #AND( badiba5 fobaba3 ) )",
                     model="indri", mu=1000.0, lam=0.4, k=10)
    sections.append((
        "Indri #WAND (structured query, stripe path)",
        "What to look for: the same one-stage plan as the bag-of-words "
        "query — the serve-cache scan filtered to the query's terms "
        "feeding `FlatMapGroupsInPandas`, whose stripe task evaluates the "
        "whole operator tree (query/planner.py Program) with dense numpy "
        "accumulators, Indri default scores included; then "
        "`TakeOrderedAndProject`. A #SYN/#NEAR/#WINDOW list feeding BM25 "
        "idf or Indri smoothing adds a `BroadcastNestedLoopJoin` of the "
        "derived-list pre-pass onto the skeleton rows; no other join or "
        "exchange appears.",
        fmt(indri)))

    from searchengines_spark import links as L

    linked = generate_pages(spark, 300, seed=42, partitions=4, link_fanout=3)
    anc = L.anchor_texts(L.extract_links(linked))
    sections.append((
        "Anchor-text aggregation (inlink field build)",
        "What to look for: the href parse is one stateless `MapInPandas` "
        "over the pages scan (html bytes never shuffle; output rows are "
        "three short strings); the per-host vote dedup and the per-(dst, "
        "src_host) spam cap are `WindowGroupLimit`-pushed rank filters; the "
        "host-vote weight is one `HashAggregate` with map-side partial "
        "count; and the per-dst top-N runs TWICE — first partitioned by "
        "(dst, anchor-hash-bucket) then by dst — so a 10^8-in-degree "
        "celebrity page never funnels its raw anchor set into one task.",
        fmt(anc)))

    idx_anchor = "/tmp/plans_anchor_idx"
    if not os.path.exists(os.path.join(idx_anchor, "MANIFEST.json")):
        build_index(spark, linked, idx_anchor, n_salts=4, anchors=anc)
    from searchengines_spark.index.incremental import anchor_changed_urls

    delta_tbl = (anc.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
                 .withColumn("inlink", F.concat("inlink", F.lit(" newtok"))))
    changed = anchor_changed_urls(spark, idx_anchor, delta_tbl, delta=True)
    sections.append((
        "refresh_anchors delta diff (changed-url selection)",
        "What to look for: the diff is anchor-table-sized and narrow — the "
        "partial delta table left-semi-joins the live docid map (tombstones "
        "anti-joined first), equi-joins the indexed anchor_state on url, and "
        "the '' == absent inequality filter keeps only genuinely changed "
        "urls. NO page html is read anywhere in this plan (pages join only "
        "the changed slice, inside the subsequent upsert); nothing "
        "corpus-sized shuffles.",
        fmt(changed)))

    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — captured physical plans for the headline paths\n\n"
                "Generated by `python tools/capture_plans.py` against a "
                "seed-42 index. Each section states what property the plan "
                "must exhibit; regenerate after planner changes.\n")
        for title, what, plan in sections:
            f.write(f"\n## {title}\n\n{what}\n\n```\n{trim(plan)}\n```\n")
    print("wrote", out)


if __name__ == "__main__":
    main()
