"""spark-submit entry point for the engine (the north rule's deployment
shape: ``spark-submit --py-files engine.zip tools/submit_job.py <cmd> ...``).

On a cluster, add ``--master yarn``/``--master k8s://...`` and executor conf;
the job code is identical — the engine only ever talks to a SparkSession.

Commands:
  anchors --pages PATH --out DIR           href parse -> aggregated (url,
                                           inlink) anchor-text table
  graph  --pages PATH --out DIR [--iters N]  host-graph PageRank ->
                                           (url, page_rank) prior table
  build  --pages PATH --index-dir DIR [--n-salts N] [--resume]
         [--stemmer s|kstem]               tokenizer stem spec (MANIFEST-pinned)
         [--anchors DIR]                   index anchor table as inlink field
         [--page-ranks DIR]                store graph priors as doc attrs
  query  --index-dir DIR --query STR [--model M] [--k K] [--run-id ID]
  append --index-dir DIR --pages PATH      delta-index new urls (no rebuild)
  upsert --index-dir DIR --pages PATH      recrawl: tombstone old + append new
  delete --index-dir DIR --urls PATH       tombstone urls (parquet w/ url col)
  compact --index-dir DIR [--n-salts N] [--expire-keep K]
                                           fold deltas + purge tombstones,
                                           re-encode under current stats;
                                           optionally expire old snapshots

Package the engine for --py-files with:
  (cd <repo> && zip -qr /tmp/engine.zip searchengines_spark)
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser(prog="submit_job")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--pages", required=True)
    b.add_argument("--index-dir", required=True)
    b.add_argument("--n-salts", type=int, default=32)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--payload-codec", default="pfor", choices=["varint", "pfor"])
    b.add_argument("--no-positions", action="store_true",
                   help="DOCS_AND_FREQS index: no position payloads "
                        "(positional operators unavailable)")
    b.add_argument("--stemmer", default="s", choices=["s", "kstem"],
                   help="tokenizer stem spec; pinned in MANIFEST so the "
                        "query side always stems identically")
    b.add_argument("--anchors", default=None,
                   help="(url, inlink) parquet from the `anchors` command; "
                        "indexed as each target's inlink field")

    b.add_argument("--page-ranks", default=None,
                   help="(url, page_rank) parquet from the `graph` command; "
                        "stored as the per-doc PageRank attribute (LTR f4)")

    a = sub.add_parser("anchors")
    a.add_argument("--pages", required=True)
    a.add_argument("--out", required=True)
    a.add_argument("--max-anchors", type=int, default=32)
    a.add_argument("--per-host-cap", type=int, default=4)

    g = sub.add_parser("graph")
    g.add_argument("--pages", required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--iters", type=int, default=5)

    q = sub.add_parser("query")
    q.add_argument("--index-dir", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--model", default="bm25")
    q.add_argument("--k", type=int, default=100)
    q.add_argument("--run-id", default="run")

    sb = sub.add_parser("servebench",
                        help="serve-scaling workloads (single BM25 query, "
                             "12-query batch, 48-query batch, no-op job "
                             "floor) warm in one session; prints RESULT "
                             "JSON for tools/scaling_serve_cluster.py")
    sb.add_argument("--index-dir", required=True)
    sb.add_argument("--runs", type=int, default=3)

    for name in ("append", "upsert"):
        p = sub.add_parser(name)
        p.add_argument("--index-dir", required=True)
        p.add_argument("--pages", required=True)

    d = sub.add_parser("delete")
    d.add_argument("--index-dir", required=True)
    d.add_argument("--urls", required=True,
                   help="parquet with a url column; extra columns ignored")

    c = sub.add_parser("compact")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--n-salts", type=int, default=None)
    c.add_argument("--expire-keep", type=int, default=None,
                   help="after compacting, expire all but the last K snapshots")

    args = ap.parse_args()

    # Import AFTER spark-submit has placed --py-files on sys.path
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"searchengines-{args.cmd}").getOrCreate()

    if args.cmd == "anchors":
        from searchengines_spark.links import anchor_texts_from_pages

        pages = spark.read.parquet(args.pages)
        anchor_texts_from_pages(pages,
                                max_anchors=args.max_anchors,
                                per_host_cap=args.per_host_cap
                                ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"anchors": args.out}))
    elif args.cmd == "graph":
        from searchengines_spark.links import links_from_pages, url_priors

        pages = spark.read.parquet(args.pages)
        url_priors(pages, links_from_pages(pages), iters=args.iters
                   ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"page_ranks": args.out}))
    elif args.cmd == "build":
        from searchengines_spark.index import build_index

        pages = spark.read.parquet(args.pages)
        anchors = spark.read.parquet(args.anchors) if args.anchors else None
        ranks = (spark.read.parquet(args.page_ranks)
                 if args.page_ranks else None)
        m = build_index(spark, pages, args.index_dir,
                        n_salts=args.n_salts, resume=args.resume,
                        payload_codec=args.payload_codec,
                        store_positions=not args.no_positions,
                        stemmer=args.stemmer,
                        anchors=anchors, page_ranks=ranks)
        print(json.dumps({k: v for k, v in m.items() if k != "stage_secs"}))
    elif args.cmd == "query":
        from searchengines_spark.engine import Engine
        from searchengines_spark.index import IndexReader

        eng = Engine(IndexReader(spark, args.index_dir))
        ranking = [(r["url"], r["score"])
                   for r in eng.search(args.query, model=args.model, k=args.k).collect()]
        for line in Engine.trec_lines("q1", ranking, args.run_id):
            print(line)
    elif args.cmd == "servebench":
        import time

        import pandas as pd
        from pyspark.sql import functions as F

        from searchengines_spark.corpus import VOCAB
        from searchengines_spark.engine import Engine
        from searchengines_spark.index import IndexReader
        from searchengines_spark.query.wand import WAND_BATCH_SCHEMA

        reader = IndexReader(spark, args.index_dir)
        eng = Engine(reader)
        # warm-up: session/JIT/codegen + serve-cache materialization
        eng.search("hobaba7 jibaba8", model="bm25", k=10).collect()

        def timed(fn):
            out = []
            for _ in range(args.runs):
                t0 = time.time()
                fn()
                out.append(round(time.time() - t0, 3))
            return out

        single = timed(lambda: eng.search(
            "cebaba1 dibaba2 fobaba3 gubaba4", model="bm25", k=100).collect())
        b12 = {f"b{i}": f"{VOCAB[50 + 2 * i]} {VOCAB[51 + 2 * i]}"
               for i in range(12)}
        batch = timed(lambda: eng.search_batch(b12, model="bm25", k=100))
        big = {f"m{i}": f"{VOCAB[50 + i]} {VOCAB[90 + i]}" for i in range(40)}
        for i in range(8):
            big[f"h{i}"] = f"{VOCAB[i]} {VOCAB[i + 1]} {VOCAB[i + 2]}"
        batch48 = timed(lambda: eng.search_batch(big, model="bm25", k=100))

        # fixed per-job floor in THIS deployment: a no-op applyInPandas over
        # the serve cache's skeleton rows only — same stage shape, ~zero
        # data, ~zero kernel; what remains is scheduler + Python-worker
        # dispatch, the part of the wall that cannot scale with cores
        def _noop(key, pdf):
            return pd.DataFrame({"qid": [], "docid": [], "score": [],
                                 "decodes": []})
        floor_df = (reader.serve_blocks().filter(F.col("term") == "")
                    .groupBy("salt").applyInPandas(_noop, WAND_BATCH_SCHEMA))
        floor_df.collect()
        floor = timed(lambda: floor_df.collect())
        print("RESULT " + json.dumps({
            "single_runs": single, "batch_runs": batch,
            "batch48_runs": batch48, "noop_floor_runs": floor}))
    elif args.cmd in ("append", "upsert"):
        from searchengines_spark.index.incremental import (append_pages,
                                                           upsert_pages)

        fn = append_pages if args.cmd == "append" else upsert_pages
        m = fn(spark, args.index_dir, spark.read.parquet(args.pages))
        print(json.dumps({k: v for k, v in m.items() if k != "stage_secs"}))
    elif args.cmd == "delete":
        from searchengines_spark.index.incremental import delete_pages

        m = delete_pages(spark, args.index_dir,
                         spark.read.parquet(args.urls).select("url"))
        print(json.dumps(m))
    elif args.cmd == "compact":
        from searchengines_spark.index.incremental import compact

        m = compact(spark, args.index_dir, n_salts=args.n_salts)
        if args.expire_keep is not None:
            from searchengines_spark.index.snapshots import expire_snapshots

            m["expired_snapshots"] = expire_snapshots(
                args.index_dir, keep_last=args.expire_keep)
        print(json.dumps(m))

    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
