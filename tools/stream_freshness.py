"""Streaming index freshness: event -> searchable latency under a steady
append feed (VERDICT r4 #8).

Protocol: copy a pre-built BASE index (default 100k pages), start
`streaming.stream_index` continuously (2 s trigger) on a watch dir, then
produce N_DROPS parquet drops of B brand-new pages each (urls disjoint
from the base and from each other: tail slices of a larger deterministic
corpus). For every drop:

  t_drop        — drop file fully written into the watch dir
  t_commit      — first time a freshly-opened reader's manifest shows the
                  drop's docs (poll every 0.25 s; MANIFEST.json rewrite is
                  the append's commit point)
  confirm_wall  — wall of ONE real query over a fresh Engine that must
                  return a dropped url (probe = the rarest corpus-vocab
                  term in the drop's text, k=200)

  freshness = (t_commit - t_drop) + confirm_wall   [event -> searchable]

Reported per batch size B: freshness p50/p95, per-epoch append wall from
the StreamingQuery's own progress log (triggerExecution duration), and
the appended-docs/sec rate — the per-epoch append cost curve vs batch
size the LIFECYCLE.md batch-size lever predicts.

Usage: python tools/stream_freshness.py [base_index] [batch_sizes_csv]
Prints one JSON line; findings go to BENCH/LIFECYCLE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hostcheck import host_healthy  # noqa: E402

BASE_PAGES = 100_000
N_DROPS = 5


def _copy_index(src: str, dst: str) -> None:
    subprocess.run(["cp", "-r", "--reflink=auto", src, dst], check=True)


def _rarest_term(rows) -> str:
    """The corpus-vocab term with the highest Zipf rank (lowest frequency)
    present in the drop — smallest df, so the dropped docs reach top-k."""
    import re

    from searchengines_spark.corpus import VOCAB

    rank = {t: i for i, t in enumerate(VOCAB)}
    best, best_rank = None, -1
    for r in rows:
        for tok in re.findall(r"[a-z][a-z0-9]*", r["text"].lower()):
            rk = rank.get(tok, -1)
            if rk > best_rank:
                best, best_rank = tok, rk
    return best


def run_batch_size(spark, base_idx: str, all_pages, b: int,
                   start_offset: int) -> dict:
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader
    from searchengines_spark.streaming import stream_index

    work = tempfile.mkdtemp(prefix=f"fresh_{b}_")
    idx = os.path.join(work, "idx")
    _copy_index(base_idx, idx)
    watch = os.path.join(work, "watch")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(watch)
    q = stream_index(spark, watch, idx, ckpt, available_now=False,
                     processing_interval="2 seconds")
    base_docs = IndexReader(spark, idx).n_docs
    fresh, confirms = [], []
    try:
        offset = start_offset
        for i in range(N_DROPS):
            drop = all_pages[offset:offset + b]
            offset += b
            probe = _rarest_term(drop)
            urls = {r["url"] for r in drop}
            # exact PAGES_SCHEMA, not inference: the stream reader declares
            # that schema, and a drop file written with a close-but-not-
            # equal inferred schema kills the FileStreamSource
            from searchengines_spark.corpus import PAGES_SCHEMA

            pdf = spark.createDataFrame(
                [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
                 for r in drop], PAGES_SCHEMA)
            staging = os.path.join(work, f"stage{i}")
            pdf.coalesce(1).write.parquet(staging)
            t_drop = time.time()
            # atomic-ish publish: move finished files into the watch dir
            for f in os.listdir(staging):
                if f.endswith(".parquet"):
                    shutil.move(os.path.join(staging, f),
                                os.path.join(watch, f"drop{i}_{f}"))
            # poll the commit point (manifest n_docs) with a fresh reader
            expect = base_docs + (i + 1) * len(urls)
            deadline = time.time() + 300
            n_poll = 0
            while True:
                if q.exception() is not None:
                    raise RuntimeError(f"stream died: {q.exception()}")
                n_poll += 1
                if n_poll % 40 == 0:
                    print(f"[poll] drop={i} status={q.status}", file=sys.stderr)
                if time.time() > deadline:
                    print(f"[poll] progress={q.recentProgress[-2:]}",
                          file=sys.stderr)
                    raise TimeoutError(f"drop {i} not committed in 300s")
                try:
                    with open(os.path.join(idx, "MANIFEST.json")) as fh:
                        if json.load(fh).get("n_docs", 0) >= expect:
                            break
                except (json.JSONDecodeError, FileNotFoundError):
                    pass  # mid-rewrite
                time.sleep(0.25)
            t_commit = time.time()
            # one real query over a fresh engine must SERVE a dropped url
            t0 = time.time()
            eng = Engine(IndexReader(spark, idx))
            got = {r["url"] for r in
                   eng.search(probe, model="bm25", k=200).collect()}
            confirm = time.time() - t0
            assert got & urls, (probe, i, len(got))
            fresh.append(round(t_commit - t_drop + confirm, 3))
            confirms.append(round(confirm, 3))
        prog = [p if isinstance(p, dict) else json.loads(p)
                for p in q.recentProgress]
    finally:
        q.stop()
        shutil.rmtree(work, ignore_errors=True)
    epochs = [(p["numInputRows"], p["durationMs"]["triggerExecution"] / 1000.0)
              for p in prog if p.get("numInputRows", 0) > 0]
    fs = sorted(fresh)
    epoch_walls = sorted(w for _n, w in epochs)
    return {
        "batch_size": b,
        "freshness_runs": fresh,
        "freshness_p50": fs[len(fs) // 2],
        "freshness_p95": fs[min(len(fs) - 1, int(0.95 * len(fs)))],
        "confirm_query_walls": confirms,
        "epoch_append_walls": [round(w, 2) for _n, w in epochs],
        "epoch_wall_p50": round(epoch_walls[len(epoch_walls) // 2], 2)
        if epoch_walls else None,
        "append_docs_per_sec": round(
            sum(n for n, _w in epochs) / max(1e-9, sum(w for _n, w in epochs)), 1)
        if epochs else None,
    }


def main() -> None:
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import build_index
    from searchengines_spark.session import get_spark

    base_idx = sys.argv[1] if len(sys.argv) > 1 else ""
    sizes = [int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2
                              else ["250", "1000", "4000"])]
    spark = get_spark("freshness", cores=32, shuffle_partitions=32)

    if not base_idx or not os.path.exists(os.path.join(base_idx, "MANIFEST.json")):
        base_idx = base_idx or "/tmp/fresh_base_idx"
        if not os.path.exists(os.path.join(base_idx, "MANIFEST.json")):
            pages = generate_pages(spark, BASE_PAGES, seed=42, partitions=32)
            build_index(spark, pages, base_idx, n_salts=32)

    # one big deterministic corpus; the tail past the base's page count
    # supplies brand-new urls for every drop of every batch size.
    # left_anti, NOT a `url NOT IN (subquery)` filter: null-aware NOT IN
    # compiles to a nested-loop join (urls here are non-null, so anti-join
    # semantics are identical and it hash-joins).
    from searchengines_spark.index import IndexReader

    base_urls = IndexReader(spark, base_idx).docid_url_map().select("url")
    # need extra headroom: ~5% of generated pages are non-en and the index
    # only carries en docs, so (a) filter drops to lang='en' (append would
    # skip the rest and the commit poll would wait forever on docs that
    # can never arrive) and (b) over-generate so the en tail still covers
    # every drop. Sorted for a deterministic drop->rows mapping.
    need = int((BASE_PAGES + sum(sizes) * N_DROPS) * 1.2)
    tail = (generate_pages(spark, need, seed=42, partitions=64)
            .filter("lang = 'en'")
            .join(base_urls, "url", "left_anti")
            .orderBy("url"))
    rows = tail.collect()
    ok0, mops0 = host_healthy()
    res: dict = {"base_pages": BASE_PAGES, "n_drops": N_DROPS,
                 "canary_mops_start": mops0, "canary_healthy_start": ok0,
                 "per_batch_size": []}
    off = 0
    for b in sizes:
        res["per_batch_size"].append(
            run_batch_size(spark, base_idx, rows, b, off))
        off += b * N_DROPS
    ok1, mops1 = host_healthy()
    res["canary_mops_end"] = mops1
    res["canary_healthy_end"] = ok1
    print(json.dumps(res))


if __name__ == "__main__":
    main()
