"""Anchor refresh at scale: cost ~ O(changed slice) + fixed (VERDICT r4 #6).

LIFECYCLE.md and the per-round bench only measure `refresh_anchors` at
20k pages / ~300 changed docs, where the ~20 s wall is almost entirely
the append path's fixed ~10-job overhead. This study runs the SAME delta
shape on a 1M-page anchor-built index with changed slices spanning three
decades (~0.1%, ~2%, ~10% of urls) plus a ZERO-changed refresh — the
pure fixed cost: diff runs, finds nothing, no re-index happens.

Expected shape if the delta path is O(changed)+fixed: wall(0) is the
diff + plan overhead; wall(slice) - wall(0) grows ~linearly in the
changed-doc count (each changed target re-tokenizes + re-encodes its own
postings only; the unchanged corpus is never touched).

Each refresh round appends a delta segment (that IS the production
shape: refresh cycles accumulate segments until compact()); rounds use
DISTINCT fresh-anchor tokens so every round genuinely changes its slice.

Usage: python tools/anchor_refresh_scale.py [n_pages] [index_dir]
Prints one JSON line; findings go to BENCH/LIFECYCLE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hostcheck import host_healthy  # noqa: E402

N_PAGES_DEFAULT = 1_000_000
# pmod(xxhash64(url), M) == 0 selects ~1/M of the anchor table
SLICES = (1000, 50, 10)  # ~0.1%, ~2%, ~10%


def main() -> None:
    from pyspark.sql import functions as F

    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import build_index
    from searchengines_spark.index.incremental import refresh_anchors
    from searchengines_spark.links import anchor_texts_from_pages
    from searchengines_spark.session import get_spark

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else N_PAGES_DEFAULT
    idx = (sys.argv[2] if len(sys.argv) > 2
           else f"/tmp/anchor_scale_idx_{n_pages}")
    spark = get_spark("anchor-scale", cores=32, shuffle_partitions=32)

    ok0, mops0 = host_healthy()
    res: dict = {"n_pages": n_pages, "canary_mops_start": mops0,
                 "canary_healthy_start": ok0}

    pages_path = idx + "_pages"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        generate_pages(spark, n_pages, seed=42,
                       partitions=max(32, n_pages // 5000),
                       link_fanout=3).write.mode("overwrite").parquet(pages_path)
    apages = spark.read.parquet(pages_path)

    anc_path = idx + "_anchors"
    if not os.path.exists(os.path.join(anc_path, "_SUCCESS")):
        t0 = time.time()
        anchor_texts_from_pages(apages).write.mode("overwrite").parquet(anc_path)
        res["anchor_aggregate_sec"] = round(time.time() - t0, 1)
    anc = spark.read.parquet(anc_path)

    if not os.path.exists(os.path.join(idx, "MANIFEST.json")):
        t0 = time.time()
        build_index(spark, apages, idx, n_salts=32, anchors=anc)
        res["anchor_build_sec"] = round(time.time() - t0, 1)

    rounds = []
    # zero-changed refresh first: the pure fixed cost (diff + nothing)
    t0 = time.time()
    m0 = refresh_anchors(spark, idx, apages, anc.limit(0), delta=True)
    rounds.append({"slice": "zero", "refreshed": m0.get("refreshed", 0),
                   "wall_sec": round(time.time() - t0, 2)})
    for i, mod in enumerate(SLICES):
        delta = (anc.filter(F.pmod(F.xxhash64("url"), F.lit(mod)) == 0)
                 .withColumn("inlink", F.concat(
                     "inlink", F.lit(f" freshanchor{i}"))))
        t0 = time.time()
        m = refresh_anchors(spark, idx, apages, delta, delta=True)
        rounds.append({"slice": f"1/{mod}", "refreshed": m.get("refreshed", 0),
                       "wall_sec": round(time.time() - t0, 2)})
    res["rounds"] = rounds
    fixed = rounds[0]["wall_sec"]
    for r in rounds[1:]:
        if r["refreshed"]:
            r["marginal_ms_per_doc"] = round(
                1000.0 * (r["wall_sec"] - fixed) / r["refreshed"], 2)
    ok1, mops1 = host_healthy()
    res["canary_mops_end"] = mops1
    res["canary_healthy_end"] = ok1
    print(json.dumps(res))


if __name__ == "__main__":
    main()
