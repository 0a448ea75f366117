"""Serve-latency anatomy: decompose one BM25 top-k query's wall clock at
two corpus sizes (200k / 1M pages by default) into (a) bounded metadata
lookups, (b) the distributed stripe kernel, (c) the full Engine.search
path, and (d) the bare Spark job-scheduling floor for a same-shape no-op
job. Results + methodology: BENCH/SERVE_ANATOMY.md.

Usage: python tools/serve_anatomy.py [n_pages ...]   (default: 200000 1000000)
Prints one JSON line. Host canary (pure-Python loop Mops) bookends the run —
compare across runs only when both ends are healthy (BENCH/BASELINE.md).
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

TERMS = ["cebaba1", "dibaba2", "fobaba3", "gubaba4"]


from hostcheck import loop_rate  # noqa: E402


def main() -> None:
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import IndexReader, build_index
    from searchengines_spark.query.wand import wand_topk
    from searchengines_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [200_000, 1_000_000]
    spark = get_spark("anatomy", cores=32, shuffle_partitions=32)
    res: dict = {"host_loop_mops_start": loop_rate()}

    def noop_floor(n_tasks: int) -> float:
        df = (spark.range(n_tasks).select(F.col("id").alias("salt"))
              .repartition(n_tasks, "salt").groupBy("salt")
              .applyInPandas(lambda pdf: pdf, "salt long"))
        t0 = time.time()
        df.collect()
        return round(time.time() - t0, 3)

    for n_pages in sizes:
        label = f"{n_pages}"
        d = tempfile.mkdtemp(prefix=f"anat_{label}_")
        pp = os.path.join(d, "pages")
        generate_pages(spark, n_pages, seed=42,
                       partitions=max(32, n_pages // 5000)).write.parquet(pp)
        idx = os.path.join(d, "idx")
        build_index(spark, spark.read.parquet(pp), idx, n_salts=32)
        reader = IndexReader(spark, idx)
        eng = Engine(reader)
        # session warm-up (per-deployment cost, untimed)
        eng.search("hobaba7 jibaba8", model="bm25", k=10).collect()

        r: dict = {}
        pairs = sorted({("body", t) for t in TERMS})
        t0 = time.time()
        reader.term_stats(pairs)
        r["term_stats"] = round(time.time() - t0, 3)
        t0 = time.time()
        cold = reader.cold_blocks(pairs)
        r["cold_blocks"] = round(time.time() - t0, 3)
        r["n_cold_blocks"] = sum(len(v) for v in cold.values())
        # kernel only: stripe job without url join / global merge
        t0 = time.time()
        loc = wand_topk(reader, TERMS, k=100, debug=True).collect()
        r["stripe_kernel_job"] = round(time.time() - t0, 3)
        r["decodes"] = int(sum(x["decodes"] for x in loc))
        for i in (1, 2):  # full path twice (2nd shows plan-cache assist)
            t0 = time.time()
            eng.search(" ".join(TERMS), model="bm25", k=100).collect()
            r[f"full_query_run{i}"] = round(time.time() - t0, 3)
        r["noop_32task_job"] = noop_floor(32)
        res[label] = r
    res["host_loop_mops_end"] = loop_rate()
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
