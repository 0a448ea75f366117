"""s vs kstem tokenize-cost study: same corpus, same session, interleaved.

The stemmer runs once per DISTINCT raw token inside the Arrow tokenize
kernel (corpus.pages_to_tokenized interns raw tokens before stemming), so
the expected cost delta is small even though kstem does more string work
per call. This measures it instead of asserting it: N builds per stemmer,
interleaved s/kstem to decorrelate host drift, canary + steal recorded
(BENCH/BASELINE.md discipline). Only doc_terms (the tokenize stage) can
differ; total build wall is reported for context.

Usage: python tools/stemmer_bench.py  [N_PAGES=20000 RUNS=2 via env]
Prints one compact JSON line last (detail to BENCH/stemmer_detail.json).
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(os.environ.get("N_PAGES", "20000"))
RUNS = int(os.environ.get("RUNS", "2"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


from hostcheck import cpu_stat, loop_rate  # noqa: E402


def main() -> None:
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.index import build_index
    from searchengines_spark.session import get_spark

    spark = get_spark("stemmer-bench", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    work = tempfile.mkdtemp(prefix="stembench_")
    out = {"n_pages": N_PAGES, "runs": RUNS, "cpus": CPUS,
           "canary_mops_start": loop_rate()}
    stat0 = cpu_stat()
    try:
        pages_dir = os.path.join(work, "pages")
        # materialize once so every build scans identical parquet bytes
        generate_pages(spark, N_PAGES, seed=42, partitions=CPUS * 2
                       ).write.parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)

        runs: list[dict] = []
        for i in range(RUNS):
            for stem in ("s", "kstem"):  # interleaved: drift hits both
                d = os.path.join(work, f"idx_{stem}_{i}")
                m = build_index(spark, pages, d, n_salts=8, stemmer=stem)
                runs.append({"stemmer": stem, "run": i,
                             "doc_terms_sec": m["stage_secs"]["doc_terms"],
                             "build_sec": round(m["build_secs"], 2),
                             "postings": m["postings"]})
                shutil.rmtree(d)
        out["runs_detail"] = runs
        for stem in ("s", "kstem"):
            xs = [r["doc_terms_sec"] for r in runs if r["stemmer"] == stem]
            out[f"doc_terms_{stem}"] = xs
            out[f"doc_terms_{stem}_min"] = min(xs)
            out[f"postings_{stem}"] = next(
                r["postings"] for r in runs if r["stemmer"] == stem)
        out["kstem_over_s_min_ratio"] = round(
            out["doc_terms_kstem_min"] / max(1e-9, out["doc_terms_s_min"]), 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    stat1 = cpu_stat()
    d = [y - x for x, y in zip(stat0, stat1)]
    out["host_steal_pct"] = round(100.0 * d[7] / max(1, sum(d)), 2)
    out["canary_mops_end"] = loop_rate()

    detail = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "stemmer_detail.json")
    with open(detail, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
    print(json.dumps({k: v for k, v in out.items() if k != "runs_detail"},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
