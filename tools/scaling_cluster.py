"""Multi-executor deployment + scaling study: the index build submitted with
``spark-submit --py-files engine.zip`` against Spark's local-cluster master
— separate executor JVMs, real inter-process shuffle, the engine shipped as
a zip. This is the north rule's literal deployment shape, vs a local[K]
thread proxy.

local-cluster[E, C, M] launches E CoarseGrainedExecutorBackend child JVMs
with C cores and M MB each; tasks shuffle between processes exactly as on a
multi-node cluster (minus the network). Affinity is inherited by child
processes, so taskset on spark-submit pins the whole tree.

The curated study (executor-count overhead at fixed CPU budget + N->4N
pairs with per-run steal) lives in BENCH/SCALING_EXECUTORS.md and was
assembled from `_submit_build` runs; `main()` below reproduces the default
2-vs-8-executor pair measurement end-to-end and prints JSON (it does NOT
overwrite the curated md — redirect its findings there by hand after
checking the steal column; single runs on this sandbox are a lottery).

Usage: python tools/scaling_cluster.py [n_pages]   (default 100_000)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hostcheck import calibrate_tokenize, steal_jiffies  # noqa: E402  (same-dir import)

CORES_PER_EXEC = 4
EXEC_MEM_MB = 3072

# the same session tuning session.get_spark applies — submit_job builds a
# plain SparkSession, so these must come in via spark-submit --conf
CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # mirror session.get_spark's byte-bounding default (see session.py)
    "spark.sql.execution.arrow.maxRecordsPerBatch":
        os.environ.get("SPARK_GRAFT_ARROW_ROWS", "8192"),
    "spark.driver.memory": "6g",
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
    "spark.hadoop.parquet.block.size": str(32 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.host": "127.0.0.1",
}


def _zip_engine(tmp: str) -> str:
    zpath = os.path.join(tmp, "engine.zip")
    subprocess.run(["zip", "-qr", zpath, "searchengines_spark"],
                   cwd=REPO, check=True)
    return zpath


def _gen_pages(tmp: str, n_pages: int) -> str:
    from searchengines_spark.corpus import generate_pages
    from searchengines_spark.session import get_spark

    path = os.path.join(tmp, "pages_parquet")
    spark = get_spark("gen", cores=32)
    generate_pages(spark, n_pages, seed=42,
                   partitions=max(32, n_pages // 5000)).write.parquet(path)
    spark.stop()
    return path


def _submit_build(execs: int, zpath: str, pages: str, idx: str,
                  cpu_range: str) -> dict:
    cmd = ["taskset", "-c", cpu_range, "spark-submit",
           "--master", f"local-cluster[{execs},{CORES_PER_EXEC},{EXEC_MEM_MB}]",
           "--py-files", zpath]
    for k, v in CONF.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += [os.path.join(REPO, "tools", "submit_job.py"),
            "build", "--pages", pages, "--index-dir", idx, "--n-salts", "32"]
    s0, t0 = steal_jiffies()
    wall0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=3600,
                       cwd=REPO)
    wall = time.time() - wall0
    s1, t1 = steal_jiffies()
    lines = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"submit failed (rc={p.returncode}):\n"
                           f"{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["submit_wall_sec"] = round(wall, 1)
    out["steal_pct"] = round(100.0 * (s1 - s0) / max(1, (t1 - t0)), 1)
    return out


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    lo_exec, hi_exec = 2, 8
    lo_cpus, hi_cpus = lo_exec * CORES_PER_EXEC, hi_exec * CORES_PER_EXEC

    tmp = tempfile.mkdtemp(prefix="sclust_")
    zpath = _zip_engine(tmp)
    pages = _gen_pages(tmp, n_pages)

    # no-Spark hardware-ceiling calibration (hostcheck): the
    # box's own 8->32-process efficiency for the engine's kernel mix
    eff_tok = (calibrate_tokenize(hi_cpus, set(range(hi_cpus)))
               / (4.0 * calibrate_tokenize(lo_cpus, set(range(lo_cpus)))))

    def best(execs: int, cpus: int, tag: str) -> dict:
        runs = []
        for r in range(2):  # best-of-2: this sandbox swings multi-x run-to-run
            idx = os.path.join(tmp, f"idx_{tag}_{r}")
            runs.append(_submit_build(execs, zpath, pages, idx, f"0-{cpus - 1}"))
        b = max(runs, key=lambda x: x["docs_per_sec"])
        b["all_docs_per_sec"] = [round(x["docs_per_sec"], 1) for x in runs]
        return b

    r_lo = best(lo_exec, lo_cpus, "lo")
    r_hi = best(hi_exec, hi_cpus, "hi")
    tp_lo, tp_hi = r_lo["docs_per_sec"], r_hi["docs_per_sec"]
    eff = tp_hi / (4.0 * tp_lo)
    norm = eff / eff_tok if eff_tok else float("nan")

    print(json.dumps({"eff": eff, "eff_tok_ceiling": eff_tok,
                      "normalized": norm, "tp_lo": tp_lo, "tp_hi": tp_hi,
                      "runs_lo": r_lo["all_docs_per_sec"],
                      "runs_hi": r_hi["all_docs_per_sec"],
                      "steal_lo": r_lo["steal_pct"],
                      "steal_hi": r_hi["steal_pct"]}))


if __name__ == "__main__":
    main()
