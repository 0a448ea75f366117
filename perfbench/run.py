"""Engine benchmark: the serve and ingest workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 24 --trace 0

Runs one workload against the engine's public API on a local Spark session
as wide as the host (``local[nproc]``), from one process with one client,
checks every result against the single-node oracle, and prints two lines:
a full report (every metric by name with its unit, sample counts, host and
Spark facts) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives the
end-to-end metrics; ``--trace 1`` is the separate traced run that gives the
per-layer metrics (see README.md). Writes only under ``perfbench/.work``
(scratch, removed at exit), ``perfbench/.cache`` (the base index, built once
per version of the engine sources) and ``perfbench/out`` (reports and traces).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = BENCH / "out"

K = 100                  # top-k of every query
OP_TIMEOUT_S = 120.0     # an operation slower than this counts as failed
CYCLE_SECONDS = 8        # serve sends one cycle of the four classes per this

BUILD_STAGES = ("docids", "doc_terms", "stats", "spell_keys", "segments", "merge", "lineage")
APPEND_STAGES = ("docids", "tokenize", "stats_merge", "encode", "snapshot")
SELF_LAYERS = ("reader", "parser", "planner", "postings", "wand", "engine", "request")
# units of the end-to-end values the report carries beyond BENCHMARK.json's
REPORT_UNITS = {"query_p50_s": "s", "query_p90_s": "s", "bow_p50_s": "s",
                "structured_p50_s": "s", "positional_p50_s": "s", "indri_p50_s": "s",
                "serve_qps": "q/s", "build_docs_per_s": "docs/s",
                "append_visible_p50_s": "s", "compact_s": "s",
                "wrong_frac": "ratio", "failed_frac": "ratio"}


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


# -- host ---------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def canary_mops() -> float:
    """Single-core Python loop rate, the host-health canary (median of 3)."""
    rates = []
    for _ in range(3):
        t = now()
        s = 0
        for i in range(1_000_000):
            s += i
        rates.append(1.0 / (now() - t))
    return median(rates)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


# -- Spark lifetime -----------------------------------------------------------

def start_spark(work: Path, traced: bool):
    """Session pinned to the host width; every file Spark writes stays in
    the work dir. The event log is on in traced runs only."""
    from searchengines_spark.session import get_spark

    for d in ("spark-local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                     "spark.eventLog.compress": "false"})
    n = nproc()
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end
    (its Python workers are its children and end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- one run ------------------------------------------------------------------

class Run:
    """State shared by a workload: session, inputs, oracle, counters."""

    def __init__(self, args, t_start: float):
        import check
        import gen

        self.args, self.t_start = args, t_start
        self.inputs = gen.make_inputs(args.seed)
        self.selftest_errors = gen.self_test(args.seed)
        self.oracle = check.Oracle(gen.CORPUS_SEED, range(gen.BASE_DOCS))
        q = self.inputs.warmup[0]
        self.selftest_errors += check.self_test(self.oracle, q.text, q.model, dict(q.kw))
        self.work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.index_dir = str(self.work / "index")
        self.spark = self.tracer = self.final_reader = None
        self.bow_terms: list[list[str]] = []
        self.attempted = self.failed = self.checked = self.wrong = 0
        self.errors: list[str] = []
        self.report: dict = {}

    def start(self) -> None:
        self.spark = start_spark(self.work, bool(self.args.trace))
        if self.args.trace:
            import spans

            self.tracer = spans.Tracer(self.spark.sparkContext)
            self.tracer.install()

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext()
        self.tracer.request = attrs.get("request", name)
        return self.tracer.span(name, "request", **attrs)

    def op(self, name: str, fn, **attrs):
        """Run one timed operation: (seconds, result), or (seconds, None)
        when it raised or overran OP_TIMEOUT_S."""
        self.attempted += 1
        t = now()
        try:
            with self.span(name, **attrs):
                out = fn()
        except Exception as e:  # counted, reported, and the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return now() - t, None
        dt = now() - t
        if dt > OP_TIMEOUT_S:
            self.failed += 1
            self.errors.append(f"{name}: timed out ({dt:.1f} s)")
            return dt, None
        return dt, out

    def verify(self, what: str, got, want) -> None:
        import check

        self.checked += 1
        bad = check.mismatch(got, want)
        if bad is not None:
            self.wrong += 1
            self.errors.append(f"wrong: {what}: {bad}")

    def build(self) -> dict:
        """Bulk build of the base corpus into the run's index dir."""
        self.report["build"] = build_base(self.spark, self.index_dir)
        return self.report["build"]

    def open_base(self):
        """serve setup: copy the base index (prebuilt once per version of the
        engine sources, whose build the build layer's metrics then report),
        open a reader and fill its serve cache."""
        from searchengines_spark.index import build as build_mod

        src, self.report["build"] = base_index()
        shutil.copytree(src, self.index_dir)
        reader = build_mod.IndexReader(self.spark, self.index_dir)
        reader.serve_blocks()
        return reader


def build_base(spark, index_dir: str) -> dict:
    import gen
    from searchengines_spark import corpus
    from searchengines_spark.index import build as build_mod

    pages = corpus.generate_pages(spark, gen.BASE_DOCS, seed=gen.CORPUS_SEED, partitions=1)
    t = now()
    m = build_mod.build_index(spark, pages, index_dir, n_salts=gen.BUILD_SALTS)
    return {"wall_s": now() - t, "n_docs": m["n_docs"], "postings": m["postings"],
            "bytes_compressed": m["bytes_compressed"], "stage_secs": m["stage_secs"]}


def sources_digest() -> str:
    """sha256 over the engine package and the benchmark's own sources (which
    hold the build call and the input sizes): the key of the cached base
    index, so an index is only ever served by the code that built it."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "searchengines_spark").rglob("*.py")) + sorted(BENCH.glob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def base_index() -> tuple[str, dict]:
    """The base index serve starts from and its build metrics: built by a
    child process (a fresh JVM, so no run inherits its warm-up) once per
    sources digest and kept under perfbench/.cache; an index built by other
    sources is removed."""
    cache = BENCH / ".cache"
    done = cache / f"base-{sources_digest()}"
    metrics = done.with_suffix(".json")
    if not (done / "MANIFEST.json").exists():
        shutil.rmtree(cache, ignore_errors=True)
        tmp = cache / f"tmp-{os.getpid()}"
        subprocess.run([sys.executable, str(BENCH / "run.py"), "--build-base", str(tmp)],
                       check=True, stdout=subprocess.DEVNULL, timeout=600)
        os.replace(tmp / "build.json", metrics)
        os.replace(tmp / "index", done)
        shutil.rmtree(tmp, ignore_errors=True)
    return str(done), json.loads(metrics.read_text())


def index_bytes_per_posting(index_dir: str) -> float:
    with open(os.path.join(index_dir, "MANIFEST.json")) as f:
        m = json.load(f)
    return m["bytes_compressed"] / m["postings"]


def rows_of(df_rows) -> list[tuple[str, float]]:
    return [(r["url"], r["score"]) for r in df_rows]


def run_serve(run: Run) -> dict:
    """Closed loop, one client: the seeded stream one query at a time
    through Engine.search(k=100) on the unappended base index."""
    import gen
    from searchengines_spark.engine import Engine

    inp, args = run.inputs, run.args
    reader = run.open_base()
    eng = Engine(reader)
    # a bow and a positional query warm the session (JIT, Python workers,
    # the WAND and planner kernels); their terms are in no pool query, so
    # the pool's term memos stay empty
    for q in (inp.warmup[0], inp.warmup[2]):
        eng.search(q.text, q.model, K, **dict(q.kw)).collect()
    setup_s = now() - run.t_start

    # whole cycles of the four classes, one cycle per CYCLE_SECONDS of
    # --seconds, so every run measures the same class mix
    n = len(gen.CLASSES) * max(1, round(args.seconds / CYCLE_SECONDS))
    lat: list[tuple[str, float]] = []
    first: dict[tuple, tuple] = {}
    t_loop = now()
    for i, q in enumerate(inp.stream[:n]):
        dt, rows = run.op("request", lambda q=q: eng.search(
            q.text, q.model, K, **dict(q.kw)).collect(),
            request=f"q{i}", cls=q.cls, replay=q.key not in first)
        if rows is not None:
            lat.append((q.cls, dt))
            first.setdefault(q.key, (q, rows))
    loop_s = now() - t_loop

    for q, rows in first.values():
        run.verify(q.text, rows_of(rows), run.oracle.search(q.text, q.model, K, dict(q.kw)))
    times = [t for _, t in lat]
    by_cls = {c: [t for k, t in lat if k == c] for c in gen.CLASSES}
    run.report["serve"] = {"queries": len(times), "distinct": len(first), "loop_s": loop_s,
                           **{f"{c}_n": len(v) for c, v in by_cls.items()}}
    run.final_reader = reader
    run.bow_terms = [q.text.split() for q, _ in first.values() if q.cls == "bow"]
    # the geometric mean weighs every class alike: halving any one class's
    # latency moves it by the same share
    return {"setup_s": setup_s, "op_geomean_s": geomean(times),
            "index_bytes_per_posting": index_bytes_per_posting(run.index_dir),
            "query_p50_s": median(times),
            "query_p90_s": (statistics.quantiles(times, n=10)[-1] if len(times) >= 100 else None),
            **{f"{c}_p50_s": median(v) for c, v in by_cls.items()},
            "serve_qps": len(times) / loop_s}


def run_ingest(run: Run) -> dict:
    """The operator's bulk load: build_index of the base corpus, checked
    against the oracle's doc and posting counts. The traced run goes on with
    an append delta, a delete and a compact (see trace_tail)."""
    setup_s = now() - run.t_start
    dt, built = run.op("build", run.build, request="build")
    if built is None:
        raise RuntimeError("base build failed: " + run.errors[-1])
    want = run.oracle.counts()
    run.checked += 1
    if (built["n_docs"], built["postings"]) != want:
        run.wrong += 1
        run.errors.append(f"wrong: build (docs, postings) {built['n_docs'], built['postings']}"
                          f" != oracle {want}")
    run.report["ingest"] = ing = {"build_s": dt}
    e2e = {"setup_s": setup_s, "op_geomean_s": dt,
           "index_bytes_per_posting": built["bytes_compressed"] / built["postings"],
           "build_docs_per_s": built["n_docs"] / dt}
    if run.args.trace:
        trace_tail(run)
        run.bow_terms = [run.inputs.probes["bow"].split()]
        # one append delta, so its p50 is its one sample
        e2e.update(append_visible_p50_s=ing["append_visible_s"], compact_s=ing["compact_s"])
    return e2e


def write_then_probe(run: Run, written: dict, name: str, mutate, probe: str,
                     replay: bool = False):
    """One timed write: mutate, open a new reader and answer one probe
    query, so the time runs until the write is searchable. The reader
    becomes the run's final reader. Returns (seconds, ranking or None when
    it failed, probe query)."""
    from searchengines_spark.engine import Engine
    from searchengines_spark.index import build as build_mod

    text = run.inputs.probes[probe]

    def go():
        written[name] = mutate()
        run.final_reader = build_mod.IndexReader(run.spark, run.index_dir)
        return rows_of(Engine(run.final_reader).search(text, "bm25", K).collect())

    dt, ranking = run.op(name, go, request=name, replay=replay)
    return dt, ranking, text


def pages_frame(ids):
    """pandas frame of the given pages, in the pages schema."""
    import gen
    import pandas as pd
    from searchengines_spark import corpus

    pdf = pd.DataFrame([corpus.make_page(i, gen.CORPUS_SEED) for i in ids],
                       columns=["url", "warc_us", "html", "text", "lang"])
    pdf["warc_ts"] = pd.to_datetime(pdf.pop("warc_us"), unit="us")
    return pdf[[f.name for f in corpus.PAGES_SCHEMA]]


def trace_tail(run: Run) -> None:
    """Traced ingest only: an append delta, a delete and a compact, each
    followed by a new reader and a probe query and timed until the probe
    answers (time-to-searchable). The probe after the append must be
    rank-identical to the oracle over the docs indexed so far, the one after
    the delete return no tombstoned url, and the one after the compact be
    rank-identical over the live docs."""
    from searchengines_spark import corpus
    from searchengines_spark.index import incremental

    spark, orc, inp, ing = run.spark, run.oracle, run.inputs, run.report["ingest"]
    written: dict[str, dict] = {}

    df = spark.createDataFrame(pages_frame(inp.delta), schema=corpus.PAGES_SCHEMA)
    ing["append_visible_s"], ranking, text = write_then_probe(
        run, written, "append", lambda: incremental.append_pages(spark, run.index_dir, df),
        "bow")
    orc.add(inp.delta)
    if ranking is not None:
        run.verify("append probe", ranking, orc.search(text, "bm25", K, {}))
    app = written.get("append") or {}
    ing.update(delta_docs=len(inp.delta), append_s=app.get("secs"),
               append_stage_secs=app.get("stage_secs", {}))

    urls = [orc.url(i) for i in inp.delete_ids]
    udf = spark.createDataFrame([(u,) for u in urls], ["url"])
    ing["delete_visible_s"], ranking, _ = write_then_probe(
        run, written, "delete", lambda: incremental.delete_pages(spark, run.index_dir, udf),
        "positional")
    orc.remove(inp.delete_ids)
    if ranking is not None:
        run.checked += 1
        back = sorted({u for u, _ in ranking} & set(urls))
        if back:
            run.wrong += 1
            run.errors.append(f"wrong: delete probe returned tombstoned urls {back}")

    # the index is not rewritten after this probe, so its decode calls can
    # be replayed to count rows
    ing["compact_visible_s"], ranking, text = write_then_probe(
        run, written, "compact", lambda: incremental.compact(spark, run.index_dir),
        "structured", replay=True)
    if ranking is not None:
        run.verify("compact probe", ranking, orc.search(text, "bm25", K, {}))
    ing["compact_s"] = (written.get("compact") or {}).get("secs")
    ing["live_docs"] = len(orc.docs)


WORKLOADS = {"serve": run_serve, "ingest": run_ingest}


# -- traced-run layer metrics -------------------------------------------------

def layer_metrics(run: Run, host: dict) -> dict:
    """Per-layer numbers of a traced run, from its spans, the StatusTracker
    counts recorded on them, the event log and a few post-run probes."""
    from searchengines_spark.corpus import VOCAB
    from searchengines_spark.index import codec
    from searchengines_spark.query.wand import wand_topk

    t = run.tracer
    spans = [s for s in t.spans if "end" in s]
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    out: dict[str, float] = {
        "host.canary_mops": host["canary_mops_end"],
        "host.steal_pct": host["steal_pct"],
    }
    # Spark work per operation: jobs/tasks of all spans of each request
    req = [s for s in spans if s["layer"] == "request"]
    per_req = {s["request"]: [0, 0] for s in req}
    for s in spans:
        if s.get("request") in per_req:
            per_req[s["request"]][0] += s["jobs"]
            per_req[s["request"]][1] += s["tasks"]
    out["spark.jobs_per_op"] = median([v[0] for v in per_req.values()])
    out["spark.tasks_per_op"] = median([v[1] for v in per_req.values()])
    out["spark.failed_tasks"] = sum(s["failed_tasks"] for s in spans)

    # serve reports the one build per checkout of the base index it copies;
    # incremental work only in ingest: on serve it is idle and reads 0
    # (rates and shares, never a made-up time)
    b = run.report["build"]
    out["build.docs_per_s"] = b["n_docs"] / b["wall_s"]
    out["build.postings_per_s"] = b["postings"] / b["wall_s"]
    for s in BUILD_STAGES:
        out[f"build.{s}_share"] = b["stage_secs"].get(s, 0.0) / b["wall_s"]
    ing = run.report.get("ingest", {})
    app, dels, cmp_ = named("append_pages"), named("delete_pages"), named("compact")
    out["incremental.append_docs_per_s"] = (
        ing["delta_docs"] / sum(map(dur, app)) if app else 0.0)
    out["incremental.delete_urls_per_s"] = (
        len(run.inputs.delete_ids) / sum(map(dur, dels)) if dels else 0.0)
    out["incremental.compact_docs_per_s"] = (
        ing["live_docs"] / sum(map(dur, cmp_)) if cmp_ else 0.0)
    stages = ing.get("append_stage_secs", {})
    for s in APPEND_STAGES:
        out[f"incremental.append_{s}_share"] = (
            stages.get(s, 0.0) / ing["append_s"] if stages else 0.0)

    out["reader.open_s"] = median([dur(s) for s in named("IndexReader.__init__")])
    out["reader.serve_blocks_fill_s"] = median(
        [dur(s) for s in named("IndexReader.serve_blocks") if s["jobs"]])
    memo = {}
    for n in ("IndexReader.term_stats", "IndexReader.cold_blocks"):
        ss = named(n)
        memo[n] = ss
        out[f"reader.{n.split('.')[1]}_first_s"] = median([dur(s) for s in ss if s["jobs"]])
    lookups = memo["IndexReader.term_stats"] + memo["IndexReader.cold_blocks"]
    out["reader.memo_hit_ratio"] = (
        sum(1 for s in lookups if not s["jobs"]) / len(lookups) if lookups else 0.0)

    out["parser.parse_s"] = median([dur(s) for s in named("QueryParser.parse")])
    out["planner.plan_s"] = median([dur(s) for s in named("Planner.plan")])
    out["engine.call_s"] = median([dur(s) for s in named("Engine.search")])
    selfs = t.self_times()
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = selfs.get(layer, {}).get("self_s", 0.0)
    t.uninstall()

    # post-run probes on the final reader (untraced): rows the postings
    # layer decodes for the workload's decode calls, the WAND stripe job of
    # the bow queries alone (no url resolution), and a fixed-sample codec
    # decode rate
    reader = run.final_reader
    if reader is None:  # the write that would have opened it failed
        from searchengines_spark.index.build import IndexReader

        reader = IndexReader(run.spark, run.index_dir)
    rows = 0
    for fn, a, kw in t.replays[:8]:
        rows += fn(*a, **kw).count()
    out["postings.rows_decoded"] = rows
    jobs = []
    for terms in run.bow_terms[:4]:
        s = now()
        wand_topk(reader, terms, field="body", k=K, debug=True).collect()
        jobs.append(now() - s)
    out["wand.stripe_job_s"] = median(jobs)
    blocks = reader.blocks_for([("body", VOCAB[r]) for r in range(1, 120, 3)]).select(
        "n", "docids_z", "tfs_z").collect()
    n_post, reps, s = sum(r["n"] for r in blocks), 0, now()
    while reps < 3 or now() - s < 0.3:
        for r in blocks:
            codec.decode_block(bytes(r["docids_z"]), bytes(r["tfs_z"]), reader.payload_codec)
        reps += 1
    out["codec.decode_postings_per_s"] = n_post * reps / (now() - s)
    out["codec.bytes_per_posting"] = index_bytes_per_posting(reader.index_dir)
    run.report["layers"] = selfs
    run.layer_spans = spans
    return out


# -- entry --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-base", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.build_base and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    sys.path[:0] = [str(ROOT), str(BENCH)]
    try:
        import searchengines_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.build_base:
        work = Path(args.build_base)
        spark = start_spark(work / "work", traced=False)
        try:
            m = build_base(spark, str(work / "index"))
        finally:
            stop_spark(spark)
        (work / "build.json").write_text(json.dumps(m))
        return 0
    if args.workload != "ingest":
        base_index()  # once per checkout, before the run's clock starts

    t_start = now()
    host = {"nproc": nproc(), "canary_mops_start": canary_mops()}
    cpu0 = cpu_times()
    run = Run(args, t_start)
    try:
        run.start()
        metrics = WORKLOADS[args.workload](run)
        run.report["end_to_end"] = metrics
        host["canary_mops_end"] = canary_mops()
        host["steal_pct"] = steal_pct(cpu0, cpu_times())
        host["degraded"] = (host["canary_mops_end"] < 0.75 * host["canary_mops_start"]
                            or host["steal_pct"] > 5.0)
        if args.trace:
            metrics = layer_metrics(run, host)
        host["spark_version"] = run.spark.version
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
    if args.trace:
        import spans

        ev = spans.event_log_metrics(str(run.work / "eventlog"), run.layer_spans)
        metrics["spark.executor_run_s"] = ev["total"]["run_s"]
        metrics["spark.gc_s"] = ev["total"]["gc_s"]
        metrics["spark.shuffle_bytes"] = (ev["total"]["shuffle_read_bytes"]
                                          + ev["total"]["shuffle_write_bytes"])
        run.report["event_log"] = ev
    shutil.rmtree(run.work, ignore_errors=True)

    # metric names and units come from BENCHMARK.json: end-to-end for an
    # untraced run, per-layer for a traced one
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    e2e = {**run.report.pop("end_to_end"), "wrong_frac": run.wrong / max(1, run.checked),
           "failed_frac": run.failed / max(1, run.attempted)}
    e2e_units = {**REPORT_UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"]}}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "checked": run.checked,
        "selftest_errors": run.selftest_errors, "errors": run.errors[:20],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        # every end-to-end value of this workload, BENCHMARK.json's and the
        # report-only ones, each with its unit
        "end_to_end": {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()},
        **run.report,
    }
    OUT.mkdir(exist_ok=True)
    stem = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        # tracing overhead: (traced - untraced) / untraced per end-to-end
        # metric, against the untraced run of the same workload and seed
        base = OUT / f"{args.workload}-seed{args.seed}-trace0.json"
        if base.exists():
            report["trace_overhead"] = {
                k: (e2e[k] - m["value"]) / m["value"]
                for k, m in json.loads(base.read_text())["metrics"].items()
                if k in e2e and m["value"]}
        run.tracer.dump(f"{stem}.spans.json", {"report": report})
    Path(f"{stem}.json").write_text(json.dumps(report, indent=1, default=str))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not run.selftest_errors and run.wrong == 0 and run.checked > 0,
        "attempted": run.attempted, "failed": run.failed,
        "metrics": report["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
