"""Product-quantization (PQ) vector compression + ADC search, and the
IVF-PQ composition — the canonical 100 TB similarity-search layout
(Jegou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
Search"; the FAISS IVFPQ index shape).

The reference engine has no vector search; this extends the
training-data-pipeline layer beyond the exact top-k scan
(ann.exact_topk_local) and the coarse-only IVF (ann.py):

- **train**: split the D-dim space into ``m`` subspaces of D/m dims and run
  k-means per subspace on a bounded deterministic SAMPLE collected to the
  driver (FAISS-style: PQ codebooks train on ~10^5 vectors regardless of
  corpus size — training is O(sample), never O(corpus));
- **encode**: each vector compresses to ``m`` uint8 codes (argmin subspace
  L2), one mapInPandas pass, output a ``binary`` column of m bytes — a
  64-dim float32 vector (256 B) becomes 8 B at m=8, so a 100 TB embedding
  column scans as ~3 TB of codes;
- **search (ADC)**: per query build an (m, k) lookup table of
  subspace-centroid dot products; a candidate's approximate inner product
  is m table gathers + a sum — vectorized numpy over each Arrow batch,
  per-batch partial top-k so the shuffle carries O(batches * k) rows;
- **refine**: exact-cosine re-rank of the ADC top-R shortlist against the
  ORIGINAL vectors (candidate-sized broadcast join — R rows), the standard
  two-stage recall recovery;
- **IVF-PQ**: codes written physically partitioned by the coarse cell
  (ann.train_ivf quantizer) so a probe prunes directories AND scans only
  compressed codes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann import _to_matrix, probe_cells


def _unit_rows(M: np.ndarray) -> np.ndarray:
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    return M / nrm


def _lloyd(X: np.ndarray, k: int, rng: np.random.Generator,
           max_iter: int = 25) -> np.ndarray:
    """Deterministic Lloyd k-means with k-means++ init; empty clusters
    reseed to the current farthest point. Driver-side by design — PQ
    codebooks train on a bounded sample (see train_pq)."""
    n = len(X)
    if n <= k:
        cents = np.zeros((k, X.shape[1]))
        cents[:n] = X
        return cents
    # k-means++ seeding
    cents = np.empty((k, X.shape[1]))
    cents[0] = X[int(rng.integers(n))]
    d2 = np.sum((X - cents[0]) ** 2, axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            cents[j:] = X[int(rng.integers(n))]
            break
        cents[j] = X[int(rng.choice(n, p=d2 / tot))]
        d2 = np.minimum(d2, np.sum((X - cents[j]) ** 2, axis=1))
    for _ in range(max_iter):
        # assign: argmin ||x - c||^2 = argmin |c|^2 - 2 x.c
        dots = X @ cents.T
        assign = np.argmin(np.sum(cents ** 2, axis=1)[None, :] - 2 * dots, axis=1)
        new = np.zeros_like(cents)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        np.add.at(new, assign, X)
        nonempty = counts > 0
        new[nonempty] /= counts[nonempty, None]
        if (~nonempty).any():
            # farthest points (from their assigned center) reseed empties
            far = np.argsort(-np.sum((X - new[assign]) ** 2, axis=1))
            for slot, idx in zip(np.flatnonzero(~nonempty), far):
                new[slot] = X[idx]
        if np.allclose(new, cents):
            cents = new
            break
        cents = new
    return cents


def train_pq(emb: DataFrame, m: int = 8, k: int = 16, seed: int = 7,
             max_iter: int = 25, sample_cap: int = 65536) -> np.ndarray:
    """Train per-subspace codebooks -> (m, k, D/m). Vectors are L2-normalized
    before splitting so ADC inner products approximate cosine. The training
    sample is the first ``sample_cap`` vec_ids (deterministic; at crawl
    scale swap in a hash-sampled `.filter(xxhash64(vec_id) % s == 0)` —
    either way the driver holds O(sample), never O(corpus))."""
    rows = (emb.select("vec_id", "embedding").orderBy("vec_id")
            .limit(sample_cap).collect())
    X = _unit_rows(np.vstack([np.asarray(r["embedding"], dtype=np.float64)
                              for r in rows]))
    D = X.shape[1]
    if D % m:
        raise ValueError(f"dim {D} not divisible by m={m}")
    d = D // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, k, d))
    for j in range(m):
        books[j] = _lloyd(X[:, j * d:(j + 1) * d], k, rng, max_iter)
    return books


def pq_encode(emb: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """-> (vec_id [, cell], code: binary[m]). One mapInPandas pass; the
    codebook tensor broadcasts (m*k*d floats — KBs). Keeps a ``cell``
    column if present so IVF-PQ layouts pass through."""
    spark = emb.sparkSession
    b = spark.sparkContext.broadcast(codebooks)
    keep = [c for c in ("vec_id", "cell") if c in emb.columns]
    schema = T.StructType(
        [emb.schema[c] for c in keep] + [T.StructField("code", T.BinaryType(), False)])

    def kernel(batches):
        books = b.value
        m, k, d = books.shape
        # per-subspace |c|^2 for the argmin-by-dot trick
        c2 = np.sum(books ** 2, axis=2)  # (m, k)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(_to_matrix(pdf["embedding"]))
            codes = np.empty((len(X), m), dtype=np.uint8)
            for j in range(m):
                sub = X[:, j * d:(j + 1) * d]
                codes[:, j] = np.argmin(c2[j][None, :] - 2 * (sub @ books[j].T),
                                        axis=1)
            out = pdf[keep].copy()
            out["code"] = [c.tobytes() for c in codes]
            yield out

    return emb.mapInPandas(kernel, schema)


def adc_lut(codebooks: np.ndarray, qv: np.ndarray) -> np.ndarray:
    """(m, k) table: LUT[j][c] = dot(q_subspace_j, codebook_j[c]) for a
    unit-normalized query — sum over j approximates cosine(q, x)."""
    m, k, d = codebooks.shape
    q = np.asarray(qv, dtype=np.float64)
    nq = np.linalg.norm(q)
    q = q / nq if nq else q
    return np.einsum("mkd,md->mk", codebooks, q.reshape(m, d))


def pq_topk_batch(codes: DataFrame, codebooks: np.ndarray,
                  queries: dict[str, np.ndarray], k: int = 10,
                  refine: int = 0, emb: DataFrame | None = None,
                  probes: dict[str, list[int]] | None = None,
                  exclude_vec_id: int | None = None) -> DataFrame:
    """Multi-query ADC search over PQ codes -> (qid, vec_id, score, rank).

    With ``refine > 0`` (requires ``emb``), the ADC pass returns a top-
    ``refine`` shortlist per query and the original vectors re-rank it by
    exact cosine (score column = exact cos); the shortlist join is
    candidate-sized (R rows per query, broadcast). With ``probes`` (IVF-PQ),
    each query scans only its probed cells and the cell filter prunes
    partition directories."""
    spark = codes.sparkSession
    qids = sorted(queries)
    luts = np.stack([adc_lut(codebooks, queries[q]) for q in qids])  # (Q, m, k)
    r = max(k, refine)
    b = spark.sparkContext.broadcast((qids, luts, probes, r))

    cand = codes
    if probes is not None:
        all_cells = sorted({c for p in probes.values() for c in p})
        cand = cand.filter(F.col("cell").isin(all_cells))
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)

    schema = T.StructType([
        T.StructField("qid", T.StringType(), False),
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ])
    has_cell = "cell" in codes.columns

    def kernel(batches):
        qids_, luts_, probes_, r_ = b.value
        n_q, m, _k = luts_.shape
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8)
            C = C.reshape(len(pdf), m)
            vids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy() if (probes_ is not None and has_cell) else None
            out_q, out_v, out_s = [], [], []
            for qi, qid in enumerate(qids_):
                if cells is not None:
                    mask = np.isin(cells, probes_[qid])
                    if not mask.any():
                        continue
                    Cm, vm = C[mask], vids[mask]
                else:
                    Cm, vm = C, vids
                # ADC: m LUT gathers + row sum
                s = np.zeros(len(Cm))
                for j in range(m):
                    s += luts_[qi, j][Cm[:, j]]
                top = np.argsort(-s)[:r_]  # per-batch partial top-R
                out_q.extend([qid] * len(top))
                out_v.extend(vm[top].tolist())
                out_s.extend(s[top].tolist())
            if out_q:
                yield pd.DataFrame({"qid": out_q, "vec_id": out_v, "score": out_s})

    scored = cand.mapInPandas(kernel, schema)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= r))
    if not refine or emb is None:
        return shortlist.filter(F.col("rank") <= k)

    # exact-cosine re-rank of the R-row shortlist against original vectors
    qmat = {q: np.asarray(queries[q], dtype=np.float64) for q in qids}
    bq = spark.sparkContext.broadcast(qmat)
    pairs = emb.join(F.broadcast(shortlist.select("qid", "vec_id")), "vec_id")
    ex_schema = T.StructType([
        T.StructField("qid", T.StringType(), False),
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ])

    def exact_kernel(batches):
        qn = {q: v / (np.linalg.norm(v) or 1.0) for q, v in bq.value.items()}
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(_to_matrix(pdf["embedding"]))
            Q = np.vstack([qn[q] for q in pdf["qid"]])
            yield pd.DataFrame({
                "qid": pdf["qid"], "vec_id": pdf["vec_id"],
                "score": np.einsum("ij,ij->i", X, Q),
            })

    exact = pairs.select("qid", "vec_id", "embedding").mapInPandas(
        exact_kernel, ex_schema)
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def pq_topk(codes: DataFrame, codebooks: np.ndarray, qv: np.ndarray,
            k: int = 10, refine: int = 0, emb: DataFrame | None = None,
            exclude_vec_id: int | None = None) -> DataFrame:
    """Single-query ADC search -> (vec_id, score) top-k."""
    out = pq_topk_batch(codes, codebooks, {"q": np.asarray(qv)}, k=k,
                        refine=refine, emb=emb, exclude_vec_id=exclude_vec_id)
    return out.orderBy("rank").select("vec_id", "score")


# ----------------------------------------------------------------- IVF-PQ
def write_ivfpq(emb: DataFrame, centroids: np.ndarray,
                codebooks: np.ndarray, path: str) -> None:
    """Materialize codes physically partitioned by coarse cell (one
    directory per cell — probes prune at the directory level AND scan only
    m-byte codes); centroids + codebooks persist as tiny parquet sidecars."""
    from .ann import assign_cells

    spark = emb.sparkSession
    (pq_encode(assign_cells(emb, centroids), codebooks)
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        ["cell", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(path + "_centroids")
    m, k, d = codebooks.shape
    spark.createDataFrame(
        [(j, c, [float(x) for x in codebooks[j, c]])
         for j in range(m) for c in range(k)],
        ["sub", "codeword", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(path + "_codebooks")


def read_ivfpq(spark, path: str) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """-> (cell-partitioned codes frame, coarse centroids, codebooks)."""
    codes = spark.read.parquet(path)
    crows = spark.read.parquet(path + "_centroids").collect()
    dim = len(crows[0]["centroid"])
    cents = np.zeros((len(crows), dim))
    for r in crows:
        cents[int(r["cell"])] = np.asarray(r["centroid"])
    brows = spark.read.parquet(path + "_codebooks").collect()
    m = 1 + max(int(r["sub"]) for r in brows)
    k = 1 + max(int(r["codeword"]) for r in brows)
    d = len(brows[0]["centroid"])
    books = np.zeros((m, k, d))
    for r in brows:
        books[int(r["sub"]), int(r["codeword"])] = np.asarray(r["centroid"])
    return codes, cents, books


def ivfpq_topk(codes: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
               qv: np.ndarray, k: int = 10, n_probe: int = 4,
               refine: int = 0, emb: DataFrame | None = None,
               exclude_vec_id: int | None = None) -> DataFrame:
    """IVF-PQ probe: rank coarse cells driver-side (centroids are tiny),
    ADC-scan codes in the probed cells only, optional exact refine."""
    probes = {"q": probe_cells(centroids, qv, n_probe)}
    out = pq_topk_batch(codes, codebooks, {"q": np.asarray(qv)}, k=k,
                        refine=refine, emb=emb, probes=probes,
                        exclude_vec_id=exclude_vec_id)
    return out.orderBy("rank").select("vec_id", "score")
