"""Per-stripe document-norms access (the Lucene norms-file analog).

Posting blocks do NOT store doclens: a doc's field length was previously
duplicated into every posting of every term (~19% of all block bytes at the
bench corpus — as much as the docids themselves). Instead the build writes
one row per doc in ``doc_lens_wide`` (docid, len_<field>...), docid-range
sorted so parquet row-group stats prune range reads, and the serve kernels
look lengths up here:

- the stripe evaluator loads its docid range [lo, hi) once per task as a
  dense int32 array (``stripe_doclens``) and indexes it per scored posting;
- the exhaustive decode kernel resolves each block's docids in bulk
  (``doclens_at``).

Both go through a process-level LRU: Spark reuses Python workers across
tasks and queries, so a stripe's norms load amortizes exactly like Lucene's
memory-mapped norms file does on a warm shard. Invalidation is by file
signature (name, size, mtime of the parquet files), so appends/compactions
are picked up without restarting workers.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np

_LRU_CAP = 64
_cache: OrderedDict = OrderedDict()


def _signature(path: str) -> tuple:
    """Sorted (path, size, mtime_ns) over every .parquet file under path."""
    out = []
    for r, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                st = os.stat(p)
                out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def stripe_doclens(norms_dir: str, field: str, lo: int, hi: int) -> np.ndarray:
    """Dense int32 array of length hi-lo: entry d-lo = doclen of docid d in
    ``field`` (0 for absent docs/fields — such docids never appear in that
    field's postings, so the 0 is never read). Row groups outside [lo, hi)
    are pruned by parquet docid min/max stats."""
    key = (norms_dir, field, int(lo), int(hi), _signature(norms_dir))
    hit = _cache.get(key)
    if hit is not None:
        _cache.move_to_end(key)
        return hit
    import pyarrow.parquet as pq

    col = f"len_{field}"
    tbl = pq.read_table(
        norms_dir, columns=["docid", col],
        filters=[("docid", ">=", int(lo)), ("docid", "<", int(hi))])
    dense = np.zeros(int(hi - lo), dtype=np.int32)
    if tbl.num_rows:
        docids = tbl.column("docid").to_numpy()
        lens = tbl.column(col).to_numpy(zero_copy_only=False)
        lens = np.nan_to_num(lens.astype(np.float64), nan=0.0).astype(np.int32)
        dense[docids - int(lo)] = lens
    _cache[key] = dense
    while len(_cache) > _LRU_CAP:
        _cache.popitem(last=False)
    return dense


def doclens_at(norms_dir: str, field: str, docids: np.ndarray,
               salt_range: int) -> np.ndarray:
    """Vectorized doclen lookup for arbitrary docids (spanning stripes):
    gathers from the per-stripe dense arrays, loading (and caching) only the
    stripes the docids actually touch."""
    docids = np.asarray(docids, dtype=np.int64)
    out = np.zeros(docids.size, dtype=np.int32)
    if docids.size == 0:
        return out
    r = max(1, int(salt_range))
    for s in np.unique(docids // r):
        lo = int(s) * r
        dense = stripe_doclens(norms_dir, field, lo, lo + r)
        m = (docids >= lo) & (docids < lo + r)
        out[m] = dense[docids[m] - lo]
    return out
