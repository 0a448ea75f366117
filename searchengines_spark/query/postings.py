"""Decode compressed posting blocks back into DataFrames.

The decode kernel is a single Arrow-batched ``mapInArrow`` pass over the
pruned block scan — numpy varint decode, no per-row Python. Query serving
decodes inside the stripe kernel instead (query/wand.py); this DataFrame
form serves index inspection (inspect.py).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..index import codec

POSTINGS_SCHEMA = T.StructType([
    T.StructField("field", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("docid", T.LongType(), False),
    T.StructField("tf", T.IntegerType(), False),
    T.StructField("doclen", T.IntegerType(), False),
])

POSTINGS_POS_SCHEMA = T.StructType(
    POSTINGS_SCHEMA.fields + [T.StructField("positions", T.ArrayType(T.IntegerType()), False)]
)


def decode_postings(blocks: DataFrame, with_positions: bool = False,
                    payload_codec: str = "varint",
                    norms_dir: str | None = None,
                    salt_range: int = 1) -> DataFrame:
    """blocks (BLOCKS_SCHEMA rows) -> long postings DataFrame.

    mapInArrow: per-block numpy varint decode, output assembled from flat
    arrays (positions as one ListArray from (offsets, values)) — no per-
    posting Python objects, which dominated positional-query latency on
    high-df terms.

    ``norms_dir``: path to the docid-sorted doc_lens_wide norms sidecar.
    Blocks no longer carry doclens; the kernel resolves each surviving
    block's doclens from the sidecar (process-cached per stripe —
    index/norms.py), so downstream plans still see the same
    (field, term, docid, tf, doclen[, positions]) shape."""
    import pyarrow as pa

    from ..index import norms as norms_mod

    if norms_dir is None:
        raise ValueError("decode_postings requires norms_dir (doc_lens_wide)")
    schema = POSTINGS_POS_SCHEMA if with_positions else POSTINGS_SCHEMA
    def decode(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ix = {n: i for i, n in enumerate(rb.schema.names)}
            b_field = rb.column(ix["field"]).to_pylist()
            b_term = rb.column(ix["term"]).to_pylist()
            b_dz = rb.column(ix["docids_z"]).to_pylist()
            b_tz = rb.column(ix["tfs_z"]).to_pylist()
            b_pz = rb.column(ix["positions_z"]).to_pylist() if with_positions else None
            docids, tfs, doclens, sizes = [], [], [], []
            pvals, pcounts = [], []
            for bi in range(rb.num_rows):
                d, t = codec.decode_block(b_dz[bi], b_tz[bi], payload_codec)
                if with_positions:
                    v, c = codec.decode_positions_flat(b_pz[bi], len(d))
                    pvals.append(v)
                    pcounts.append(c)
                dl = norms_mod.doclens_at(norms_dir, b_field[bi], d, salt_range)
                sizes.append(len(d))
                docids.append(d.astype(np.int64))
                tfs.append(t.astype(np.int32))
                doclens.append(dl.astype(np.int32))
            sizes = np.asarray(sizes, dtype=np.int64)
            field_np = np.repeat(np.array(b_field, dtype=object), sizes)
            term_np = np.repeat(np.array(b_term, dtype=object), sizes)
            arrays = [
                pa.array(field_np, type=pa.string()),
                pa.array(term_np, type=pa.string()),
                pa.array(np.concatenate(docids), type=pa.int64()),
                pa.array(np.concatenate(tfs), type=pa.int32()),
                pa.array(np.concatenate(doclens), type=pa.int32()),
            ]
            names = ["field", "term", "docid", "tf", "doclen"]
            if with_positions:
                counts = np.concatenate(pcounts)
                offs = np.zeros(len(counts) + 1, dtype=np.int64)
                np.cumsum(counts, out=offs[1:])
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(offs, type=pa.int32()),
                    pa.array(np.concatenate(pvals).astype(np.int32),
                             type=pa.int32()),
                ))
                names.append("positions")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return blocks.mapInArrow(decode, schema)
