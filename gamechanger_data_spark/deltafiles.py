"""The one writer of merge-on-read delta files.

A delta file holds one bucket's rows in the table's state layout (key +
order + payload + ``is_revoked`` + ``__deleted``), sorted by key, at
``<stage>/__bucket=<b>/part-<uuid>.parquet`` under the table root. Two
callers write them with pyarrow: ``LakeTable.merge``'s Arrow route (LWW
winners collected on the driver) and the ``laketable`` streaming sink
(rows staged in a Python data-source worker). The module imports neither
pyspark nor, at import time, pyarrow, so the sink's worker loads it
cheaply.
"""

from __future__ import annotations

import os
import uuid

# Spark parquet codec names pq.write_table does not accept, mapped to
# the pyarrow name of the same codec. pyarrow's "lz4" is the raw LZ4
# block codec (Spark's "lz4_raw"); every other Spark name that pyarrow
# can write is spelled the same in both.
_PYARROW_CODEC = {"uncompressed": "none", "lz4_raw": "lz4"}


def write_bucket_deltas(root, stage_rel, table, buckets, key_cols, codec):
    """Write ``table`` (a pyarrow Table in the state layout, without a
    bucket column) as one key-sorted parquet file per bucket under
    ``root/stage_rel``. ``buckets`` is a pyarrow int array (or chunked
    array) parallel to the rows. Returns ``[(bucket, relpath, rows)]`` in
    bucket order, relpaths relative to ``root``; the row counts come from
    the table, so no footer is read back. Every column is written nullable, as Spark
    writes them, so one bucket's delta stack keeps one file schema
    whichever writer produced each file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = table.num_rows
    if n == 0:
        return []
    schema = pa.schema([f.with_nullable(True) for f in table.schema])
    t = table.cast(schema).append_column("__bucket", buckets)
    # ascending with NULLs first, as Spark's sortWithinPartitions orders
    order = pc.sort_indices(
        t, sort_keys=[("__bucket", "ascending")]
        + [(k, "ascending") for k in key_cols],
        null_placement="at_start",
    )
    t = t.take(order)
    b = t.column("__bucket").to_numpy()
    t = t.drop_columns(["__bucket"])
    cuts = [0, *(np.flatnonzero(np.diff(b)) + 1).tolist(), n]
    compression = _PYARROW_CODEC.get(str(codec).lower(), str(codec).lower())
    out = []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        bk = int(b[lo])
        rel = os.path.join(
            stage_rel, f"__bucket={bk}", f"part-{uuid.uuid4().hex[:12]}.parquet"
        )
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(t.slice(lo, hi - lo), full, compression=compression)
        out.append((bk, rel, hi - lo))
    return out
