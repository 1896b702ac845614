"""Structured Streaming SINK for LakeTable — the write-side twin of the
``lakecdc`` source, as a PySpark Python DataSource:

    from gamechanger_data_spark.streaming.sink import register_laketable
    register_laketable(spark)
    (df.writeStream.format("laketable")
       .option("path", "/data/transcripts")
       .option("checkpointLocation", cp)
       .start())

Semantics: every micro-batch becomes ONE merge-on-read delta append with
exactly-once batch-id commits (``<sinkId>-<epochId>``; re-delivered
batches after a checkpoint restart skip). ``sinkId`` (default
``lakesink``) scopes the batch-id namespace: TWO DIFFERENT streams
appending to one table must use distinct sinkIds, or the second
stream's epoch 0 would read as the first's replay. Rows carry the same contract
as :meth:`LakeTable.merge` sources — key + order + payload (+ optional
``op`` in insert/update/delete/revoke, default upsert); LWW resolution
happens at read/compaction exactly as for any other MOR delta, so
out-of-order and duplicate events are safe.

How it works without a SparkSession: executors stage per-bucket,
key-sorted parquet through the engine's one delta writer
(``deltafiles.write_bucket_deltas``, shared with ``merge``'s Arrow route;
``write()`` runs in a Python data-source worker), with bucket
assignment done by the bit-parity Python twin of Spark's ``xxhash64``
(functions/xxh64.py) so rows land exactly where the JVM hash would put
them; the driver-side ``commit()`` then runs
:meth:`LakeTable.append_deltas` — a PURE-METADATA commit (manifest
arithmetic + the same locked CAS as every other commit, no Spark job).
Failed/aborted attempts leave unreferenced staged files that
``expire_snapshots`` collects after its grace window, the same orphan
story as any crashed writer.

This is the TRICKLE path by design: per-row Python hashing bounds it to
streaming-rate batches, and delta stacks that exceed ``mor_max_deltas``
are reported (``over_mor_bound``) for the caller's compaction cadence —
bulk replay keeps ``foreachBatch`` + ``merge()`` (JVM hashing, CoW/MOR
auto). Schema evolution does NOT flow through the sink: unknown input
columns are refused at stream start with an ALTER TABLE hint.

Reference analog: the reference's crawler-to-store uploader appends
without read-side merge (gc_crawler output prefixes); here the append
IS a first-class table commit with lineage and exactly-once.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from gamechanger_data_spark.deltafiles import write_bucket_deltas
from gamechanger_data_spark.functions.xxh64 import bucket_of, key_kind

META_DIR = "_meta"


def _load_head(root: str) -> dict:
    vp = os.path.join(root, META_DIR, "VERSION")
    if not os.path.exists(vp):
        raise ValueError(
            f"no LakeTable at {root!r} — the laketable sink appends to an "
            "existing table (create it with a merge/CTAS first)"
        )
    with open(vp) as f:
        v = int(f.read().strip())
    with open(os.path.join(root, META_DIR, f"v{v:08d}.json")) as f:
        return json.load(f)


@dataclass
class _StagedFiles(WriterCommitMessage):
    files: list  # [(bucket, relpath, rows)]


class LakeSinkWriter(DataSourceStreamArrowWriter):
    def __init__(self, root: str, input_schema: T.StructType,
                 sink_id: str = "lakesink"):
        self.root = root
        self.sink_id = sink_id
        m = _load_head(root)
        if m.get("schema") is None:
            raise ValueError("empty table: nothing to append to yet")
        state = T.StructType.fromJson(m["schema"])
        self.key_cols = tuple(m.get("key_cols") or ("conv_id", "turn_idx"))
        self.order_cols = tuple(m.get("order_cols") or ("ts", "event_seq"))
        self.n_buckets = int(m["n_buckets"])
        types = {f.name: f.dataType for f in state.fields}
        self.key_kinds = tuple(key_kind(c, types[c]) for c in self.key_cols)
        # validation at STREAM START (driver side), loud and early
        in_names = set(input_schema.names)
        missing = [c for c in (*self.key_cols, *self.order_cols)
                   if c not in in_names]
        if missing:
            raise ValueError(
                f"laketable sink input is missing required columns "
                f"{missing} (key {self.key_cols} + order {self.order_cols})"
            )
        state_names = {f.name for f in state.fields}
        unknown = sorted(in_names - state_names - {"op"})
        if unknown:
            raise ValueError(
                f"input columns {unknown} are not in the table schema — "
                "the sink does not evolve schemas; run ALTER TABLE ... "
                "ADD COLUMN first"
            )
        # the file layout every delta carries: state columns incl.
        # __deleted, excluding the partition-dir column
        self.state_json = m["schema"]
        self.has_op = "op" in in_names
        self.codec = str(m.get("codec") or "snappy")

    # ---- executor side -------------------------------------------------

    def _arrow_state_schema(self):
        from gamechanger_data_spark.streaming.cdc_source import _arrow_type
        import pyarrow as pa

        fields = [
            pa.field(f["name"], _arrow_type(f["type"]))
            for f in self.state_json["fields"]
        ]
        if "__deleted" not in {f.name for f in fields}:
            fields.append(pa.field("__deleted", pa.bool_()))
        return pa.schema(fields)

    def write(self, iterator) -> WriterCommitMessage:
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(iterator)
        if not batches:
            return _StagedFiles([])
        tbl = pa.Table.from_batches(batches)
        n = tbl.num_rows
        if n == 0:
            return _StagedFiles([])
        out_schema = self._arrow_state_schema()
        op = (
            pc.fill_null(tbl.column("op"), "upsert")
            if self.has_op and "op" in tbl.column_names
            else pa.array(["upsert"] * n)
        )
        cols = []
        in_names = set(tbl.column_names)
        for f in out_schema:
            if f.name == "__deleted":
                cols.append(pc.equal(op, "delete").cast(pa.bool_()))
            elif f.name == "is_revoked":
                base = (
                    tbl.column("is_revoked").cast(f.type)
                    if "is_revoked" in in_names
                    else pa.array([None] * n, type=f.type)
                )
                cols.append(
                    pc.if_else(pc.equal(op, "revoke"), True,
                               pc.fill_null(base, False))
                )
            elif f.name in in_names:
                cols.append(tbl.column(f.name).cast(f.type))
            else:
                cols.append(pa.array([None] * n, type=f.type))
        state = pa.Table.from_arrays(cols, schema=out_schema)
        # bucket assignment: the per-row Python xxh64 twin (trickle path)
        keys = [tbl.column(c).to_pylist() for c in self.key_cols]
        buckets = pa.array(
            [bucket_of(vals, self.key_kinds, self.n_buckets)
             for vals in zip(*keys)],
            type=pa.int32(),
        )
        staged = write_bucket_deltas(
            self.root, f"data/delta-sink-{uuid.uuid4().hex[:12]}", state,
            buckets, self.key_cols, self.codec,
        )
        return _StagedFiles(staged)

    # ---- driver side ----------------------------------------------------

    def commit(self, messages, batchId: int) -> None:
        from gamechanger_data_spark.sinks.table import LakeTable

        staged: dict[int, list[str]] = {}
        total = 0
        for msg in messages:
            for b, rel, rows in (msg.files if msg else []):
                staged.setdefault(int(b), []).append(rel)
                total += rows
        # a no-op commit still needs no manifest write; Spark's own
        # checkpoint advances the batch id
        if not staged:
            return
        table = LakeTable(None, self.root, n_buckets=self.n_buckets)
        table.append_deltas(
            staged, batch_id=f"{self.sink_id}-{batchId}",
            expected_n_buckets=self.n_buckets,
        )

    def abort(self, messages, batchId: int) -> None:
        for msg in messages or []:
            for _b, rel, _rows in (msg.files if msg else []):
                try:
                    os.remove(os.path.join(self.root, rel))
                except OSError:
                    pass


class LakeSinkDataSource(DataSource):
    """``format("laketable")`` — streaming MOR appends into a LakeTable."""

    @classmethod
    def name(cls) -> str:
        return "laketable"

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "laketable sink appends (complete/truncate output modes "
                "are not supported — use LakeTable.overwrite for replace)"
            )
        opts = {k.lower(): v for k, v in self.options.items()}
        return LakeSinkWriter(opts["path"], schema,
                              sink_id=opts.get("sinkid", "lakesink"))


def register_laketable(spark) -> None:
    """Idempotent registration of the ``laketable`` sink on a session."""
    spark.dataSource.register(LakeSinkDataSource)
