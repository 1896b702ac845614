"""Structured Streaming CDC-out source for LakeTable — the Delta
``readChangeFeed`` / Iceberg incremental-read analog, as a PySpark
Python DataSource (``spark.readStream.format("lakecdc")``):

    from gamechanger_data_spark.streaming.cdc_source import register_lakecdc
    register_lakecdc(spark)
    changes = (spark.readStream.format("lakecdc")
               .option("path", "/data/transcripts")
               .option("startingVersion", 0)     # offset = LAST CONSUMED version
               .load())
    changes.writeStream.foreachBatch(apply).option("checkpointLocation", cp).start()

Offsets are snapshot VERSIONS (the manifest pointer is the write-ahead
log), so exactly-once falls out of Spark's offset checkpointing: a
micro-batch covers the half-open commit span ``(start, end]`` and its
rows are the deterministic between-snapshots diff of that span — the
same semantics as :meth:`LakeTable.diff`, intermediate overwritten
states never surface. ``startingVersion`` is the version the stream has
ALREADY consumed (0 streams the full table as inserts first); default
is the head at stream start (only new commits stream).

Scale shape: ``partitions(start, end)`` is driver-side manifest JSON
only — one input partition per bucket whose file list changed across
the span, so a trickle commit streams one partition, never a table
scan. Each partition is read EXECUTOR-SIDE by one pure-pyarrow kernel
(no SparkSession and no pandas in a Python data-source worker): read
each side under the declared schema, coalescing retired rename aliases
as ``LakeTable._scan_files`` does; resolve its winners (base files are
already LWW-resolved; MOR delta files merge by a stable sort on the
order columns); pair the two sides by key in one group-by; and emit
Arrow RecordBatches. The comparison is null-safe equality on every
declared column — the executor-side twin of ``_snapshot_diff``'s
key+xxhash64 anti-join (a hash is only an equality proxy; tests pin
row-parity against ``diff()`` on the same spans). The bootstrap span
(empty from-side) is the case where nothing pairs.

``maxVersionsPerBatch`` (Kafka ``maxOffsetsPerTrigger`` analog) caps
how many commit versions one micro-batch spans, so a long-history
tail drains in bounded steps. One documented edge, verified against
the engine's actual call order: the FIRST batch of a brand-new stream
is unthrottled — Spark asks for the latest offset before it reveals
the initial one, and reporting anything below the (invisible)
checkpoint could regress a committed offset into double-delivery, so
the reader answers head until it has seen a planned span. Restarts ARE
throttled from their first new batch: recovery re-plans the last
checkpointed span through ``partitions()``, which resyncs the throttle
cursor before any new offset is requested.

Caveats (documented, loud): the declared schema is pinned at stream
start (restart the stream to surface later-added columns — standard for
Spark sources); a REBUCKET inside a span collapses that span to one
partition (bucket ids are incomparable across specs); maintenance
commits diff as empty (content-identical rewrites). ``change_op`` is
delete / revoke / upsert, exactly like ``changelog()``.

Reference analog: the reference's consumers tail crawler output by
re-scanning timestamped prefixes (gc_crawler/status tracker); here the
manifest chain IS the feed.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

META_DIR = "_meta"

# ---------------- driver-side manifest helpers (stdlib only) ----------------


def _pointer(root: str, branch: str) -> str:
    fn = "VERSION" if branch == "main" else f"BRANCH-{branch}"
    return os.path.join(root, META_DIR, fn)


def _current_version(root: str, branch: str) -> int:
    p = _pointer(root, branch)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip())


def _load_manifest(root: str, version: int) -> dict:
    if version == 0:
        return {"version": 0, "schema": None, "files": {}, "deltas": {},
                "n_buckets": None, "renames": {}}
    p = os.path.join(root, META_DIR, f"v{version:08d}.json")
    if not os.path.exists(p):
        raise ValueError(
            f"snapshot v{version} is gone (expired?) — the stream cannot "
            "resume from an offset older than the retention window"
        )
    with open(p) as f:
        m = json.load(f)
    m.setdefault("deltas", {})
    m.setdefault("renames", {})
    return m


# ---------------- executor-side pyarrow kernel --------------------------------
# pyarrow is imported inside the functions: the driver-side planning
# workers import this module too, and never need it.


def _arrow_type(t):
    """Spark schema-JSON type -> pyarrow type (CDC tables are scalar-
    typed; exotic types fail loudly rather than mis-diff)."""
    import pyarrow as pa

    if isinstance(t, dict):
        if t.get("type") == "array":
            return pa.list_(_arrow_type(t["elementType"]))
        raise ValueError(f"unsupported CDC column type: {t.get('type')!r}")
    return {
        "boolean": pa.bool_(), "byte": pa.int8(), "short": pa.int16(),
        "integer": pa.int32(), "long": pa.int64(), "float": pa.float32(),
        "double": pa.float64(), "string": pa.string(), "binary": pa.binary(),
        "date": pa.date32(), "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }[t]


def _arrow_schema(schema_json):
    import pyarrow as pa

    return pa.schema(
        pa.field(f["name"], _arrow_type(f["type"])) for f in schema_json["fields"]
    )


def _positions(n: int):
    import numpy as np
    import pyarrow as pa

    return pa.array(np.arange(n, dtype=np.int64))


def _read_side(part, files, deltas, schema):
    """One side of the span: its resolved winners as an Arrow table under
    the declared ``schema``. Files written before a rename carry the old
    column name, so each retired alias is read as well and the column is
    ``coalesce(new, alias...)``, as ``LakeTable._scan_files`` does;
    never-written columns null-fill. Base files already hold winners;
    outstanding MOR deltas resolve by a stable sort on the order columns
    and the last position per key (exact duplicate events tie with
    identical payloads, so last-wins is exact)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    paths = [os.path.join(part.root, p) for p in files + deltas]
    if not paths:
        return schema.empty_table()
    aliases = {f.name: part.renames.get(f.name, []) for f in schema}
    read_schema = pa.schema(list(schema) + [
        pa.field(a, f.type) for f in schema for a in aliases[f.name]
    ])
    tbl = ds.dataset(paths, schema=read_schema, format="parquet").to_table()
    tbl = pa.Table.from_arrays([
        pc.coalesce(tbl[f.name], *[tbl[a] for a in aliases[f.name]])
        if aliases[f.name] else tbl[f.name]
        for f in schema
    ], schema=schema)
    if deltas:
        tbl = tbl.take(pc.sort_indices(tbl, [(c, "ascending") for c in part.order]))
        last = (
            tbl.select(list(part.keys))
            .append_column("__pos", _positions(len(tbl)))
            .group_by(list(part.keys))
            .aggregate([("__pos", "max")])
        )
        tbl = tbl.take(last["__pos_max"])
    return tbl


def _same(a, b):
    """Elementwise null-safe equality: NULL equals NULL, and NaN equals
    NaN (as the row hash of ``_snapshot_diff`` sees it). ``pc.equal``
    has no kernel for nested types, so an ARRAY column compares by a
    canonical encoding of each value: JSON with sorted keys, in which a
    NaN element encodes as ``NaN`` on both sides."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_nested(a.type):
        a, b = (
            pa.array(
                [None if v is None else json.dumps(v, sort_keys=True, default=str)
                 for v in x.to_pylist()],
                pa.string(),
            )
            for x in (a, b)
        )
    eq = pc.equal(a, b)
    if pa.types.is_floating(a.type):
        eq = pc.or_kleene(eq, pc.and_kleene(pc.is_nan(a), pc.is_nan(b)))
    return pc.if_else(pc.is_null(a), pc.is_null(b), pc.fill_null(eq, False))


def _diff_batches(part, out_schema):
    """The per-partition snapshot diff, executor-side in pure pyarrow:
    to-rows whose key is new or whose row differs in any declared column
    (null-safe), plus synthesized deletes for keys the from-side held
    live and the to-side physically dropped. The two sides pair by key
    in ONE group-by over both key sets (max position per side), so a
    NULL key part pairs with itself as in merge's LWW; an empty from-side
    (the bootstrap span) is just the case where nothing pairs. Yields
    Arrow record batches under ``out_schema`` with ``change_op`` derived
    from the tombstone and revoke flags, as ``changelog()`` does."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = list(part.keys)
    schema = _arrow_schema(part.schema_json)
    cur = _read_side(part, part.to_files, part.to_deltas, schema)
    prev = _read_side(part, part.from_files, part.from_deltas, schema)
    pairs = pa.concat_tables([
        cur.select(keys)
        .append_column("__c", _positions(len(cur)))
        .append_column("__p", pa.nulls(len(cur), pa.int64())),
        prev.select(keys)
        .append_column("__c", pa.nulls(len(prev), pa.int64()))
        .append_column("__p", _positions(len(prev))),
    ]).group_by(keys).aggregate([("__c", "max"), ("__p", "max")])
    c = pairs["__c_max"].combine_chunks()
    p = pairs["__p_max"].combine_chunks()
    paired = pc.and_(pc.is_valid(c), pc.is_valid(p))
    emit = [c.filter(pc.is_null(p))]
    if pc.any(paired).as_py():  # a bootstrap span skips the compare
        ci, pi = c.filter(paired), p.filter(paired)
        a, b = cur.take(ci), prev.take(pi)
        same = functools.reduce(pc.and_, [
            _same(a[n], b[n]) for n in schema.names if n not in keys
        ])
        emit.append(ci.filter(pc.invert(same).combine_chunks()))
    gone = prev.take(p.filter(pc.is_null(c)))
    gone = gone.filter(pc.invert(pc.fill_null(gone["__deleted"], False)))
    gone = gone.set_column(
        gone.schema.get_field_index("__deleted"), "__deleted",
        pa.array(np.ones(len(gone), dtype=bool)),
    )
    out = pa.concat_tables([cur.take(pa.concat_arrays(emit)), gone])
    dead = pc.fill_null(out["__deleted"], False)
    op = pc.if_else(dead, pa.scalar("delete"), pa.scalar("upsert"))
    if "is_revoked" in schema.names:
        rev = pc.and_not(pc.fill_null(out["is_revoked"], False), dead)
        op = pc.if_else(rev, pa.scalar("revoke"), op)
    cols = [op if f.name == "change_op" else out[f.name] for f in out_schema]
    return iter(pa.Table.from_arrays(cols, schema=out_schema).to_batches())


@dataclass
class _CDCPartition(InputPartition):
    root: str
    keys: tuple
    order: tuple
    renames: dict
    schema_json: dict
    to_files: list
    to_deltas: list
    from_files: list
    from_deltas: list


class LakeCDCStreamReader(DataSourceStreamReader):
    def __init__(self, options, out_schema_json):
        self.root = options["path"]
        self.branch = options.get("branch", "main")
        self._starting = options.get("startingversion")
        self._out_schema_json = out_schema_json
        # admission control (Kafka maxOffsetsPerTrigger analog): cap how
        # many commit versions one micro-batch may span, so a backfill
        # over a long history drains in bounded steps instead of one
        # giant diff. The Python DataSource API has no ReadLimit hook,
        # so the throttle lives in latestOffset with a MONOTONE cursor:
        # it may only move forward, and partitions() (which sees the
        # checkpointed start Spark actually planned) resyncs it — the
        # reported offset therefore never regresses below a committed
        # checkpoint, which would double-deliver on a second restart.
        mv = int(options.get("maxversionsperbatch", 0) or 0)
        if mv < 0:
            raise ValueError("maxVersionsPerBatch must be >= 0")
        self._max_versions = mv or None
        self._cursor: int | None = None
        head = _current_version(self.root, self.branch)
        m = _load_manifest(self.root, head)
        if m["schema"] is None:
            raise ValueError("empty table: nothing to stream (commit first)")
        self.keys = tuple(m.get("key_cols") or ("conv_id", "turn_idx"))
        self.order = tuple(m.get("order_cols") or ("ts", "event_seq"))

    def initialOffset(self) -> dict:
        v = (
            int(self._starting)
            if self._starting is not None
            else _current_version(self.root, self.branch)
        )
        # called only on a FRESH stream (no checkpoint): the consumed
        # point is known exactly, so the throttle can start from it
        self._cursor = v
        return {"version": v}

    def latestOffset(self) -> dict:
        head = _current_version(self.root, self.branch)
        if self._max_versions is None:
            return {"version": head}
        if self._cursor is None:
            # no consumed point known yet. On a FRESH stream the engine
            # asks for the latest offset BEFORE initialOffset (verified
            # empirically), and on a restart the checkpoint is never
            # shown to the reader — reporting anything below it could
            # regress a committed offset into double-delivery. So answer
            # head: the fresh stream's first batch is unthrottled, and a
            # restart's recovery partitions() call resyncs the cursor
            # before any NEW batch is planned, throttling from there.
            return {"version": head}
        # IDEMPOTENT by design: the engine calls latestOffset more than
        # once per micro-batch (offset WAL + progress reporting), so the
        # cursor must NOT advance here — only partitions(), which runs
        # exactly once per planned batch, moves it. Advancing here let a
        # double-call stack two throttle windows into one batch.
        return {"version": min(head, self._cursor + self._max_versions)}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        # resync the throttle cursor with what Spark actually planned
        # (authoritative on restart, where the checkpointed start is
        # invisible to latestOffset)
        if self._cursor is None or self._cursor < max(s, e):
            self._cursor = max(s, e)
        # NOTE: no span truncation here — Spark checkpoints ``end`` as
        # consumed, so partitions() must cover the whole (start, end]
        # span or rows would be silently lost. A big span is still one
        # diff (cost ∝ changed buckets), never a replay of every commit.
        if e <= s:
            return []
        mt = _load_manifest(self.root, e)
        mf = _load_manifest(self.root, s)
        # the DECLARED stream schema is pinned at start: emit under it
        declared = {
            "type": "struct",
            "fields": [
                f for f in self._out_schema_json["fields"]
                if f["name"] != "change_op"
            ] + [{"name": "__deleted", "type": "boolean", "nullable": True,
                  "metadata": {}}],
        }
        tf, td = mt.get("files", {}), mt.get("deltas", {})
        ff, fd = mf.get("files", {}), mf.get("deltas", {})
        common = dict(
            root=self.root, keys=self.keys, order=self.order,
            renames=mt.get("renames") or {},
            schema_json=declared,
        )
        if mf.get("n_buckets") not in (None, mt.get("n_buckets")):
            # rebucket inside the span: bucket ids are incomparable
            # across specs — one partition carries both sides whole
            return [_CDCPartition(
                to_files=[p for fl in tf.values() for p in fl],
                to_deltas=[p for fl in td.values() for p in fl],
                from_files=[p for fl in ff.values() for p in fl],
                from_deltas=[p for fl in fd.values() for p in fl],
                **common,
            )]
        changed = [
            b for b in set(tf) | set(td) | set(ff) | set(fd)
            if tf.get(b) != ff.get(b) or td.get(b, []) != fd.get(b, [])
        ]
        return [
            _CDCPartition(
                to_files=list(tf.get(b, [])), to_deltas=list(td.get(b, [])),
                from_files=list(ff.get(b, [])), from_deltas=list(fd.get(b, [])),
                **common,
            )
            for b in sorted(changed)
        ]

    def read(self, partition):
        return _diff_batches(partition, _arrow_schema(self._out_schema_json))

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; manifests are immutable


class LakeCDCDataSource(DataSource):
    """``format("lakecdc")`` — streaming CDC reads from a LakeTable."""

    @classmethod
    def name(cls) -> str:
        return "lakecdc"

    def schema(self):
        root = self.options["path"]
        branch = self.options.get("branch", "main")
        m = _load_manifest(root, _current_version(root, branch))
        if m["schema"] is None:
            raise ValueError("empty table: nothing to stream (commit first)")
        base = T.StructType.fromJson(m["schema"])
        fields = [f for f in base.fields if f.name != "__deleted"]
        return T.StructType(fields + [T.StructField("change_op", T.StringType())])

    def streamReader(self, schema: T.StructType):
        return LakeCDCStreamReader(
            {k.lower(): v for k, v in self.options.items()}, schema.jsonValue()
        )


def register_lakecdc(spark) -> None:
    """Idempotent registration of the ``lakecdc`` source on a session."""
    spark.dataSource.register(LakeCDCDataSource)
