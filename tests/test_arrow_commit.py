"""Merge's Arrow route. A merge-on-read batch whose footer row count is at
most ``ARROW_COMMIT_MAX_ROWS`` runs its batch-only LWW winner plan once,
collects it with ``toArrow()``, takes the touched buckets from the
collected ``__bucket`` column and writes one key-sorted delta file per
bucket with pyarrow on the driver (``deltafiles.write_bucket_deltas``,
the writer the ``laketable`` sink shares). These tests pin the job
count, parity with a copy-on-write twin and a pandas oracle on edge
inputs, delta stacks that mix all three writers, a lost CAS, and every
codec a table accepts."""

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gamechanger_data_spark.datagen import FeedSpec, generate_batch
from gamechanger_data_spark.sinks import table as table_mod
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.streaming.cdc_source import (
    LakeCDCDataSource,
    LakeCDCStreamReader,
)
from gamechanger_data_spark.streaming.driver import apply_batch
from gamechanger_data_spark.streaming.sink import LakeSinkWriter

SCH = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("f", T.FloatType()),
    T.StructField("ts", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("arr", T.ArrayType(T.IntegerType())),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("op", T.StringType()),
])
KEYS, ORDER = ("k", "f"), ("ts",)
DATA = ["k", "f", "ts", "v", "arr", "ntz", "is_revoked"]
T0 = dt.datetime(2024, 1, 1)


def _ev(k, f, ts, op="update"):
    """One event; payload derived from (key, ts) so every version differs."""
    return (k, f, ts, f"{k}/{f}@{ts}", None if ts % 3 == 0 else [ts, -ts],
            T0 + dt.timedelta(seconds=ts), op)


# NULL key parts and FLOAT keys (0.1 is not float32-exact)
BASE = [_ev(k, f, 1) for k in (None, "a", "b", "c") for f in (0.1, 0.5, -2.0, 7.25, 1e-3)]
B1 = [
    _ev(None, 0.1, 2), _ev(None, 0.5, 2, "delete"), _ev("a", 0.5, 3),
    _ev("a", 0.5, 2),  # in-batch older duplicate loses
    _ev("b", -2.0, 0),  # older than the resident row: loses
    _ev("c", 7.25, 4, "revoke"), _ev("z", 9.5, 2), _ev(None, 3.0, 2),
]
B2 = [
    _ev(None, 0.5, 1),  # older than the tombstone: stays deleted
    _ev("a", 0.1, 5, "delete"), _ev("z", 9.5, 6), _ev("b", 1e-3, 6),
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCH)


def _oracle(*batches):
    """LWW by ts per (k, float32 f); delete winners vanish."""
    best = {}
    for k, f, ts, v, arr, ntz, op in (e for b in batches for e in b):
        key = (k, float(np.float32(f)))
        if key not in best or ts > best[key][1]:
            best[key] = (key, ts, v, arr, ntz, op)
    return sorted(
        ((k, f, ts, v, arr, ntz, op == "revoke")
         for (k, f), ts, v, arr, ntz, op in best.values() if op != "delete"),
        key=repr,
    )


def _state(t):
    return sorted(
        (tuple(r[c] for c in DATA) for r in t.read().collect()), key=repr
    )


def _writers(t, m=None):
    """parquet created_by of every delta file, per bucket."""
    m = t._load_manifest() if m is None else m
    return {
        int(b): [pq.ParquetFile(os.path.join(t.root, p)).metadata.created_by
                 for p in fl]
        for b, fl in m["deltas"].items() if fl
    }


def _is_arrow(created_by):
    return created_by.startswith("parquet-cpp-arrow")


def _key_sorted(t, relpath):
    tbl = pq.read_table(os.path.join(t.root, relpath), columns=list(t.key_cols))
    got = list(zip(*(tbl[c].to_pylist() for c in t.key_cols)))
    return got == sorted(got, key=lambda r: tuple((x is not None, x) for x in r))


def _kernel_rows(t, start):
    """lakecdc's rows for the span ``(start, head]``, from the stream
    reader's own ``partitions()`` and ``read()``."""
    schema = LakeCDCDataSource({"path": t.root}).schema()
    r = LakeCDCStreamReader({"path": t.root}, schema.jsonValue())
    parts = r.partitions({"version": start}, {"version": t.current_version()})
    return sorted(
        (tuple(sorted(row.items())) for p in parts for b in r.read(p)
         for row in b.to_pylist()),
        key=repr,
    )


def _diff_rows(t, start):
    return sorted(
        (tuple(sorted(r.asDict().items())) for r in t.diff(start).collect()),
        key=repr,
    )


def _op_counts(t, batch_id):
    lin = t.lineage().toPandas()
    row = lin[(lin.batch_id == batch_id) & (lin.partition_id == -1)]
    assert len(row) == 1, "the observed op-count row must be written"
    r = row.iloc[0]
    return int(r.rows_upserted), int(r.rows_deleted), int(r.rows_revoked)


def _want_ops(rows):
    ops = [e[-1] for e in rows]
    return (sum(o in ("insert", "update") for o in ops),
            ops.count("delete"), ops.count("revoke"))


def _table(spark, root, **kw):
    return LakeTable(spark, str(root), key_cols=KEYS, order_cols=ORDER,
                     n_buckets=4, **kw)


# ---------------- job count ------------------------------------------------

SMALL = FeedSpec(n_convs=300, max_turns=6, n_batches=1, events_per_batch=60, seed=5)
LARGE = FeedSpec(n_convs=300, max_turns=6, n_batches=1, events_per_batch=3000, seed=6)


def _batch_dir(spark, tmp_path, pdf, name):
    d = tmp_path / "feed" / name
    os.makedirs(d)
    pdf.to_parquet(d / "part-0.parquet", index=False, coerce_timestamps="us")
    return spark.read.parquet(str(d)), str(d)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"arrow-route-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "jobs of one commit")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_mor_commit_runs_at_most_two_jobs(spark, tmp_path):
    """A steady small auto-MOR apply_batch collects its winners once and
    writes its deltas on the driver: at most 2 Spark jobs (the winner
    plan's shuffle stage and its collect), where the touched-set scan
    and the partitionBy write ran 5. A dense batch keeps the Spark
    write."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    events, d = _batch_dir(spark, tmp_path, generate_batch(LARGE, 0), "base")
    assert apply_batch(t, events, "base", batch_dir=d)["mode"] == "cow"

    events, d = _batch_dir(spark, tmp_path, generate_batch(SMALL, 0), "small")
    r, jobs = _jobs(spark, lambda: apply_batch(t, events, "small", batch_dir=d))
    assert r["mode"] == "mor" and not r["skipped"]
    assert jobs <= 2
    m = t._load_manifest()
    writers = _writers(t, m)
    assert len(writers) == r["touched_buckets"]
    assert all(_is_arrow(w) for ws in writers.values() for w in ws)
    assert all(_key_sorted(t, p) for fl in m["deltas"].values() for p in fl)
    assert sum(m["delta_rows"].values()) == sum(
        pq.ParquetFile(os.path.join(t.root, p)).metadata.num_rows
        for fl in m["deltas"].values() for p in fl
    )

    # a dense batch (rows >= resident) takes the shortcut and Spark's write
    big = generate_batch(LARGE, 0).assign(ts=lambda df: df.ts + pd.Timedelta(days=1))
    events, d = _batch_dir(spark, tmp_path, big, "dense")
    r = apply_batch(t, events, "dense", batch_dir=d)
    assert r["mode"] == "cow"
    m = t._load_manifest()
    assert all(
        not _is_arrow(pq.ParquetFile(os.path.join(t.root, p)).metadata.created_by)
        for fl in m["files"].values() for p in fl
    )


def test_batch_above_bound_keeps_spark_write(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t", merge_mode="mor")
    t.merge(_mk(spark, BASE), "b0", mode="cow")
    monkeypatch.setattr(table_mod, "ARROW_COMMIT_MAX_ROWS", len(B1) - 1)
    r = t.merge(_mk(spark, B1), "b1", src_rows=len(B1))
    assert r["mode"] == "mor"
    assert not any(_is_arrow(w) for ws in _writers(t).values() for w in ws)
    assert _state(t) == _oracle(BASE, B1)


# ---------------- parity ---------------------------------------------------


def test_arrow_route_matches_cow_twin_and_oracle(spark, tmp_path):
    """NULL key parts, FLOAT keys, an ARRAY and a TimestampNTZ payload:
    the Arrow-written MOR table and an all-CoW twin agree with the pandas
    oracle through read(), lookup_key, changelog(), lakecdc and
    stats_agg; verify() is clean, the observed op counts are recorded,
    and a re-applied batch is skipped."""
    mor = _table(spark, tmp_path / "mor", merge_mode="mor")
    cow = _table(spark, tmp_path / "cow", merge_mode="cow")
    for t in (mor, cow):
        t.merge(_mk(spark, BASE), "b0", mode="cow")
    for bid, rows in (("b1", B1), ("b2", B2)):
        start = mor.current_version()
        r = mor.merge(_mk(spark, rows), bid, src_rows=len(rows), observe_ops=True)
        assert r["mode"] == "mor"
        cow.merge(_mk(spark, rows), bid, src_rows=len(rows), observe_ops=True)
        assert _kernel_rows(mor, start) == _diff_rows(mor, start)
        assert _kernel_rows(mor, start) == _kernel_rows(cow, start)
        assert _op_counts(mor, bid) == _op_counts(cow, bid) == _want_ops(rows)
        changes = [sorted((tuple(r[c] for c in DATA[:4]) + (r["change_op"],)
                           for r in x.changelog().collect()), key=repr)
                   for x in (mor, cow)]
        assert changes[0] == changes[1] and changes[0]
    assert all(_is_arrow(w) for ws in _writers(mor).values() for w in ws)

    want = _oracle(BASE, B1, B2)
    assert _state(mor) == _state(cow) == want
    assert _kernel_rows(mor, 0) == _diff_rows(mor, 0)
    for k, f in ((None, 0.1), ("a", 0.5), ("z", 9.5), ("b", 1e-3)):
        got = [tuple(r[c] for c in DATA) for r in mor.lookup_key(k=k, f=f).collect()]
        if k is None:
            assert got == []  # a NULL probe matches nothing
        else:
            assert got == [w for w in want if w[0] == k
                           and w[1] == float(np.float32(f))]
    aggs = [("count", "*"), ("min", "ts"), ("max", "ts"), ("count", "arr")]
    scan = mor.read().agg(F.count(F.lit(1)), F.min("ts"), F.max("ts"),
                          F.count("arr")).collect()[0]
    assert tuple(mor.stats_agg(aggs).collect()[0]) == tuple(scan)
    assert mor.verify()["ok"]
    assert mor.merge(_mk(spark, B1), "b1", src_rows=len(B1))["skipped"]
    assert _state(mor) == want


def test_cow_decision_after_collect(spark, tmp_path):
    """An auto merge that collects its winners and then decides CoW (the
    touched stack is at mor_max_deltas) drops the collected table and
    runs the CoW rewrite; its op counts still come from the one
    Observation, resolved on the collect."""
    t = _table(spark, tmp_path / "t", mor_max_deltas=1, mor_fraction=0.9)
    t.merge(_mk(spark, BASE), "b0", mode="cow")
    few = [_ev("a", 0.5, 8), _ev("b", 0.5, 8, "delete")]
    assert t.merge(_mk(spark, few), "b1", src_rows=2, observe_ops=True)["mode"] == "mor"
    r = t.merge(_mk(spark, few[:1]), "b2", src_rows=1, observe_ops=True)
    assert r["mode"] == "cow"
    assert _op_counts(t, "b2") == (1, 0, 0)
    assert _state(t) == _oracle(BASE, few, few[:1])
    m = t._load_manifest()
    assert not any(_is_arrow(pq.ParquetFile(os.path.join(t.root, p)).metadata.created_by)
                   for fl in m["files"].values() for p in fl)


# ---------------- mixed writers and CAS loss -------------------------------


def _sink_append(t, rows, batch):
    """Stage and commit rows through the laketable sink's own writer."""
    w = LakeSinkWriter(t.root, SCH, sink_id="mixed")
    cols = list(zip(*rows))
    rb = pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.float32()),
         pa.array(cols[2], pa.int64()), pa.array(cols[3], pa.string()),
         pa.array(cols[4], pa.list_(pa.int32())), pa.array(cols[5], pa.timestamp("us")),
         pa.array(cols[6], pa.string())],
        names=[f.name for f in SCH.fields],
    )
    w.commit([w.write(iter([rb]))], batch)


def test_delta_stack_mixes_spark_arrow_and_sink_files(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), key_cols=KEYS, order_cols=ORDER,
                  n_buckets=1, merge_mode="mor")
    t.merge(_mk(spark, BASE), "b0", mode="cow")
    s1 = [_ev("a", 0.5, 3), _ev(None, 0.1, 3, "delete")]
    t.merge(_mk(spark, s1), "spark")  # unknown src_rows: Spark write
    t.merge(_mk(spark, B1), "arrow", src_rows=len(B1))
    s3 = [_ev("z", 9.5, 9), _ev("c", -2.0, 9, "revoke"), _ev("b", 0.1, 0)]
    _sink_append(t, s3, 0)

    m = t._load_manifest()
    (writers,) = _writers(t, m).values()
    assert [_is_arrow(w) for w in writers] == [False, True, True]
    assert all(_key_sorted(t, p) for p in m["deltas"]["0"][1:])
    want = _oracle(BASE, s1, B1, s3)
    assert _state(t) == want
    assert _kernel_rows(t, 0) == _diff_rows(t, 0)
    assert _kernel_rows(t, 1) == _diff_rows(t, 1)
    scan = t.read().agg(F.count(F.lit(1)), F.max("ts")).collect()[0]
    assert tuple(t.stats_agg([("count", "*"), ("max", "ts")]).collect()[0]) == tuple(scan)
    t.compact()
    assert _state(t) == want
    assert t.verify()["ok"]


def test_lost_cas_rebases_onto_arrow_files(spark, tmp_path):
    """A conflicting commit lands between the Arrow route's delta write
    and its CAS: the merge re-layers its already-written files onto the
    new head (one rebase, no re-run, no rewritten file)."""
    t = _table(spark, tmp_path / "t", merge_mode="mor")
    t.merge(_mk(spark, BASE), "b0", mode="cow")
    other = _table(spark, tmp_path / "t")
    on_disk = {}

    def competing_commit():
        on_disk["files"] = {
            os.path.relpath(os.path.join(d, f), t.root)
            for d, _, fs in os.walk(os.path.join(t.root, "data")) for f in fs
        }
        other.merge(_mk(spark, B2), "other", mode="mor")

    t._test_pre_commit = competing_commit
    r = t.merge(_mk(spark, B1), "mine", src_rows=len(B1))
    assert (r["mode"], r["attempts"], r["rebases"]) == ("mor", 1, 1)
    m = t._load_manifest()
    mine = {p for fl in m["deltas"].values() for p in fl} - {
        p for fl in t._load_manifest(m["parent"])["deltas"].values() for p in fl
    }
    assert mine and mine <= on_disk["files"]
    assert all(_is_arrow(pq.ParquetFile(os.path.join(t.root, p)).metadata.created_by)
               for p in mine)
    assert _state(t) == _oracle(BASE, B1, B2)
    assert t.verify()["ok"]


# ---------------- codecs ---------------------------------------------------

CODECS = ("none", "uncompressed", "snappy", "gzip", "lz4", "lz4_raw", "zstd")


@pytest.mark.parametrize("codec", CODECS)
def test_every_codec_round_trips_arrow_and_sink_deltas(spark, tmp_path, codec):
    """pq.write_table rejects Spark's ``uncompressed`` and ``lz4_raw``;
    the one delta writer maps Spark codec names, so a sink append and an
    Arrow-route merge work on a table of every codec Spark writes, and
    read() and lakecdc both read the mixed stack back."""
    t = _table(spark, tmp_path / "t", merge_mode="mor", codec=codec)
    t.merge(_mk(spark, BASE), "b0", mode="cow")
    t.merge(_mk(spark, B1), "arrow", src_rows=len(B1))
    _sink_append(t, B2, 0)
    assert sum(_is_arrow(w) for ws in _writers(t).values() for w in ws) >= 2
    assert _state(t) == _oracle(BASE, B1, B2)
    assert _kernel_rows(t, 1) == _diff_rows(t, 1)
