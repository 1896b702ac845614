"""Every LakeTable commit kind, one case each: the snapshot manifest it
writes (key set, kind, provenance stamp, touched buckets), plus the
table invariants after it — verify() is clean, stats_agg equals a scan,
and read() is unchanged wherever the operation preserves logical state.
The manifest format is written in one place (LakeTable._successor); this
pins what each commit kind passes through it."""

import json
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gamechanger_data_spark.sinks.table import META_DIR, LakeTable

SCH = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("ts", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("op", T.StringType()),
])

# written by every commit: _successor's fields plus what _commit stamps
BASE_KEYS = {
    "version", "schema", "n_buckets", "files", "deltas", "base_rows",
    "delta_rows", "applied_batches", "batches_segment", "lineage", "parent",
    "kind", "touched_buckets", "renames", "dropped", "committed_at",
    "chain_tail", "chain_segments", "key_cols", "order_cols", "codec",
    "layout", "stats",
}


def _df(spark, rows):
    return spark.createDataFrame(rows, SCH)


def _buckets(keys):
    """Expected touched set: the buckets these keys route to."""
    return lambda t, pm: t.buckets_for_keys([{"k": k} for k in keys])


def _const(v):
    return lambda t, pm: v


def _dirty(t, pm):
    return sorted(int(b) for b, fl in pm["deltas"].items() if fl)


def _nonempty(t, pm):
    return sorted(
        int(b) for b in set(pm["files"]) | set(pm["deltas"])
        if pm["files"].get(b) or pm["deltas"].get(b)
    )


def _first_base_bucket(t, pm):
    return [min(int(b) for b, fl in pm["files"].items() if fl)]


def _append_copy(spark, t):
    """Stage a copy of the first non-empty bucket's base file as a delta
    (the laketable sink's commit path) — re-delivers resident rows."""
    m = t._load_manifest()
    bk = str(_first_base_bucket(t, m)[0])
    stage = os.path.join(t.root, "data", "staged-test", f"__bucket={bk}")
    os.makedirs(stage)
    shutil.copy(os.path.join(t.root, m["files"][bk][0]),
                os.path.join(stage, "p.parquet"))
    rel = os.path.relpath(os.path.join(stage, "p.parquet"), t.root)
    t.append_deltas({int(bk): [rel]}, "staged")


def _verify_layout(spark, t):
    """Strip the layout stamp, reopen under the legacy guard, stamp."""
    mp = os.path.join(t.root, META_DIR)
    for name in os.listdir(mp):
        if re.fullmatch(r"v\d+\.json", name):
            with open(os.path.join(mp, name)) as f:
                m = json.load(f)
            m.pop("layout", None)
            with open(os.path.join(mp, name), "w") as f:
                json.dump(m, f)
    legacy = LakeTable(spark, t.root, n_buckets=4, allow_legacy_layout=True)
    assert legacy.verify_layout()["verified"]


# id -> (operation(spark, t), expected touched_buckets from the table and
#        its manifest before the commit, kind, commit_op, extra manifest
#        keys, whether read() is unchanged)
CASES = {
    "merge_cow": (
        lambda s, t: t.merge(
            _df(s, [(1, 30, "c1", "upsert"), (2, 30, None, "delete")]),
            "c", mode="cow"),
        _buckets([1, 2]), "data", "merge", set(), False),
    "merge_mor": (
        lambda s, t: t.merge(_df(s, [(4, 30, "m4", "upsert")]), "c",
                             mode="mor", touched=t.buckets_for_keys([{"k": 4}])),
        _buckets([4]), "data", "merge", set(), False),
    "merge_mor_deferred": (
        lambda s, t: t.merge(
            _df(s, [(5, 30, "d5", "upsert"), (6, 30, "d6", "upsert")]),
            "c", mode="mor"),
        _buckets([5, 6]), "data", "merge", set(), False),
    # the Arrow route: a known small batch, winners written with pyarrow
    "merge_mor_arrow": (
        lambda s, t: t.merge(
            _df(s, [(5, 30, "d5", "upsert"), (6, 30, "d6", "upsert")]),
            "c", mode="mor", src_rows=2),
        _buckets([5, 6]), "data", "merge", set(), False),
    "append_deltas": (
        _append_copy, _first_base_bucket, "data", "merge", set(), True),
    "compact": (
        lambda s, t: t.compact(), _dirty, "maintenance", None, set(), True),
    "cluster_by": (
        lambda s, t: t.cluster_by(("ts",)),
        _nonempty, "maintenance", None, set(), True),
    "rebucket": (
        lambda s, t: t.rebucket(3),
        _const("all"), "maintenance", None, set(), True),
    "rename_column": (
        lambda s, t: t.rename_column("v", "w"),
        _const("all"), "maintenance", None, set(), True),
    "add_columns": (
        lambda s, t: t.add_columns({"x": "int"}),
        _const("all"), "maintenance", None, {"ddl"}, True),
    "drop_column": (
        lambda s, t: t.drop_column("v"),
        _const("all"), "maintenance", None, {"ddl"}, False),
    "delete_where": (
        lambda s, t: t.delete_where("k = 7", "c"),
        _buckets([7]), "data", "dml", {"dml"}, False),
    "delete_where_no_match": (
        lambda s, t: t.delete_where("k = 9999", "c"),
        _const([]), "data", "dml", {"dml"}, True),
    "update_where": (
        lambda s, t: t.update_where("k = 8", {"v": "'u8'"}, "c"),
        _buckets([8]), "data", "dml", {"dml"}, False),
    "expire_tombstones": (
        lambda s, t: t.expire_tombstones(1000),
        _const("all"), "maintenance", None, set(), True),
    "overwrite": (
        lambda s, t: t.overwrite(
            _df(s, [(i, 5, f"o{i}", "insert") for i in range(30)]), "c"),
        _const("all"), "data", "overwrite", set(), False),
    "verify_layout": (
        _verify_layout, _const([]), "maintenance", None, set(), True),
}


def _state(t, width=None):
    """read() as sorted row tuples; ``width`` keeps the leading columns
    (add_columns appends a null column, rename keeps positions)."""
    return sorted(tuple(r)[:width] for r in t.read().collect())


def _files_sorted_by_key(t, m):
    for fl in m["files"].values():
        for p in fl:
            ks = pq.read_table(os.path.join(t.root, p), columns=["k"])
            ks = ks.column("k").to_pylist()
            if ks != sorted(ks):
                return False
    return True


@pytest.mark.parametrize("case", list(CASES))
def test_commit_manifest(spark, tmp_path, case):
    op, expect, kind, commit_op, extra, preserves = CASES[case]
    t = LakeTable(spark, str(tmp_path / "t"), key_cols=("k",),
                  order_cols=("ts",), n_buckets=4)
    t.merge(_df(spark, [(i, 10, f"a{i}", "insert") for i in range(200)]),
            "b0", mode="cow")
    # outstanding deltas, a tombstone among them, for the folding ops
    t.merge(_df(spark, [(3, 20, None, "delete"), (9, 20, "m9", "upsert")]),
            "b1", mode="mor")
    pm = t._load_manifest()
    before = _state(t)
    touched = expect(t, pm)

    op(spark, t)

    m = t._load_manifest()
    assert m["parent"] == pm["version"]
    assert set(m) == BASE_KEYS | ({"commit_op"} if commit_op else set()) | extra
    assert m["kind"] == kind
    assert m.get("commit_op") == commit_op
    assert m["touched_buckets"] == touched
    assert t.verify()["ok"]
    got = t.stats_agg([("count", "*"), ("min", "k"), ("max", "ts")]).collect()[0]
    scan = t.read().agg(F.count(F.lit(1)), F.min("k"), F.max("ts")).collect()[0]
    assert tuple(got) == tuple(scan)
    if preserves:
        assert _state(t, len(before[0])) == before
    if case in ("rebucket", "expire_tombstones"):
        # full rewrites sort by key within each bucket, like every rewrite
        assert _files_sorted_by_key(t, m)
