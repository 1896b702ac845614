"""Structured Streaming CDC-out source (``format("lakecdc")``): offsets
are snapshot versions, micro-batches are between-snapshots diffs, rows
computed executor-side by one pyarrow kernel. Parity oracle: the
engine's own ``diff()`` over the same spans.

Reference analog: consumers tailing crawler output prefixes
(gc_crawler status tracking) — here the manifest chain is the feed.
"""

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.streaming.cdc_source import register_lakecdc

SCH = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("ts", T.LongType()),
    T.StructField("val", T.StringType()),
    T.StructField("op", T.StringType()),
])


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCH)


@pytest.fixture
def table(spark, tmp_path):
    register_lakecdc(spark)
    t = LakeTable(spark, str(tmp_path / "t"), key_cols=("k",),
                  order_cols=("ts",), n_buckets=4)
    t.merge(_mk(spark, [(i, 10, f"a{i}", "upsert") for i in range(20)]), "b0")
    t.merge(_mk(spark, [(5, 20, "upd", "upsert"), (6, 20, None, "delete"),
                        (9, 20, "rv", "revoke")]), "b1", mode="mor")
    return t


def _norm(rows):
    """Row dicts as sorted item tuples, in one order that tolerates NULLs."""
    return sorted((tuple(sorted(r.items())) for r in rows), key=repr)


def _drain(spark, root, cp, starting=None, cols=("k", "val", "change_op")):
    """One availableNow pass; returns the new rows as ``cols`` tuples, or
    every column through :func:`_norm` when ``cols`` is None."""
    got = []
    r = spark.readStream.format("lakecdc").option("path", root)
    if starting is not None:
        r = r.option("startingVersion", starting)
    q = (
        r.load()
        .writeStream.foreachBatch(
            lambda df, _e: got.extend(x.asDict() for x in df.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", cp)
        .start()
    )
    q.awaitTermination(180)
    if cols is None:
        return _norm(got)
    return sorted(tuple(x[c] for c in cols) for x in got)


def _diff_rows(t, start, end=None):
    return _norm(r.asDict() for r in t.diff(start, end).collect())


def _kernel_rows(t, start, end=None):
    """lakecdc's rows for the span ``(start, end]``, from the stream
    reader's own ``partitions()`` and ``read()`` without a query."""
    end = t.current_version() if end is None else end
    r = _reader(t)
    parts = r.partitions({"version": start}, {"version": end})
    return _norm(row for p in parts for b in r.read(p) for row in b.to_pylist())


def test_full_history_matches_diff(spark, tmp_path, table):
    t = table
    got = _drain(spark, t.root, str(tmp_path / "cp"), starting=0)
    exp = sorted(
        (r["k"], r["val"], r["change_op"])
        for r in t.diff(0, t.current_version()).collect()
    )
    assert got == exp
    # MOR deltas resolved by the reader: k=5 streams its DELTA value
    assert (5, "upd", "upsert") in got
    assert (6, None, "delete") in got
    assert (9, "rv", "revoke") in got


def test_checkpoint_resume_exactly_once(spark, tmp_path, table):
    t = table
    cp = str(tmp_path / "cp")
    first = _drain(spark, t.root, cp, starting=0)
    assert len(first) == 20
    # no new commits: nothing re-delivered
    assert _drain(spark, t.root, cp) == []
    # new commits stream exactly their span
    t.delete_where("k = 7", "b2")
    t.merge(_mk(spark, [(3, 30, "x3", "upsert")]), "b3")
    inc = _drain(spark, t.root, cp)
    assert inc == [(3, "x3", "upsert"), (7, "a7", "delete")]
    # and again: drained
    assert _drain(spark, t.root, cp) == []


def test_default_start_is_current_head(spark, tmp_path, table):
    t = table
    cp = str(tmp_path / "cp")
    assert _drain(spark, t.root, cp) == []  # nothing before the head
    t.merge(_mk(spark, [(1, 40, "new1", "upsert")]), "b2")
    assert _drain(spark, t.root, cp) == [(1, "new1", "upsert")]


def test_schema_evolution_null_fills_old_commits(spark, tmp_path, table):
    t = table
    t.add_columns({"lang": "string"})
    t.merge(
        spark.createDataFrame([(2, 50, "x2", "en", "upsert")], T.StructType(
            SCH.fields[:3] + [T.StructField("lang", T.StringType())]
            + [SCH.fields[3]]
        )),
        "b2",
    )
    got = []
    q = (
        spark.readStream.format("lakecdc").option("path", t.root)
        .option("startingVersion", 0).load()
        .writeStream.foreachBatch(
            lambda df, _e: got.extend(
                (x["k"], x["val"], x["lang"], x["change_op"])
                for x in df.collect()
            )
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.awaitTermination(180)
    by_k = {g[0]: g for g in got}
    assert by_k[2] == (2, "x2", "en", "upsert")
    assert by_k[1][2] is None  # pre-evolution row null-fills lang


def test_rebucket_span_single_partition_correct(spark, tmp_path, table):
    t = table
    cp = str(tmp_path / "cp")
    base = _drain(spark, t.root, cp, starting=0)
    t.rebucket(8)
    t.merge(_mk(spark, [(4, 60, "x4", "upsert")]), "b2")
    inc = _drain(spark, t.root, cp)
    # the rebucket rewrite itself changes no logical row; only the merge does
    assert inc == [(4, "x4", "upsert")]


# Extra spans over the fixture table: (commits before the span, commits
# inside it), each commit as (rows, merge mode). Every span must stream
# exactly diff() over it, and the full history after it too.
SPANS = {
    "null_flips": (
        [([(30, 30, None, "upsert")], None)],
        [([(30, 40, "now", "upsert"), (1, 40, None, "upsert")], None)],
    ),
    "revoke_then_unrevoke": (
        [([(4, 30, "r4", "revoke")], None)],
        [([(4, 40, "u4", "upsert"), (9, 40, "u9", "upsert")], None),
         ([(8, 40, "r8", "revoke")], "mor"),
         ([(8, 50, "u8", "upsert")], "mor")],
    ),
    "delete_then_reinsert": (
        [],
        [([(7, 30, None, "delete")], None),
         ([(7, 40, "again", "upsert")], None)],
    ),
    "mor_deltas_only": (
        [],
        [([(11, 30, "m11", "upsert"), (12, 30, None, "delete")], "mor"),
         ([(11, 40, "m11b", "upsert"), (40, 30, "new", "upsert")], "mor")],
    ),
    "high_fanout": (
        [],
        [([(i, 30, f"f{i}", "upsert") for i in range(20) if i % 5]
          + [(100 + i, 30, f"n{i}", "upsert") for i in range(8)], None),
         ([(i, 40, None, "delete") for i in range(0, 20, 5)], "mor")],
    ),
}


@pytest.mark.parametrize("span", sorted(SPANS))
def test_span_matches_diff(spark, tmp_path, table, span):
    t = table
    before, inside = SPANS[span]
    for i, (rows, mode) in enumerate(before):
        t.merge(_mk(spark, rows), f"pre{i}", mode=mode)
    start = t.current_version()
    for i, (rows, mode) in enumerate(inside):
        t.merge(_mk(spark, rows), f"in{i}", mode=mode)
    got = _drain(spark, t.root, str(tmp_path / "cp"), starting=start, cols=None)
    assert got == _diff_rows(t, start)
    assert got  # every span changes something
    assert _kernel_rows(t, 0) == _diff_rows(t, 0)


def test_rename_full_history_matches_diff_and_read(spark, tmp_path, table):
    t = table
    t.rename_column("val", "v2")
    got = _drain(spark, t.root, str(tmp_path / "cp"), starting=0,
                 cols=("k", "v2", "change_op"))
    assert got == sorted(
        (r["k"], r["v2"], r["change_op"])
        for r in t.diff(0, t.current_version()).collect()
    )
    # every row was written before the rename; none may stream as NULL
    assert (1, "a1", "upsert") in got
    assert sorted((k, v) for k, v, op in got if op != "delete") == sorted(
        (r["k"], r["v2"]) for r in t.read().collect()
    )


def test_rename_then_cow_merge_streams_only_merged_key(spark, tmp_path, table):
    t = table
    t.rename_column("val", "v2")
    start = t.current_version()
    t.merge(
        spark.createDataFrame([(3, 30, "x3", "upsert")],
                              "k int, ts long, v2 string, op string"),
        "b2", mode="cow",
    )
    got = _drain(spark, t.root, str(tmp_path / "cp"), starting=start,
                 cols=("k", "v2", "change_op"))
    assert got == [(3, "x3", "upsert")]
    assert _kernel_rows(t, start) == _diff_rows(t, start)


def test_null_key_part_pairs_with_itself(spark, tmp_path):
    """A NULL key part equals itself, as in merge's LWW: a row keyed
    ``k=None`` that did not change is absent from diff() and lakecdc
    when another key of its bucket is merged."""
    register_lakecdc(spark)
    t = LakeTable(spark, str(tmp_path / "t"), key_cols=("k",),
                  order_cols=("ts",), n_buckets=1)
    t.merge(_mk(spark, [(None, 10, "nk", "upsert"), (1, 10, "a", "upsert"),
                        (2, 10, "b", "upsert")]), "b0")
    start = t.current_version()
    t.merge(_mk(spark, [(1, 20, "a2", "upsert")]), "b1")
    diffed = [(r["k"], r["val"], r["change_op"])
              for r in t.diff(start).collect()]
    assert diffed == [(1, "a2", "upsert")]
    assert [(r["k"], r["val"], r["change_op"])
            for r in t.changelog().collect()] == diffed
    assert _kernel_rows(t, start) == _diff_rows(t, start)
    assert _kernel_rows(t, 0) == _diff_rows(t, 0)


ARR = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("ts", T.LongType()),
    T.StructField("tags", T.ArrayType(T.DoubleType())),
    T.StructField("op", T.StringType()),
])


def test_array_column_spans_match_diff(spark, tmp_path):
    """An ARRAY column pairs and compares by value, NULL equal to NULL
    and NaN equal to NaN: a MOR span and a CoW span stream exactly
    diff()'s rows, and the rows of a rewritten bucket that did not
    change are absent from both (diff's row hash and the kernel's
    compare agree on them)."""
    register_lakecdc(spark)
    t = LakeTable(spark, str(tmp_path / "t"), key_cols=("k",),
                  order_cols=("ts",), n_buckets=2)
    nan = float("nan")
    t.merge(spark.createDataFrame(
        [(i, 10, None if i % 4 == 0 else [float(i), nan, None], "upsert")
         for i in range(12)], ARR), "b0")
    spans = {
        "mor": [(1, 20, [9.0], "upsert"), (2, 20, [], "upsert"),
                (3, 20, None, "delete")],
        "cow": [(4, 30, [4.0], "upsert"), (6, 30, None, "upsert")],
    }
    for mode, rows in spans.items():
        start = t.current_version()
        t.merge(spark.createDataFrame(rows, ARR), f"b-{mode}", mode=mode)
        assert sorted(r["k"] for r in t.diff(start).collect()) == [
            r[0] for r in rows
        ]
        assert _kernel_rows(t, start) == _diff_rows(t, start)
    got = _drain(spark, t.root, str(tmp_path / "cp"), starting=start,
                 cols=("k", "change_op"))
    assert got == [(4, "upsert"), (6, "upsert")]
    # by repr: a NaN element is unequal to itself in Python
    assert repr(_kernel_rows(t, 0)) == repr(_diff_rows(t, 0))


def test_read_imports_no_pandas(spark, tmp_path, table):
    """The executor-side reader runs with pandas unimportable. A meta-path
    finder blocks it: a ``sys.modules["pandas"] = None`` entry would break
    pyarrow itself, whose pandas shim takes the entry for a module."""
    t = table
    t.merge(_mk(spark, [(3, 30, "x3", "upsert")]), "b2")
    t.merge(_mk(spark, [(4, 40, None, "delete")]), "b3", mode="mor")
    head = t.current_version()
    spans = [(0, head), (1, head), (2, head)]
    script = textwrap.dedent("""
        import json, sys

        class _NoPandas:
            def find_spec(self, name, path=None, target=None):
                if name.split(".")[0] == "pandas":
                    raise ImportError(name + " is blocked")

        sys.meta_path.insert(0, _NoPandas())
        repo, root, schema, spans = json.loads(sys.argv[1])
        sys.path.insert(0, repo)
        from gamechanger_data_spark.streaming.cdc_source import (
            LakeCDCStreamReader,
        )
        r = LakeCDCStreamReader({"path": root}, schema)
        out = []
        for s, e in spans:
            parts = r.partitions({"version": s}, {"version": e})
            out.append([row for p in parts for b in r.read(p)
                        for row in b.to_pylist()])
        assert "pandas" not in sys.modules
        print(json.dumps(out))
    """)
    from gamechanger_data_spark.streaming.cdc_source import LakeCDCDataSource

    schema = LakeCDCDataSource({"path": t.root}).schema().jsonValue()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", script,
         json.dumps([repo, t.root, schema, spans])],
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr
    got = json.loads(res.stdout.strip().splitlines()[-1])
    for (s, e), rows in zip(spans, got):
        assert _norm(rows) == _diff_rows(t, s, e), (s, e)


def test_empty_table_refused(spark, tmp_path):
    register_lakecdc(spark)
    root = str(tmp_path / "empty")
    LakeTable(spark, root, key_cols=("k",), order_cols=("ts",), n_buckets=2)
    with pytest.raises(Exception, match="empty table"):
        (spark.readStream.format("lakecdc").option("path", root).load())


# ---------------- maxVersionsPerBatch admission control ----------------


def _reader(table, **opts):
    from gamechanger_data_spark.streaming.cdc_source import (
        LakeCDCDataSource,
        LakeCDCStreamReader,
    )
    ds = LakeCDCDataSource({"path": table.root})
    schema = ds.schema()
    options = {"path": table.root}
    options.update({k.lower(): str(v) for k, v in opts.items()})
    return LakeCDCStreamReader(options, schema.jsonValue())


def test_throttle_bounds_offset_advance(spark, table):
    # table has 2 commits; add 3 more so the history is 5 deep
    for i in range(3):
        table.merge(_mk(spark, [(i, 30 + i, f"x{i}", "upsert")]), f"bx{i}")
    head = table.current_version()
    r = _reader(table, startingVersion=0, maxVersionsPerBatch=2)
    assert r.initialOffset() == {"version": 0}
    seen = [0]
    for _ in range(10):
        end = r.latestOffset()["version"]
        if end == seen[-1]:
            break
        # the planned batch is (prev, end]; partitions() must accept it
        r.partitions({"version": seen[-1]}, {"version": end})
        assert end - seen[-1] <= 2
        seen.append(end)
    assert seen[-1] == head          # converges to head
    assert len(seen) >= 3            # ... in more than one throttled step


def test_throttle_restart_resyncs_and_throttles(spark, table):
    head = table.current_version()
    # before ANY consumed point is known (fresh stream pre-initialOffset,
    # or a restart before recovery), latestOffset must report head —
    # anything lower could regress a committed checkpoint offset
    r = _reader(table, startingVersion=0, maxVersionsPerBatch=1)
    assert r.latestOffset() == {"version": head}
    # restart recovery: Spark re-plans the last checkpointed span via
    # partitions(), which resyncs the cursor — new batches throttle
    r.partitions({"version": head}, {"version": head})
    table.merge(_mk(spark, [(50, 99, "z", "upsert")]), "bz")
    table.merge(_mk(spark, [(51, 99, "z", "upsert")]), "bz2")
    nxt = r.latestOffset()["version"]
    assert nxt == head + 1  # one version per batch from here on
    # idempotent: repeated latestOffset calls (offset WAL + progress
    # reporting happen in the same micro-batch) must NOT stack windows
    assert r.latestOffset()["version"] == head + 1


def test_throttled_stream_delivers_all_rows_exactly_once(spark, tmp_path, table):
    # end-to-end: a fresh stream's FIRST batch is unthrottled (the
    # engine asks for latest before initial — see latestOffset); every
    # restarted run recovers its checkpoint and then consumes exactly
    # one throttled span per availableNow invocation
    cp = str(tmp_path / "cp_throttle")
    got = []

    def run():
        q = (
            spark.readStream.format("lakecdc")
            .option("path", table.root)
            .option("startingVersion", 0)
            .option("maxVersionsPerBatch", 1)
            .load()
            .writeStream.foreachBatch(
                lambda df, _e: got.append(
                    [(x["k"], x["val"], x["change_op"]) for x in df.collect()]
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .start()
        )
        q.awaitTermination(180)

    head0 = table.current_version()
    run()  # fresh: one unthrottled batch covering (0, head0]
    assert len(got) == 1
    assert sorted(got[0]) == sorted(
        (x["k"], x["val"], x["change_op"])
        for x in table.diff(0, head0).collect()
    )
    # three more commits; each restarted run must consume ONE span
    for i in range(3):
        table.merge(_mk(spark, [(40 + i, 99, f"z{i}", "upsert")]), f"bz{i}")
    for step in range(3):
        run()
        span = (head0 + step, head0 + step + 1)
        assert sorted(got[-1]) == sorted(
            (x["k"], x["val"], x["change_op"])
            for x in table.diff(*span).collect()
        ), f"run {step} did not consume exactly span {span}"
    # nothing left: one more run delivers nothing new
    n = len([r for b in got for r in b])
    run()
    assert len([r for b in got for r in b]) == n
