"""Merge-on-read delta files: parity with CoW, tombstone defense, auto mode
decision, compaction, exactly-once, batch-segment chaining, and the
rollback-branch snapshot-id fix."""

import pandas as pd
import pytest

from gamechanger_data_spark.datagen import FeedSpec, generate_batch, pandas_oracle
from gamechanger_data_spark.functions.text import normalize_text_pandas
from gamechanger_data_spark.sinks import table as table_mod
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.streaming.driver import apply_batch

SPEC = FeedSpec(n_convs=40, max_turns=6, n_batches=3, events_per_batch=400, seed=11,
                evolve_batch=2)


def _apply(spark, table, b, **kw):
    pdf = generate_batch(SPEC, b)
    return apply_batch(table, spark.createDataFrame(pdf), f"b{b}", **kw)


def _final_state(n_batches=SPEC.n_batches):
    ev = pd.concat(
        [generate_batch(SPEC, b) for b in range(n_batches)], ignore_index=True
    )
    return pandas_oracle(ev, normalize=normalize_text_pandas)


def _assert_matches_oracle(table, want):
    got = table.read().orderBy("conv_id", "turn_idx").toPandas()
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
    )


def test_mor_matches_cow_and_oracle(spark, tmp_path):
    """The same feed (dupes, deletes, revokes, out-of-order ts, schema
    evolution in batch 2) must converge to the same state whether every
    batch is CoW or every batch is a delta append."""
    cow = LakeTable(spark, str(tmp_path / "cow"), n_buckets=4, merge_mode="cow")
    mor = LakeTable(spark, str(tmp_path / "mor"), n_buckets=4, merge_mode="mor")
    for b in range(SPEC.n_batches):
        assert _apply(spark, cow, b)["mode"] == "cow"
        assert _apply(spark, mor, b)["mode"] == "mor"
    want = _final_state()
    _assert_matches_oracle(cow, want)
    _assert_matches_oracle(mor, want)
    # MOR never rewrote the (empty) base: all data lives in delta files
    m = mor._load_manifest()
    assert any(m["deltas"].values())
    # evolved column present through the delta-resolve read path
    assert "tool_version" in mor.read().columns


def test_mor_tombstone_defends_key_against_late_arrival(spark, tmp_path):
    """delete (ts=20) in one delta batch must defend the key against an
    out-of-order older update (ts=15) arriving in a LATER delta batch."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor")
    schema = ("op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp, event_seq long")

    def ev(op, ts, seq, text):
        return (op, "c1", 0, "user", text, None,
                pd.Timestamp(ts).to_pydatetime(), seq)

    b0 = spark.createDataFrame([ev("insert", "2024-01-01 00:00:10", 1, "v1")], schema)
    b1 = spark.createDataFrame([ev("delete", "2024-01-01 00:00:20", 2, "")], schema)
    b2 = spark.createDataFrame([ev("update", "2024-01-01 00:00:15", 3, "zombie")], schema)
    apply_batch(t, b0, "b0")
    apply_batch(t, b1, "b1")
    apply_batch(t, b2, "b2")
    assert t.read().count() == 0  # the zombie must not resurrect
    # and compaction preserves the tombstone's defense
    t.compact()
    assert t.read().count() == 0


def test_auto_mode_dense_then_trickle(spark, tmp_path):
    """auto: a dense first batch seeds via CoW; a tiny follow-up batch is a
    delta append; state still matches the oracle."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)  # merge_mode=auto
    r0 = _apply(spark, t, 0)
    assert r0["mode"] == "cow"
    # trickle: 3 rows against a 400-event base
    b1 = generate_batch(SPEC, 1).head(3)
    r1 = apply_batch(t, spark.createDataFrame(b1), "trickle")
    assert r1["mode"] == "mor"
    ev = pd.concat([generate_batch(SPEC, 0), b1], ignore_index=True)
    _assert_matches_oracle(t, pandas_oracle(ev, normalize=normalize_text_pandas))


def test_compact_folds_deltas(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="mor")
    for b in range(SPEC.n_batches):
        _apply(spark, t, b)
    before = t.read().orderBy("conv_id", "turn_idx").toPandas()
    r = t.compact()
    assert not r["skipped"] and r["compacted_buckets"] > 0
    m = t._load_manifest()
    assert not any(m["deltas"].values())
    assert sum(m["delta_rows"].values()) == 0
    after = t.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(before, after)
    # double-compact is a no-op
    assert t.compact()["skipped"]


def test_delta_cap_forces_cow_fold(spark, tmp_path):
    """auto mode bounds read amplification: once a bucket stacks
    mor_max_deltas delta files, the next merge touching it goes CoW."""
    t = LakeTable(
        spark, str(tmp_path / "t"), n_buckets=1, mor_max_deltas=2, mor_fraction=0.9
    )
    big = generate_batch(SPEC, 0)
    apply_batch(t, spark.createDataFrame(big), "seed")
    modes = []
    for i in range(3):
        small = generate_batch(SPEC, 1).iloc[i * 3: i * 3 + 3]
        modes.append(
            apply_batch(t, spark.createDataFrame(small), f"s{i}")["mode"]
        )
    assert modes[:2] == ["mor", "mor"]
    assert modes[2] == "cow"  # cap reached -> fold
    m = t._load_manifest()
    assert not any(m["deltas"].values())


def test_exactly_once_under_mor(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor")
    _apply(spark, t, 0)
    n = t.read().count()
    r = _apply(spark, t, 0)  # replay
    assert r["skipped"]
    assert t.read().count() == n


def test_batch_segment_chaining(spark, tmp_path, monkeypatch):
    """Manifests stay O(1): the inline applied-batch tail rolls into chained
    immutable segment files; membership is preserved across the roll."""
    monkeypatch.setattr(table_mod, "BATCH_SEGMENT_SIZE", 3)
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=1)
    small = generate_batch(SPEC, 0).head(4)
    for i in range(8):
        apply_batch(t, spark.createDataFrame(small.iloc[[i % 4]]), f"seg{i}")
    m = t._load_manifest()
    assert len(m["applied_batches"]) < 3
    assert m["batches_segment"] is not None
    assert t.applied_batches() >= {f"seg{i}" for i in range(8)}
    # idempotence still holds for an id that lives in a segment, not the tail
    assert apply_batch(t, spark.createDataFrame(small.iloc[[0]]), "seg0")["skipped"]
    # a fresh handle (cold segment cache) sees the same set
    t2 = LakeTable(spark, str(tmp_path / "t"), n_buckets=1)
    assert t2.applied_batches() >= {f"seg{i}" for i in range(8)}


def test_rollback_branch_does_not_clobber_snapshots(spark, tmp_path):
    """After rollback_to_snapshot(v), a new commit must allocate PAST the
    abandoned branch's manifests — time travel to those versions must keep
    returning their original data (round-1 ADVICE: snap dir collision)."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    _apply(spark, t, 0)
    _apply(spark, t, 1)
    v2 = t.current_version()
    v2_state = t.read(version=v2).orderBy("conv_id", "turn_idx").toPandas()
    t.rollback_to_snapshot(1)
    r = _apply(spark, t, 2)  # divergent commit
    assert r["version"] > v2  # allocated past the abandoned branch
    # the abandoned branch's snapshot is still intact
    again = t.read(version=v2).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(v2_state, again)


def test_lookup_key_through_deltas(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="mor")
    _apply(spark, t, 0)
    _apply(spark, t, 1)
    full = t.read().toPandas()
    for i in range(0, min(len(full), 20), 5):
        row = full.iloc[i]
        got = t.lookup_key(conv_id=row.conv_id, turn_idx=int(row.turn_idx)).toPandas()
        assert len(got) == 1
        assert got.iloc[0].text == row.text


def test_changelog_after_mor_commit(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="mor")
    _apply(spark, t, 0)
    _apply(spark, t, 1)
    ch = t.changelog(t.current_version()).toPandas()
    b1 = generate_batch(SPEC, 1)
    lo, hi = b1.event_seq.min(), b1.event_seq.max()
    assert len(ch) > 0
    assert ((ch.event_seq >= lo) & (ch.event_seq <= hi)).all()


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_read_plan_shuffle_free_when_compacted(spark, tmp_path):
    """A delta-free table's read() must be a plain parquet scan — no
    Exchange, no aggregate; after MOR commits the read resolves via the
    LWW aggregate; after compact() the plan is shuffle-free again."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="cow")
    _apply(spark, t, 0)
    p = _plan(t.read())
    assert "Exchange" not in p and "Aggregate" not in p

    t2 = LakeTable(spark, str(tmp_path / "t2"), n_buckets=4, merge_mode="mor")
    _apply(spark, t2, 0)
    p2 = _plan(t2.read())
    # base+delta LWW resolution (max-of-struct compiles to SortAggregate)
    assert "Aggregate" in p2
    t2.compact()
    p3 = _plan(t2.read())
    assert "Exchange" not in p3 and "Aggregate" not in p3


def test_expire_snapshots_gcs_folded_delta_files(spark, tmp_path):
    """After compact() + expire_snapshots, the physical delta files of
    expired snapshots are removed, and the current state stays intact."""
    import os

    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor")
    _apply(spark, t, 0)
    _apply(spark, t, 1)
    n_before = t.read().count()
    t.compact()
    removed = t.expire_snapshots(keep_last=1, grace_sec=0)
    assert removed > 0
    # no delta files remain on disk anywhere
    leftovers = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(str(tmp_path / "t" / "data"))
        for f in fs
        if "delta-" in dp and f.endswith(".parquet")
    ]
    assert leftovers == []
    assert t.read().count() == n_before


def test_rebucket_folds_deltas(spark, tmp_path):
    """rebucket() must resolve outstanding deltas while rewriting under the
    new bucket spec — state parity against the oracle afterwards."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor")
    for b in range(SPEC.n_batches):
        _apply(spark, t, b)
    t.rebucket(8)
    m = t._load_manifest()
    assert not any(m.get("deltas", {}).values())
    _assert_matches_oracle(t, _final_state())


def test_replay_feed_compact_cadence(spark, tmp_path):
    """replay_feed(compact_every=1) folds deltas after every applied batch;
    final state parity holds and no deltas remain."""
    from gamechanger_data_spark.datagen import write_feed
    from gamechanger_data_spark.streaming.driver import replay_feed

    write_feed(str(tmp_path / "feed"), SPEC)
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="mor")
    replay_feed(spark, str(tmp_path / "feed"), t, compact_every=1)
    m = t._load_manifest()
    assert not any(m.get("deltas", {}).values())
    _assert_matches_oracle(t, _final_state())


def test_replay_feed_maintain_cadence(spark, tmp_path):
    """replay_feed(maintain_every=k): the driver self-maintains — every
    bucket's delta stack stays below the forced-fold cap, past-retention
    files are expired, parity holds, and each cycle's report is visible
    both in the batch result and as a lineage summary row."""
    import os

    from gamechanger_data_spark.datagen import write_feed
    from gamechanger_data_spark.streaming.driver import replay_feed

    write_feed(str(tmp_path / "feed"), SPEC)
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="mor",
                  mor_max_deltas=4)
    results = replay_feed(
        spark, str(tmp_path / "feed"), t, maintain_every=1,
        maintain_opts={"compact_min_deltas": 1, "keep_last": 1,
                       "grace_sec": 0.0},
    )
    reports = [r["maintenance"] for r in results if "maintenance" in r]
    assert len(reports) == SPEC.n_batches  # one cycle per applied batch
    assert all("compacted_buckets" in rep and "expired_files" in rep
               for rep in reports)
    assert sum(rep["compacted_buckets"] for rep in reports) > 0
    assert sum(rep["expired_files"] for rep in reports) > 0  # retention ran
    m = t._load_manifest()
    assert all(len(fl) < t.mor_max_deltas
               for fl in m.get("deltas", {}).values())
    assert not any(m.get("deltas", {}).values())  # threshold-1 folds all
    # per-cycle reports ride lineage() as summary rows
    lin = t.lineage().toPandas()
    maint = lin[lin.batch_id.str.startswith("__maintain__-")]
    assert len(maint) == sum(
        1 for rep in reports if rep["compacted_buckets"]
    )
    assert (maint.partition_id == -1).all()
    # expired snapshots really left the disk, referenced files remain
    _assert_matches_oracle(t, _final_state())
    live = {os.path.join(t.root, p)
            for fl in m["files"].values() for p in fl}
    assert all(os.path.exists(p) for p in live)


def test_expire_tombstones_on_mor_only_table(spark, tmp_path):
    """A table whose data lives ONLY in delta files (files == {}) must
    still run tombstone GC (regression: the files-only guard no-op'd)."""
    import datetime as dt

    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2, merge_mode="mor")
    schema = ("op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp, event_seq long")
    rows = [
        ("insert", "c1", 0, "user", "hi", None,
         dt.datetime(2024, 1, 1, 0, 0, 10), 1),
        ("delete", "c2", 0, "user", "", None,
         dt.datetime(2024, 1, 1, 0, 0, 20), 2),
    ]
    apply_batch(t, spark.createDataFrame(rows, schema), "b0")
    assert t._load_manifest()["files"] == {} or not any(
        t._load_manifest()["files"].values()
    )
    r = t.expire_tombstones(older_than=dt.datetime(2024, 1, 2))
    assert not r["skipped"]
    raw = t.read_buckets(range(2), include_tombstones=True)
    assert raw.filter("__deleted").count() == 0  # tombstone reclaimed
    assert t.read().count() == 1  # live row intact


def test_maintain_compacts_deep_stacks_and_expires(spark, tmp_path):
    """maintain() = threshold compaction + snapshot expiry in one
    maintenance-cadence call: only buckets at/over the delta threshold
    fold, state is unchanged, and expired data files are counted."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4,
                  merge_mode="auto", mor_max_deltas=8)
    _apply(spark, t, 0)  # dense batch -> CoW base
    # pile MOR deltas (forced: the tiny base makes auto pick CoW)
    for i in range(1, 4):
        pdf = generate_batch(SPEC, 1).head(60)
        r = t.merge(spark.createDataFrame(pdf), f"d{i}", mode="mor")
        assert r["mode"] == "mor", r
    m = t._load_manifest()
    before = {int(b): len(fl) for b, fl in m.get("deltas", {}).items() if fl}
    assert before
    threshold = max(before.values())  # only the deepest stacks qualify
    want = t.read().orderBy("conv_id", "turn_idx").toPandas()

    rep = t.maintain(compact_min_deltas=threshold, keep_last=1, grace_sec=0)
    assert rep["compacted_buckets"] == sum(
        1 for n in before.values() if n >= threshold
    )
    assert rep["expired_files"] > 0
    m2 = t._load_manifest()
    after = {int(b): len(fl) for b, fl in m2.get("deltas", {}).items() if fl}
    # every compacted bucket cleared; survivors were below the threshold
    assert all(before[b] < threshold for b in after)
    got = t.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True))
    # a second maintain on a clean table compacts nothing
    rep2 = t.maintain(compact_min_deltas=threshold, keep_last=1, grace_sec=0)
    assert rep2["compacted_buckets"] == 0


def test_forced_mor_deferred_touched_set(spark, tmp_path):
    """A forced-MOR merge with no caller-supplied touched set skips the
    pre-write distinct scan: at unknown batch size it derives the touched
    buckets from the delta write's partition dirs, at a known small size
    (the Arrow route) from the collected winners' ``__bucket`` column.
    Either way the registered set must be exactly the buckets that
    received winners, subset merges must leave other buckets' delta
    stacks alone, and state must match the all-CoW twin."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4, merge_mode="cow")
    twin = LakeTable(spark, str(tmp_path / "twin"), n_buckets=4, merge_mode="cow")
    _apply(spark, t, 0)
    _apply(spark, twin, 0)

    # a one-row batch touches a strict subset of buckets (keys include
    # turn_idx, so one row = one bucket)
    pdf = generate_batch(SPEC, 1)
    for bid, one, src_rows in (("tiny", pdf.iloc[:1], None),
                               ("tiny-arrow", pdf.iloc[1:2], 1)):
        before = t._load_manifest()["deltas"]
        r = t.merge(spark.createDataFrame(one), bid, mode="mor",
                    src_rows=src_rows)
        assert r["mode"] == "mor" and not r["skipped"]
        m = t._load_manifest()
        grew = sorted(int(b) for b, fl in m["deltas"].items()
                      if len(fl) > len(before.get(b, [])))
        assert grew and len(grew) < t.n_buckets
        assert r["touched_buckets"] == len(grew)
        # untouched buckets registered no delta rows
        for b in range(t.n_buckets):
            if b not in grew:
                assert m["deltas"].get(str(b), []) == before.get(str(b), [])
        twin.merge(spark.createDataFrame(one), bid, mode="cow")

    # state parity with the CoW twin applying the same rows
    got = t.read().orderBy("conv_id", "turn_idx").toPandas()
    want = twin.read().orderBy("conv_id", "turn_idx").toPandas()
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True), want[cols].reset_index(drop=True),
        check_dtype=False,
    )
