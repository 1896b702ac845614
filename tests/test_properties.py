"""Property tests for the CDC apply semantics.

The load-bearing engine property: the final table state depends ONLY on the
event set — not on how events are grouped into batches, not on their order
within batches, not on replays. (This is what makes checkpoint resume,
backfill, and late-arrival handling safe at 10^10 events.)
"""

import numpy as np
import pandas as pd
import pytest

from gamechanger_data_spark.datagen import FeedSpec, all_events, pandas_oracle
from gamechanger_data_spark.functions.text import normalize_text_pandas
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.streaming.driver import apply_batch

SPEC = FeedSpec(n_convs=30, max_turns=5, n_batches=3, events_per_batch=400,
                seed=23, evolve_batch=None)
PARITY = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _replay_grouping(spark, tmp_path, events: pd.DataFrame, groups: list[np.ndarray],
                     name: str, merge_mode: str = "auto") -> pd.DataFrame:
    table = LakeTable(spark, str(tmp_path / name), n_buckets=4, merge_mode=merge_mode)
    for i, idx in enumerate(groups):
        batch = events.iloc[idx]
        if len(batch) == 0:
            continue
        apply_batch(table, spark.createDataFrame(batch), f"{name}-b{i}")
    return (
        table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[PARITY]
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("regroup_seed,merge_mode",
                         [(1, "auto"), (2, "auto"), (3, "auto"),
                          (1, "mor"), (3, "mor")])
def test_final_state_invariant_under_batching(spark, tmp_path, regroup_seed,
                                              merge_mode):
    """The final state depends only on the EVENT SET — not on batch
    grouping, in-batch order, or the CoW/MOR write path chosen."""
    events = all_events(SPEC)
    want = pandas_oracle(events, normalize=normalize_text_pandas)[PARITY].reset_index(
        drop=True
    )

    rng = np.random.default_rng(regroup_seed)
    n = len(events)
    # random number of batches, random assignment, shuffled order inside
    n_batches = int(rng.integers(1, 6))
    assign = rng.integers(0, n_batches, n)
    groups = [rng.permutation(np.flatnonzero(assign == b)) for b in range(n_batches)]

    got = _replay_grouping(
        spark, tmp_path, events, groups, f"g{regroup_seed}{merge_mode}",
        merge_mode=merge_mode,
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_single_batch_equals_multi_batch(spark, tmp_path):
    events = all_events(SPEC)
    one = _replay_grouping(spark, tmp_path, events, [np.arange(len(events))], "one")
    thirds = np.array_split(np.arange(len(events)), 3)
    many = _replay_grouping(spark, tmp_path, events, list(thirds), "many")
    pd.testing.assert_frame_equal(one, many)


def test_delete_tombstone_defends_against_late_arrival(spark, tmp_path):
    """delete at t2 applied before a late insert at t1: row stays deleted
    (the bug class the tombstone design exists for)."""
    import datetime as dt

    t1 = dt.datetime(2024, 1, 1, 0, 0, 0)
    t2 = dt.datetime(2024, 1, 2, 0, 0, 0)
    from gamechanger_data_spark.schema import CHANGE_EVENT_SCHEMA

    ins = [("insert", "c1", 0, "user", "hello", None, t1, 1, "p", None)]
    dele = [("delete", "c1", 0, None, None, None, t2, 2, "p", None)]
    table = LakeTable(spark, str(tmp_path / "tomb"), n_buckets=2)
    apply_batch(table, spark.createDataFrame(dele, CHANGE_EVENT_SCHEMA), "b-del")
    apply_batch(table, spark.createDataFrame(ins, CHANGE_EVENT_SCHEMA), "b-late-ins")
    assert table.read().count() == 0  # late insert must NOT resurrect

    # tombstone GC after retention: row space reclaimed, state unchanged
    table.expire_tombstones(older_than=dt.datetime(2024, 1, 3))
    assert table.read().count() == 0
    raw = table.read_buckets(range(2), include_tombstones=True)
    assert raw.count() == 0  # tombstone physically gone after GC


def test_extreme_hot_key_skew_matches_oracle(spark, tmp_path):
    """One conversation owns ~60% of all events (hot-key pathology): the
    merged state must still be oracle-correct. (The three LWW operators'
    agreement on this frame is pinned in test_lww.py.)"""
    events = hot_key_events()
    table = LakeTable(spark, str(tmp_path / "skew"), n_buckets=4)
    apply_batch(table, spark.createDataFrame(events), "b0")
    got = (
        table.read().orderBy("conv_id", "turn_idx").toPandas()[PARITY]
        .reset_index(drop=True)
    )
    want = pandas_oracle(events, normalize=normalize_text_pandas)[PARITY]
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True),
                                  check_dtype=False)


def hot_key_events() -> pd.DataFrame:
    """A small feed plus 800 updates of three turns of one conversation."""
    base = all_events(FeedSpec(n_convs=20, max_turns=4, n_batches=1,
                               events_per_batch=500, seed=41, evolve_batch=None))
    hot = base.sample(n=800, replace=True, random_state=7).copy()
    hot["conv_id"] = "conv_hot"
    hot["turn_idx"] = (np.arange(len(hot)) % 3).astype("int32")
    hot["event_seq"] = np.arange(1_000_000, 1_000_000 + len(hot))
    return pd.concat([base, hot], ignore_index=True)


@pytest.mark.parametrize("seed", [11, 12])
def test_sync_machinery_tracks_any_batching(spark, tmp_path, seed):
    """Derived tables (changelog-synced copy + incremental rollup) converge
    to the source state regardless of how events were grouped into commits,
    with syncs interleaved at arbitrary points — the materialized-view
    analog of the batching-invariance property above."""
    from gamechanger_data_spark.plans.catalog import conv_rollup
    from gamechanger_data_spark.streaming.driver import (
        sync_aggregate,
        sync_changelog,
    )

    events = all_events(SPEC)
    rng = np.random.default_rng(seed)
    n_batches = int(rng.integers(2, 5))
    assign = rng.integers(0, n_batches, len(events))
    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=4)
    copy = LakeTable(spark, str(tmp_path / "copy"), n_buckets=8)
    roll = LakeTable(
        spark, str(tmp_path / "roll"),
        key_cols=("conv_id",), order_cols=("src_version",), n_buckets=4,
    )
    sync_results = []
    for b in range(n_batches):
        idx = rng.permutation(np.flatnonzero(assign == b))
        if len(idx):
            apply_batch(src, spark.createDataFrame(events.iloc[idx]), f"s{seed}-b{b}")
        if rng.random() < 0.5 or b == n_batches - 1:
            sync_results += sync_changelog(src, copy)
            sync_results += sync_aggregate(src, roll, conv_rollup)
    # every source commit carries offset lineage, so the DELTA path (not
    # the overwrite fallback) is what must have run throughout
    assert not any(r.get("mode") == "overwrite" for r in sync_results)

    want = src.read().orderBy("conv_id", "turn_idx").toPandas()[PARITY].reset_index(drop=True)
    got = copy.read().orderBy("conv_id", "turn_idx").toPandas()[PARITY].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    cols = ["conv_id", "n_turns", "n_revoked", "last_ts", "n_chars"]
    wr = conv_rollup(src.read()).orderBy("conv_id").toPandas()[cols].reset_index(drop=True)
    gr = roll.read().select(*cols).orderBy("conv_id").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(gr, wr, check_dtype=False)


@pytest.mark.parametrize("seed,merge_mode", [(11, "auto"), (12, "mor"), (13, "cow")])
def test_stats_agg_equals_scan_under_random_replay(spark, tmp_path, seed, merge_mode):
    """Metadata-answered aggregates are EXACT regardless of how events
    were grouped, which buckets hold tombstones, and whether deltas are
    outstanding — stats_agg must equal the resolved scan on every mix."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    events = all_events(SPEC)
    idx = rng.permutation(len(events))
    cuts = sorted(rng.choice(np.arange(1, len(events)), size=3, replace=False))
    groups = np.split(idx, cuts)
    table = LakeTable(spark, str(tmp_path / f"p{seed}"), n_buckets=4,
                      merge_mode=merge_mode)
    # pin the schema from the FULL event set: a tiny random group whose
    # tool column is all-null would otherwise infer a bogus type
    sch = spark.createDataFrame(events).schema
    for i, g in enumerate(groups):
        if len(g):
            apply_batch(table, spark.createDataFrame(events.iloc[g], sch),
                        f"p{seed}-b{i}")
    agg = table.stats_agg([
        ("count", "*", "n"), ("count", "tool", "nt"),
        ("min", "ts", "mn"), ("max", "ts", "mx"),
        ("min", "turn_idx", "mnt"), ("max", "turn_idx", "mxt"),
    ]).collect()[0]
    truth = table.read().agg(
        F.count(F.lit(1)).alias("n"), F.count("tool").alias("nt"),
        F.min("ts").alias("mn"), F.max("ts").alias("mx"),
        F.min("turn_idx").alias("mnt"), F.max("turn_idx").alias("mxt"),
    ).collect()[0]
    assert agg[:] == truth[:]
    # predicate counts at three random ts cuts
    lo, hi = truth["mn"], truth["mx"]
    span = (hi - lo).total_seconds() or 1.0
    for f in rng.uniform(0.1, 0.9, size=3):
        cut = lo + pd.Timedelta(seconds=float(f) * span)
        got = table.stats_agg(
            [("count", "*", "n")], where=[("ts", ">=", cut)]
        ).collect()[0][0]
        want = table.read().filter(F.col("ts") >= F.lit(cut)).count()
        assert got == want, (seed, merge_mode, cut)
