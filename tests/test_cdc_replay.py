"""End-to-end CDC replay: final-state parity, exactly-once, schema evolution,
rollback, lineage. This is the engine's correctness gate (FIXTURES.md §4):
after full replay, per-turn text equality under stable (conv_id, turn_idx)
ordering vs an independent pandas reduction."""

import os

import pandas as pd
import pytest

from gamechanger_data_spark.datagen import (
    FeedSpec,
    all_events,
    batch_id_for,
    pandas_oracle,
    write_feed,
)
from gamechanger_data_spark.functions.text import normalize_text_pandas
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.streaming.driver import replay_feed

SPEC = FeedSpec(n_convs=120, max_turns=10, n_batches=4, events_per_batch=1_200, seed=42)
PARITY = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("feed"))
    write_feed(root, SPEC)
    return root


@pytest.fixture(scope="module")
def replayed(spark, feed_dir, tmp_path_factory):
    troot = str(tmp_path_factory.mktemp("table"))
    table = LakeTable(spark, troot, n_buckets=8)
    results = replay_feed(spark, feed_dir, table)
    return table, results


def _expected() -> pd.DataFrame:
    return pandas_oracle(all_events(SPEC), normalize=normalize_text_pandas)


def test_final_state_parity(replayed):
    table, results = replayed
    assert all(not r.get("skipped") for r in results)
    got = (
        table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = _expected()
    pd.testing.assert_frame_equal(
        got[PARITY], want[PARITY].reset_index(drop=True), check_dtype=False
    )
    # engine-managed columns
    pd.testing.assert_series_equal(
        got["is_revoked"].astype(bool),
        want["is_revoked"].astype(bool),
        check_names=False,
    )


def test_exactly_once_replay(spark, feed_dir, replayed):
    """Re-running the whole feed must be a pure no-op (batch-id markers)."""
    table, _ = replayed
    v_before = table.current_version()
    results = replay_feed(spark, feed_dir, table)
    assert all(r.get("skipped") for r in results)
    assert table.current_version() == v_before


def test_schema_evolution_column(replayed):
    """Batch 3 introduced tool_version; earlier rows must be null-filled."""
    table, _ = replayed
    df = table.read()
    assert "tool_version" in df.columns
    # versions exist for late rows and only for tool turns from that batch
    n_nonnull = df.filter(df.tool_version.isNotNull()).count()
    assert n_nonnull > 0


def test_lineage_counts(replayed):
    table, _ = replayed
    lin = table.lineage().toPandas()
    assert set(lin.batch_id.unique()) == {batch_id_for(b) for b in range(SPEC.n_batches)}
    gen = all_events(SPEC)
    assert lin.rows_in.sum() == len(gen)
    per_batch_ops = gen.groupby(gen.event_seq // 10_000_000).op.value_counts()
    assert lin.rows_deleted.sum() == (gen.op == "delete").sum()
    assert lin.rows_revoked.sum() == (gen.op == "revoke").sum()
    assert per_batch_ops is not None


def test_snapshot_rollback(spark, feed_dir, tmp_path_factory):
    """Time travel: state after rollback equals replay of the batch prefix."""
    troot = str(tmp_path_factory.mktemp("table_rb"))
    table = LakeTable(spark, troot, n_buckets=8)
    replay_feed(spark, feed_dir, table)
    snaps = table.snapshots()
    assert len(snaps) == SPEC.n_batches

    # expected state after only the first two batches
    v2 = snaps[1]
    got = table.read(version=v2).orderBy("conv_id", "turn_idx").toPandas()

    from gamechanger_data_spark.datagen import generate_batch

    ev2 = pd.concat([generate_batch(SPEC, 0), generate_batch(SPEC, 1)], ignore_index=True)
    want = pandas_oracle(ev2, normalize=normalize_text_pandas)
    pd.testing.assert_frame_equal(
        got[PARITY].reset_index(drop=True),
        want[PARITY].reset_index(drop=True),
        check_dtype=False,
    )

    table.rollback_to_snapshot(v2)
    assert table.current_version() == v2


def test_batch_missing_column_null_filled(spark, tmp_path):
    """A batch missing an existing column (upstream dropped it) must apply
    cleanly with nulls — the reverse direction of additive evolution."""
    from gamechanger_data_spark.datagen import FeedSpec, generate_batch
    from gamechanger_data_spark.streaming.driver import apply_batch

    spec = FeedSpec(n_convs=20, events_per_batch=200, seed=9, evolve_batch=None)
    table = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    b0 = generate_batch(spec, 0)
    apply_batch(table, spark.createDataFrame(b0), "b0")
    b1 = generate_batch(spec, 1).drop(columns=["tool"])  # column vanished
    apply_batch(table, spark.createDataFrame(b1), "b1")
    df = table.read()
    assert "tool" in df.columns  # schema retained
    assert df.count() > 0


def test_synthesize_revocations_by_absence(spark, tmp_path):
    """Keys live in the table but absent from the latest feed window get a
    synthetic revoke through the normal merge (LWW + exactly-once apply);
    present keys are untouched; a second run is idempotent."""
    from pyspark.sql import functions as F

    from gamechanger_data_spark.datagen import FeedSpec, generate_batch
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import (
        apply_batch,
        synthesize_revocations,
    )

    spec = FeedSpec(n_convs=30, max_turns=4, n_batches=1, events_per_batch=300,
                    seed=3, delete_frac=0.0, revoke_frac=0.0, evolve_batch=None)
    table = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    pdf = generate_batch(spec, 0)
    apply_batch(table, spark.createDataFrame(pdf), "seed")

    state = table.read().toPandas()
    present = state.iloc[: len(state) // 2][["conv_id", "turn_idx"]]
    absent_keys = {
        (r.conv_id, r.turn_idx)
        for r in state.iloc[len(state) // 2:].itertuples()
    }

    r = synthesize_revocations(
        table,
        spark.createDataFrame(present),
        revoke_ts=pdf.ts.max() + pd.Timedelta(hours=1),
        batch_id="revoke-w1",
        event_seq=10_000_000_000,
    )
    assert not r["skipped"]

    after = table.read().toPandas()
    revoked = {
        (r.conv_id, r.turn_idx) for r in after[after.is_revoked].itertuples()
    }
    assert revoked == absent_keys
    # present keys untouched (still not revoked), nothing dropped
    assert len(after) == len(state)
    # idempotent on batch_id
    assert synthesize_revocations(
        table, spark.createDataFrame(present),
        revoke_ts=pdf.ts.max(), batch_id="revoke-w1", event_seq=1,
    )["skipped"]
