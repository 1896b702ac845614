"""All three LWW strategies agree with each other and with a pandas oracle."""

import pandas as pd
import pytest

from gamechanger_data_spark.datagen import FeedSpec, generate_batch
from gamechanger_data_spark.operators.lww import lww_max_by, lww_salted, lww_window

SPEC = FeedSpec(n_convs=50, max_turns=8, n_batches=1, events_per_batch=1_500, seed=7)


def _oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    ev = pdf.sort_values(["ts", "event_seq"], kind="mergesort")
    last = ev.drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")
    return last.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.mark.parametrize("strategy", [lww_window, lww_max_by, lww_salted])
def test_strategy_matches_oracle(spark, strategy):
    pdf = generate_batch(SPEC, 0)
    df = spark.createDataFrame(pdf)
    got = (
        strategy(df)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = _oracle(pdf)
    cols = ["conv_id", "turn_idx", "ts", "event_seq", "text", "op", "role"]
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


def test_strategies_identical(spark):
    pdf = generate_batch(SPEC, 0)
    df = spark.createDataFrame(pdf)
    cols = ["conv_id", "turn_idx", "ts", "event_seq", "text"]
    a = lww_window(df).orderBy("conv_id", "turn_idx").toPandas()[cols]
    b = lww_max_by(df).orderBy("conv_id", "turn_idx").toPandas()[cols]
    c = lww_salted(df, salt_buckets=8).orderBy("conv_id", "turn_idx").toPandas()[cols]
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
    pd.testing.assert_frame_equal(a.reset_index(drop=True), c.reset_index(drop=True))


@pytest.mark.parametrize("strategy", [lww_window, lww_max_by, lww_salted])
def test_strategy_matches_oracle_under_hot_key_skew(spark, strategy):
    """One conversation owns ~60% of the events: every operator still
    picks the oracle's winner for each key."""
    from test_properties import hot_key_events

    pdf = hot_key_events()
    got = (
        strategy(spark.createDataFrame(pdf))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    cols = ["conv_id", "turn_idx", "ts", "event_seq", "text", "op", "role"]
    pd.testing.assert_frame_equal(got[cols], _oracle(pdf)[cols], check_dtype=False)
