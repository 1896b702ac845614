"""LakeTable scans build their file index on the driver. The manifest names
every file a scan reads, so no Spark job is needed to stat them; above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` explicit paths
(32 by default) Spark would otherwise run one, with a task per path.
``LakeTable._read_paths`` raises the threshold around the index build
only. These tests pin that a wide MOR read and a CoW fold run no listing
job, that results are unchanged, and that the session's setting is
restored, also after a failed read and under concurrent scans."""

import os
import threading

import pandas as pd
import pytest

from gamechanger_data_spark.datagen import FeedSpec, generate_batch, pandas_oracle
from gamechanger_data_spark.functions.text import normalize_text_pandas
from gamechanger_data_spark.sinks.table import _LISTING_THRESHOLD, LakeTable
from gamechanger_data_spark.streaming.driver import apply_batch

SPEC = FeedSpec(n_convs=200, max_turns=4, n_batches=5, events_per_batch=300, seed=23,
                evolve_batch=None)
COLS = ["conv_id", "turn_idx", "role", "text", "ts"]


def _apply(spark, t, b, **kw):
    return apply_batch(t, spark.createDataFrame(generate_batch(SPEC, b)), f"b{b}", **kw)


def _oracle(n):
    ev = pd.concat([generate_batch(SPEC, b) for b in range(n)], ignore_index=True)
    return pandas_oracle(ev, normalize=normalize_text_pandas)


def _assert_state(t, n):
    got = t.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(
        got[COLS].reset_index(drop=True), _oracle(n)[COLS].reset_index(drop=True),
        check_dtype=False,
    )


def _n_paths(t):
    m = t._load_manifest()
    return sum(len(fl) for src in (m["files"], m.get("deltas", {}))
               for fl in src.values())


def _group_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    descriptions of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"scan-listing-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description().getOrElse(None)
             for j in sc.statusTracker().getJobIdsForGroup(group)]
    return out, descs


def _listing(descs):
    return [d for d in descs if d and d.startswith("Listing leaf files")]


@pytest.fixture(scope="module")
def deep(spark, tmp_path_factory):
    """16 buckets and 4 merge-on-read commits: more than 32 files."""
    t = LakeTable(spark, str(tmp_path_factory.mktemp("deep") / "t"), n_buckets=16,
                  merge_mode="mor")
    for b in range(4):
        assert _apply(spark, t, b)["mode"] == "mor"
    assert _n_paths(t) > int(spark.conf.get(_LISTING_THRESHOLD))
    return t


def test_wide_read_builds_its_index_without_a_job(spark, deep):
    old = spark.conf.get(_LISTING_THRESHOLD)
    df, descs = _group_jobs(spark, deep.read)
    assert descs == []
    assert spark.conf.get(_LISTING_THRESHOLD) == old
    _, descs = _group_jobs(spark, df.count)
    assert descs and not _listing(descs)
    _assert_state(deep, 4)


def test_cow_fold_runs_no_listing_job(spark, tmp_path):
    root = str(tmp_path / "fold")
    t = LakeTable(spark, root, n_buckets=16, merge_mode="mor")
    for b in range(4):
        _apply(spark, t, b)
    assert _n_paths(t) > int(spark.conf.get(_LISTING_THRESHOLD))
    # the same table opened for copy-on-write: the next merge folds the
    # touched buckets' base and delta files
    cow = LakeTable(spark, root, n_buckets=16, merge_mode="cow")
    r, descs = _group_jobs(spark, lambda: _apply(spark, cow, 4))
    assert r["mode"] == "cow"
    assert descs and not _listing(descs)
    _assert_state(cow, 5)


def test_failed_read_restores_the_threshold(spark, deep):
    old = spark.conf.get(_LISTING_THRESHOLD)
    m = deep._load_manifest()
    schema = deep.read().schema
    paths = [os.path.join(deep.root, p) for fl in m["files"].values() for p in fl]
    missing = paths + [os.path.join(deep.root, f"missing-{i}.parquet")
                       for i in range(int(old) + 1)]
    with pytest.raises(Exception):
        deep._read_paths(schema, missing)
    assert spark.conf.get(_LISTING_THRESHOLD) == old


def test_higher_session_threshold_is_left_alone(spark, deep):
    old = spark.conf.get(_LISTING_THRESHOLD)
    spark.conf.set(_LISTING_THRESHOLD, "100000")
    try:
        _, descs = _group_jobs(spark, deep.read)
        assert descs == []
        assert spark.conf.get(_LISTING_THRESHOLD) == "100000"
    finally:
        spark.conf.set(_LISTING_THRESHOLD, old)


def test_concurrent_scans_restore_the_threshold(spark, deep):
    old = spark.conf.get(_LISTING_THRESHOLD)
    want = deep.read().count()
    counts, errors = [], []

    def scan():
        try:
            for _ in range(3):
                counts.append(deep.read().count())
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=scan) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert counts == [want] * 12
    assert spark.conf.get(_LISTING_THRESHOLD) == old
