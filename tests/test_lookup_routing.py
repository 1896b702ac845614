"""Driver-side bucket routing for point reads: ``lookup_key`` and
``buckets_for_keys`` hash their probe keys with the xxh64 twin
(functions/xxh64.py) instead of a one-row Spark job. The twin must pick
exactly the bucket ``_bucket_expr`` picks, and exactly the bucket merge
wrote each row into; building a lookup must launch no job; and probe
values are still type-checked the way ``createDataFrame`` checked them.
"""

import math
import os
import random
import string
import struct

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from gamechanger_data_spark.functions.xxh64 import key_kind
from gamechanger_data_spark.sinks.table import LakeTable

KEYS = ("i", "l", "f", "d", "s")
SCH = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("f", T.FloatType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("ts", T.LongType()),
    T.StructField("val", T.StringType()),
    T.StructField("op", T.StringType()),
])
EDGE_KEYS = [
    (0, 0, -0.0, -0.0, ""),
    (1, -1, 0.0, 0.0, "é≈漢字🙂"),
    (2, 2**63 - 1, float("nan"), float("nan"), "x" * 40),
    (3, -(2**63), math.copysign(float("nan"), -1.0),
     math.copysign(float("nan"), -1.0), "y"),
    (-(2**31), 5, 0.1, 0.1, "z"),
    (2**31 - 1, None, 1e300, 1e300, "nullpart"),
    (None, 7, float("inf"), float("-inf"), None),
]


def _random_keys(n, seed):
    rng = random.Random(seed)
    alphabet = string.printable + "éß漢字🙂"
    out = []
    for _ in range(n):
        out.append((
            rng.randint(-(2**31), 2**31 - 1),
            rng.randint(-(2**63), 2**63 - 1),
            rng.uniform(-1, 1) * 10.0 ** rng.randint(-30, 30),
            rng.uniform(-1, 1) * 10.0 ** rng.randint(-300, 300),
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 50))),
        ))
    return out


def _spark_buckets(spark, t, schema, rows):
    """The routing the engine used to run: a one-row-per-key frame typed
    like the table's key columns, bucketed by ``_bucket_expr``."""
    by = {f.name: f for f in schema.fields}
    ordered = T.StructType([by[c] for c in t.key_cols])
    probe = spark.createDataFrame(rows, ordered)
    return [
        r["b"]
        for r in probe.select(
            t._bucket_expr(schema=ordered).cast("int").alias("b")
        ).collect()
    ]


def _resident_rows(t):
    """(bucket the row physically lives in, key tuple) for every base row,
    read with pyarrow — no Spark job."""
    m = t._load_manifest()
    out = []
    for b, files in m["files"].items():
        for rel in files:
            tbl = pq.read_table(os.path.join(t.root, rel), columns=list(t.key_cols))
            cols = [tbl.column(c).to_pylist() for c in t.key_cols]
            out += [(int(b), key) for key in zip(*cols)]
    return out


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    t = LakeTable(spark, str(tmp_path_factory.mktemp("route") / "t"),
                  key_cols=KEYS, order_cols=("ts",), n_buckets=8)
    keys = EDGE_KEYS + _random_keys(200, seed=3)
    t.merge(
        spark.createDataFrame(
            [(*k, n, f"v{n}", "upsert") for n, k in enumerate(keys)], SCH
        ),
        "b0",
    )
    return t, keys


def test_routing_matches_bucket_expr(spark, mixed):
    t, keys = mixed
    probes = keys + _random_keys(200, seed=11)
    schema = t.schema()
    want = _spark_buckets(spark, t, schema, probes)
    assert t._route_keys(schema, probes) == want
    assert t.buckets_for_keys(
        [dict(zip(KEYS, k)) for k in probes]
    ) == sorted(set(want))


def test_routing_matches_resident_bucket(mixed):
    """Every row merge wrote routes back to the bucket it lives in."""
    t, keys = mixed
    resident = _resident_rows(t)
    assert len(resident) == len(keys)
    got = t._route_keys(t.schema(), [k for _, k in resident])
    assert got == [b for b, _ in resident]


def test_lookup_finds_edge_keys(mixed):
    t, _ = mixed
    hit = t.lookup_key(i=1, l=-1, f=0.0, d=0.0, s="é≈漢字🙂").collect()
    assert [r["val"] for r in hit] == ["v1"]
    # the FLOAT key holds 0.1 rounded to float32; the written value and
    # the rounded one both find it
    f32 = struct.unpack("<f", struct.pack("<f", 0.1))[0]
    for f in (f32, 0.1):
        hit = t.lookup_key(i=-(2**31), l=5, f=f, d=0.1, s="z").collect()
        assert [r["val"] for r in hit] == ["v4"], f
    # -0.0 routes with 0.0, NaN with NaN
    assert [r["val"] for r in t.lookup_key(
        i=0, l=0, f=0.0, d=0.0, s="").collect()] == ["v0"]
    assert [r["val"] for r in t.lookup_key(
        i=2, l=2**63 - 1, f=float("nan"), d=float("nan"), s="x" * 40
    ).collect()] == ["v2"]
    # a null key part hashes as skipped and the filter matches nothing
    assert t.lookup_key(i=2**31 - 1, l=None, f=1e300, d=1e300,
                        s="nullpart").collect() == []


def test_routing_after_int_to_long_widening(spark, tmp_path):
    sch = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("ts", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
    ])
    t = LakeTable(spark, str(tmp_path / "w"), key_cols=("k",),
                  order_cols=("ts",), n_buckets=8)
    rng = random.Random(5)
    narrow = rng.sample(range(-(2**31), 2**31), 100)
    t.merge(spark.createDataFrame([(k, 1, "old", "upsert") for k in narrow], sch), "b0")
    wide = [2**40 + i for i in range(20)] + narrow[:5]
    t.merge(
        spark.createDataFrame(
            [(k, 2, "new", "upsert") for k in wide],
            "k long, ts long, val string, op string",
        ),
        "b1",
    )
    schema = t.schema()
    assert dict((f.name, f.dataType) for f in schema.fields)["k"] == T.LongType()
    resident = _resident_rows(t)
    assert len(resident) == 100 + 20
    assert t._route_keys(schema, [k for _, k in resident]) == [
        b for b, _ in resident
    ]
    probes = [(k,) for k in narrow + wide]
    assert t._route_keys(schema, probes) == _spark_buckets(
        spark, t, schema, probes
    )
    assert [r["val"] for r in t.lookup_key(k=narrow[0]).collect()] == ["new"]
    assert [r["val"] for r in t.lookup_key(k=narrow[-1]).collect()] == ["old"]


def test_lookup_and_routing_launch_no_spark_job(spark, mixed):
    t, _ = mixed
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "lookup-routing-probe"
    sc.setJobGroup(group, "routing must stay on the driver")
    try:
        frame = t.lookup_key(i=1, l=-1, f=0.0, d=0.0, s="é≈漢字🙂")
        t.buckets_for_keys([{"i": 3, "l": 4, "f": 0.5, "d": 0.25, "s": "q"}])
        assert list(tracker.getJobIdsForGroup(group)) == []
        # the tracker does see this group's jobs: the scan itself is one
        assert len(frame.collect()) == 1
        assert len(tracker.getJobIdsForGroup(group)) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_wrong_type_probe_raises_type_error(mixed):
    t, _ = mixed
    good = {"i": 1, "l": -1, "f": 0.0, "d": 0.0, "s": "a"}
    for col, bad in (("i", "7"), ("i", 7.0), ("l", True), ("d", 7),
                     ("f", "0.5"), ("s", 5)):
        with pytest.raises(TypeError):
            t.lookup_key(**{**good, col: bad})
        with pytest.raises(TypeError):
            t.buckets_for_keys([{**good, col: bad}])
    with pytest.raises(ValueError):  # out of INT range
        t.lookup_key(**{**good, "i": 2**31})


def test_unsupported_key_type_raises_value_error(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "ts"), key_cols=("at",),
                  order_cols=("seq",), n_buckets=4)
    t.merge(
        spark.sql("SELECT TIMESTAMP'2024-01-01 00:00:00' AS at, "
                  "1L AS seq, 'x' AS val, 'upsert' AS op"),
        "b0",
    )
    with pytest.raises(ValueError, match="'at'"):
        t.lookup_key(at=None)
    with pytest.raises(ValueError, match="'at'"):
        t.buckets_for_keys([{"at": None}])
    with pytest.raises(ValueError, match="'dec'"):
        key_kind("dec", T.DecimalType(10, 2))
    assert [key_kind("c", dt) for dt in (
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(),
    )] == ["long"] * 4 + ["double"] * 2 + ["string"]
