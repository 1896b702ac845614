"""JSONL/binary/CSV sources, lenient dates, transform pipeline."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gamechanger_data_spark.datagen import FeedSpec, generate_batch
from gamechanger_data_spark.functions.dates import (
    canonical_ts,
    extract_dates,
    lenient_to_timestamp,
)
from gamechanger_data_spark.plans.pipeline import chain, resolve_transform
from gamechanger_data_spark.schema import CHANGE_EVENT_SCHEMA
from gamechanger_data_spark.sources.binary import pair_by_stem, scan_binary_dir
from gamechanger_data_spark.sources.jsonl import read_jsonl_events, write_jsonl
from gamechanger_data_spark.sources.manifest_csv import read_manifest_csv, split_ops


def test_jsonl_roundtrip_with_corrupt_lines(spark, tmp_path):
    pdf = generate_batch(FeedSpec(n_convs=20, events_per_batch=200, seed=3), 0)
    pdf = pdf.drop(columns=["tool_version"], errors="ignore")
    src = spark.createDataFrame(pdf[[f.name for f in CHANGE_EVENT_SCHEMA.fields]])
    d = str(tmp_path / "jl")
    write_jsonl(src, d)
    # inject corrupt + blank lines as an extra feed file (appending to a
    # Spark-written part would break its .crc sidecar, not the JSON parse)
    with open(os.path.join(d, "upstream-junk.json"), "w") as f:
        f.write('{"op": "insert", "conv_id": INVALID}\n\nnot json at all\n')
    clean, corrupt = read_jsonl_events(spark, d, CHANGE_EVENT_SCHEMA)
    assert clean.count() == len(pdf)
    assert corrupt.count() == 2  # blank lines are dropped by the reader itself
    assert clean.schema.fieldNames() == CHANGE_EVENT_SCHEMA.fieldNames()


def test_binary_scan_and_stem_pairing(spark, tmp_path):
    d = tmp_path / "files"
    d.mkdir()
    (d / "a.pdf").write_bytes(b"%PDF-fake-a")
    (d / "a.pdf.metadata").write_text('{"doc_name": "a"}')
    (d / "b.txt").write_text("hello")
    (d / "ignore.bin").write_bytes(b"\x00")
    files = scan_binary_dir(spark, str(d), glob="*.{pdf,txt,metadata}")
    assert files.count() == 3  # .bin filtered at the source
    paired = pair_by_stem(files).orderBy("raw_path").toPandas()
    assert len(paired) == 2
    a = paired[paired.raw_path.str.endswith("a.pdf")].iloc[0]
    assert a.sidecar_path.endswith("a.pdf.metadata")
    b = paired[paired.raw_path.str.endswith("b.txt")].iloc[0]
    assert b.sidecar_path is None


def test_manifest_csv_split(spark, tmp_path):
    p = tmp_path / "manifest.csv"
    p.write_text(
        "Process,conv_id,turn_idx,ts\n"
        "Insert,c1,0,2024-01-01T00:00:00\n"
        "Update,c1,1,2024-01-02T00:00:00\n"
        "Delete,c2,0,2024-01-03T00:00:00\n"
    )
    m = read_manifest_csv(spark, str(p))
    ops = {k: v.count() for k, v in split_ops(m).items()}
    assert ops == {"insert": 1, "update": 1, "delete": 1}


def test_manifest_csv_unknown_op_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("Process,conv_id,turn_idx,ts\nPurge,c1,0,2024-01-01T00:00:00\n")
    with pytest.raises(Exception):
        read_manifest_csv(spark, str(p)).collect()


def test_lenient_timestamp_parse(spark):
    rows = [
        ("2024-01-02T03:04:05",),
        ("2024-01-02 03:04:05",),
        ("2024-01-02",),
        ("01/02/2024",),
        ("2 January 2024",),
        ("January 2, 2024",),
        ("Jan 2, 2024",),
        ("garbage",),
        (None,),
    ]
    df = spark.createDataFrame(rows, ["s"])
    got = df.select(lenient_to_timestamp("s").alias("t")).toPandas()["t"]
    assert got.iloc[0] == pd.Timestamp("2024-01-02 03:04:05")
    assert got.iloc[2] == pd.Timestamp("2024-01-02")
    assert got.iloc[4] == pd.Timestamp("2024-01-02")
    assert pd.isna(got.iloc[7]) and pd.isna(got.iloc[8])


def test_canonical_format_floors_seconds(spark):
    df = spark.createDataFrame([("2024-03-04 05:06:07.999999",)], ["s"])
    out = df.select(
        canonical_ts(F.col("s").cast("timestamp")).alias("c")
    ).collect()[0]["c"]
    assert out == "2024-03-04T05:06:07"


def test_extract_dates(spark):
    df = spark.createDataFrame(
        [("effective 12 January 2024 and revised Mar 3, 2025 end",)], ["text"]
    )
    got = df.select(extract_dates("text").alias("d")).collect()[0]["d"]
    assert got == ["12 January 2024", "Mar 3, 2025"]


def _add_flag(df):
    return df.withColumn("flag", F.lit(1))


def test_pipeline_chain_and_dynamic_resolution(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    out = chain(df, [_add_flag])
    assert out.columns == ["x", "flag"]
    # dynamic resolution + namespace guard
    fn = resolve_transform("gamechanger_data_spark.plans.pipeline::chain")
    assert callable(fn)
    with pytest.raises(ValueError):
        resolve_transform("os::system")


def test_pipeline_error_isolation(spark):
    def broken(df):
        return df.select("no_such_column")

    df = spark.createDataFrame([(1,)], ["x"])
    out = chain(df, [broken, _add_flag], isolate_errors=True)
    assert out.columns == ["x", "flag"]  # broken stage skipped, chain continued
    with pytest.raises(Exception):
        chain(df, [broken], isolate_errors=False).collect()


def test_jdbc_option_plumbing_contract():
    """No DB exists in the sandbox; the JDBC wrapper's contract — format,
    partitioned-read options, fetchsize cursor window, custom passthrough,
    loud failure on missing bounds — is verified against a reader double."""
    import pytest

    from gamechanger_data_spark.sources.jdbc import read_jdbc_table

    class FakeReader:
        def __init__(self):
            self.fmt = None
            self.opts = {}
            self.loaded = False

        def format(self, f):
            self.fmt = f
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            self.loaded = True
            return self

    class FakeSpark:
        def __init__(self):
            self.read = FakeReader()

    fs = FakeSpark()
    out = read_jdbc_table(
        fs, "jdbc:postgresql://host/db", "versioned_docs",
        partition_column="id", lower_bound=0, upper_bound=10_000_000,
        num_partitions=64, fetchsize=5000, user="u",
    )
    r = fs.read
    assert out is r and r.loaded
    assert r.fmt == "jdbc"
    assert r.opts["url"].startswith("jdbc:postgresql")
    assert r.opts["dbtable"] == "versioned_docs"
    assert r.opts["partitionColumn"] == "id"
    assert (r.opts["lowerBound"], r.opts["upperBound"]) == ("0", "10000000")
    assert r.opts["numPartitions"] == "64"
    assert r.opts["fetchsize"] == "5000"
    assert r.opts["user"] == "u"

    with pytest.raises(ValueError):
        read_jdbc_table(FakeSpark(), "jdbc:x", "t", partition_column="id")


def test_manifest_csv_bad_cell_raises_even_when_pruned(spark, tmp_path):
    """The loud-failure guard must survive column pruning: a consumer that
    never materializes turn_idx/ts still may not see the bad row pass
    through silently (the guard is a filter, not a projected column)."""
    p = tmp_path / "badcell.csv"
    p.write_text(
        "Process,conv_id,turn_idx,ts\n"
        "Insert,c1,zero,2024-01-01T00:00:00\n"
    )
    m = read_manifest_csv(spark, str(p)).select("op", "conv_id")
    with pytest.raises(Exception, match="bad manifest row"):
        m.collect()


def test_read_batch_explicit_schema_matches_mergeschema(spark, tmp_path):
    """Uniform batch dirs take the footer-derived explicit-schema fast path
    (no Spark inference job); the schema must be bit-identical to what
    mergeSchema inference yields, including across an evolution batch and
    for a mixed-schema dir (which must fall back to inference)."""
    from gamechanger_data_spark.datagen import write_feed
    from gamechanger_data_spark.sources.feed import (
        _uniform_batch_schema,
        list_ready_batches,
        read_batch,
    )

    spec = FeedSpec(n_convs=20, max_turns=4, n_batches=3, events_per_batch=120,
                    seed=7, evolve_batch=2)
    root = str(tmp_path / "feed")
    write_feed(root, spec, parts_per_batch=3)
    for bid, d in list_ready_batches(root):
        assert _uniform_batch_schema(spark, d) is not None
        legacy = (
            spark.read.option("mergeSchema", "true")
            .option("pathGlobFilter", "*.parquet").parquet(d).schema
        )
        assert read_batch(spark, d).schema == legacy, bid

    # mixed-schema dir: copy an evolved part beside a base part -> fallback
    batches = list_ready_batches(root)
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    import glob as _glob
    import shutil as _shutil
    base_part = sorted(_glob.glob(os.path.join(batches[0][1], "*.parquet")))[0]
    evolved_part = sorted(_glob.glob(os.path.join(batches[2][1], "*.parquet")))[0]
    _shutil.copy(base_part, mixed / "a.parquet")
    _shutil.copy(evolved_part, mixed / "b.parquet")
    assert _uniform_batch_schema(spark, str(mixed)) is None
    merged = read_batch(spark, str(mixed)).schema
    legacy = (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet").parquet(str(mixed)).schema
    )
    assert merged == legacy


def test_read_batch_null_typed_column_matches_inference(spark, tmp_path):
    """A batch whose footer carries a null-typed (all-None) column must
    reproduce Spark's inference EXACTLY: pyarrow stores such a column as
    un-annotated physical INT32, which Spark types as int — a NullType
    leaking into the table schema instead breaks downstream consumers
    (lakecdc arrow mapping; the original bug surfaced in the bench feed's
    with_version_hash=False column)."""
    import pandas as pd

    from gamechanger_data_spark.sources.feed import (
        _uniform_batch_schema,
        read_batch,
    )

    d = tmp_path / "b"
    d.mkdir()
    pdf = pd.DataFrame({"a": [1, 2], "allnull": [None, None]})
    pdf.to_parquet(d / "p0.parquet")
    legacy = (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet").parquet(str(d)).schema
    )
    fast = _uniform_batch_schema(spark, str(d))
    assert fast == legacy  # int, not void
    assert "void" not in fast.simpleString()
    assert read_batch(spark, str(d)).schema == legacy


def _inferred_schema(spark, d):
    return (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet").parquet(str(d)).schema
    )


def test_read_batch_fast_path_follows_session_ntz_conf(spark, tmp_path):
    """Naive parquet timestamps infer as TIMESTAMP_NTZ or TIMESTAMP by the
    session's ``spark.sql.parquet.inferTimestampNTZ.enabled``; the footer
    fast path must read the same conf, not assume its default."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gamechanger_data_spark.sources.feed import (
        _uniform_batch_schema,
        read_batch,
    )

    d = tmp_path / "b"
    d.mkdir()
    ts = pa.array([dt.datetime(2024, 1, 1), None], pa.timestamp("us"))
    for n in range(2):
        pq.write_table(
            pa.table({"a": pa.array([1, 2], pa.int64()), "t": ts}),
            d / f"p{n}.parquet",
        )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        for value in ("false", "true"):
            spark.conf.set(key, value)
            legacy = _inferred_schema(spark, d)
            assert _uniform_batch_schema(spark, str(d)) == legacy, value
            assert read_batch(spark, str(d)).schema == legacy, value
        spark.conf.set(key, "false")
        assert "timestamp_ntz" not in _inferred_schema(spark, d).simpleString()
    finally:
        spark.conf.set(key, old)


def test_read_batch_fast_path_checks_every_part_of_mixed_writers(
    spark, tmp_path
):
    """An all-null column reads as arrow null from any writer, but its
    physical type is the writer's choice: pyarrow stores INT32, a
    parquet-mr part may store INT64. The arrow schemas of the two parts
    are equal, so the fast path must check the physical type in EVERY
    part — here inference refuses the batch (INT vs BIGINT) and read_batch
    must not invent a schema for it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gamechanger_data_spark.sources.feed import (
        _uniform_batch_schema,
        read_batch,
    )

    d = tmp_path / "b"
    d.mkdir()
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int32()), "n": pa.nulls(1)}),
        d / "a.parquet",
    )
    jvm = spark._jvm
    msg = jvm.org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { optional int32 a; optional int64 n (UNKNOWN); }"
    )
    writer = (
        jvm.org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
            jvm.org.apache.hadoop.fs.Path(f"file://{d / 'b.parquet'}")
        ).withType(msg).build()
    )
    row = jvm.org.apache.parquet.example.data.simple.SimpleGroupFactory(
        msg
    ).newGroup()
    row.add("a", 2)
    writer.write(row)
    writer.close()
    first, second = (pq.ParquetFile(d / f) for f in ("a.parquet", "b.parquet"))
    assert first.schema_arrow == second.schema_arrow
    assert second.metadata.schema.column(1).physical_type == "INT64"

    assert _uniform_batch_schema(spark, str(d)) is None
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        _inferred_schema(spark, d)
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        read_batch(spark, str(d))


def test_uniform_batch_schema_absorbs_only_footer_and_type_failures(
    spark, tmp_path, monkeypatch
):
    """The footer fast path steps aside for an unreadable footer or an
    Arrow type Spark cannot map; any other error inside it propagates
    instead of silently costing every batch the inference job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gamechanger_data_spark.sources.feed import _uniform_batch_schema

    d = tmp_path / "b"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2], "allnull": pa.nulls(2)}),
                   d / "p0.parquet")
    assert _uniform_batch_schema(spark, str(d)) is not None

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "p0.parquet").write_bytes(b"not a parquet file")
    assert _uniform_batch_schema(spark, str(bad)) is None

    odd = tmp_path / "odd"
    odd.mkdir()
    pq.write_table(pa.table({"u": pa.array([1], pa.uint64())}),
                   odd / "p0.parquet")
    assert _uniform_batch_schema(spark, str(odd)) is None

    def boom(_t):
        raise AttributeError("bug in the footer loop")

    monkeypatch.setattr(pa.types, "is_null", boom)
    with pytest.raises(AttributeError, match="bug in the footer loop"):
        _uniform_batch_schema(spark, str(d))
