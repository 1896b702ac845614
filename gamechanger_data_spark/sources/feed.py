"""Change-feed source — timestamped, ready-marker-gated batch directories.

Reference semantics reproduced (citations into /root/reference/):
  * timestamped prefixes listed, filtered to those AFTER the checkpoint ts,
    sorted ascending (common/utils/s3.py:459-502, regex :34-54;
    dataPipelines/gc_ingest/tools/checkpoint/utils.py:104-151);
  * a prefix is eligible only when its ready marker exists
    (checkpoint/utils.py:77-84 — there: manifest.json; here: _READY);
  * checkpoint-limit bounds batches consumed per run
    (checkpoint/utils.py:169; paasJobs/jobs/crawler_ingest.sh:63).

Batch mode lists directories; streaming mode wraps the Structured Streaming
file source (which supplies its own offset log). In both modes the COMMIT of
a batch is the sink's manifest swap, not this source — the source is
stateless and re-listable, so a crash between read and commit replays the
batch and the sink's batch-id marker makes the replay a no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gamechanger_data_spark.datagen import (
    BATCH_PREFIX,
    LEGACY_READY_MARKER,
    READY_MARKER,
)


def list_ready_batches(
    root: str,
    after: str | None = None,
    limit: int | None = None,
) -> list[tuple[str, str]]:
    """Return [(batch_id, dir_path)] for ready batches, ascending by id,
    strictly after ``after`` (the checkpoint), at most ``limit``."""
    out = []
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        if not name.startswith(BATCH_PREFIX):
            continue
        d = os.path.join(root, name)
        if not (
            os.path.exists(os.path.join(d, READY_MARKER))
            or os.path.exists(os.path.join(d, LEGACY_READY_MARKER))
        ):
            continue  # not yet committed upstream — invisible
        batch_id = name[len(BATCH_PREFIX):]
        if after is not None and batch_id <= after:
            continue
        out.append((batch_id, d))
    if limit is not None:
        out = out[:limit]
    return out


def _uniform_batch_schema(spark: SparkSession, batch_dir: str):
    """Spark schema for a batch dir whose part files all carry ONE
    identical arrow schema, read driver-side from the footers (a few ms);
    None when files disagree (schema-evolution batch), a footer is
    unreadable, or an Arrow type has no Spark mapping — callers then fall
    back to Spark's ``mergeSchema`` inference job, which reports such
    files itself. Any other error propagates.

    Why: ``mergeSchema=true`` schedules a whole Spark job that opens every
    part footer just to union identical schemas — measured 0.4-0.9 s per
    3M-event batch INSIDE the replay loop (guide §2.4 remove-passes: the
    planning job disappears when the schema is supplied explicitly).
    Naive timestamps map as the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` says, so the fast path
    yields bit-identical types to the inference it replaces."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(_glob.glob(os.path.join(batch_dir, "*.parquet")))
    if not files:
        return None
    first = null_cols = None
    for path in files:
        try:
            with pq.ParquetFile(path) as pf:
                arrow, md = pf.schema_arrow, pf.metadata
        except (OSError, pa.ArrowInvalid):
            return None
        if first is None:
            first = arrow
            null_cols = [f.name for f in first if pa.types.is_null(f.type)]
        elif arrow != first:
            return None
        if not null_cols:
            continue
        # An all-null column is null-typed in the ARROW view but is
        # physically stored (pyarrow: as un-annotated INT32), and Spark's
        # own inference types it from the physical type (observed: int).
        # Reproduce exactly for the INT32 case; another writer's part may
        # store it otherwise, so check every part — anything else keeps
        # the inference job.
        phys = {
            md.schema.column(i).name: md.schema.column(i).physical_type
            for i in range(md.num_columns)
        }
        if any(phys.get(c) != "INT32" for c in null_cols):
            return None
    prefer_ntz = spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
    ).lower() == "true"
    try:
        spark_schema = from_arrow_schema(
            pa.schema([f for f in first if not pa.types.is_null(f.type)]),
            prefer_timestamp_ntz=prefer_ntz,
        )
    except PySparkTypeError:
        return None
    if not null_cols:
        return spark_schema
    out = []
    for f in first:
        if pa.types.is_null(f.type):
            out.append(T.StructField(f.name, T.IntegerType(), True))
        else:
            out.append(spark_schema[f.name])
    return T.StructType(out)


def read_batch(spark: SparkSession, batch_dir: str) -> DataFrame:
    """Read one batch directory. ``mergeSchema`` tolerates additive columns
    appearing mid-feed (schema-evolution batches); uniform batches skip the
    inference job entirely (footer-derived explicit schema)."""
    schema = _uniform_batch_schema(spark, batch_dir)
    reader = spark.read.option("pathGlobFilter", "*.parquet")
    if schema is not None:
        return reader.schema(schema).parquet(batch_dir)
    return reader.option("mergeSchema", "true").parquet(batch_dir)


def read_feed_stream(spark: SparkSession, root: str, schema) -> DataFrame:
    """Structured Streaming file source over the feed's DATA files.

    ``pathGlobFilter`` admits only parquet parts (the reference's
    extension-filtered scan, common/document_parser/process.py:166-168);
    ``maxFilesPerTrigger`` is left to the caller's trigger config.

    NOTE: this stream sees part files as soon as they land — it does NOT
    honor the ready-marker eligibility rule, so it is for ANALYTICS
    streams (windowed rates, sessionization) where an early row is
    harmless. The CDC apply path must use ``read_marker_stream`` (the
    batch becomes visible atomically with its upstream commit)."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )


class _MarkerStreamReader:
    """SimpleDataSourceStreamReader over ready-marker EXISTENCE.

    Every built-in file source (text, wholetext, binaryFile) silently skips
    zero-length files, so a marker created by ``touch`` — which
    list_ready_batches accepts, existence being the whole contract — would
    produce a batch a file-based stream never sees: silent data loss. This
    reader keys on the same listing the batch path uses, so both
    consumption modes enforce one eligibility rule.

    Offset = the max batch id emitted so far (batch ids are the feed's
    timestamped prefixes, strictly ascending by upstream contract —
    common/utils/s3.py:459-502); a replayed epoch re-derives its rows
    deterministically from the id interval. The listing runs on the driver
    — O(#batch dirs) names, no data read — and rows are only marker paths,
    so driver cost is that of any file-source directory listing."""

    def __init__(self, root: str):
        self.root = root

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _ready(self, after: str, upto: str | None = None):
        rows = []
        for batch_id, d in list_ready_batches(self.root, after=after or None):
            if upto is not None and batch_id > upto:
                continue
            # Emit the marker file that actually admitted the batch — a
            # legacy-only batch must not surface a ready.marker path that
            # does not exist (consumers may stat/read the marker).
            marker = os.path.join(d, READY_MARKER)
            if not os.path.exists(marker):
                marker = os.path.join(d, LEGACY_READY_MARKER)
            rows.append((marker, batch_id))
        return rows

    def read(self, start: dict):
        rows = self._ready(start.get("last", ""))
        if not rows:
            return iter([]), start
        return iter(rows), {"last": rows[-1][1]}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._ready(start.get("last", ""), upto=end.get("last", "")))

    def commit(self, end: dict) -> None:
        pass  # the sink's batch-id markers are the commit point


def marker_feed_source():
    """Build the DataSource class lazily (pyspark.sql.datasource import kept
    out of module import time — batch-mode users never need it)."""
    from pyspark.sql.datasource import DataSource

    class MarkerFeedSource(DataSource):
        """``format("marker_feed")``: one row per newly-READY batch dir."""

        @classmethod
        def name(cls) -> str:
            return "marker_feed"

        def schema(self) -> str:
            return "_source_file string, batch_id string"

        def simpleStreamReader(self, schema):
            return _MarkerStreamReader(self.options["path"])

    return MarkerFeedSource


def read_marker_stream(spark: SparkSession, root: str) -> DataFrame:
    """Structured Streaming source over the READY MARKERS themselves.

    One row per newly-committed batch directory: the marker file is
    written LAST by the upstream producer (checkpoint/utils.py:77-84), so
    a batch enters this stream exactly when its upstream commit completes
    — a crash mid-upload can never leak a partial batch into the offset
    log. Consumers map ``_source_file`` back to the batch directory.

    Backed by a custom Python streaming data source keyed on marker
    EXISTENCE (see _MarkerStreamReader): built-in file sources skip
    zero-length files, which would silently drop a batch whose marker was
    created by ``touch`` — a batch the batch-mode path happily applies."""
    spark.dataSource.register(marker_feed_source())
    return (
        spark.readStream.format("marker_feed")
        .load(root)
        .select("_source_file")
    )
