"""Profile the CDC replay batch path phase-by-phase (guide §1: measure
first). Monkeypatch-timed decomposition of apply_batch/merge — no engine
changes. Prints one JSON line with per-batch phase seconds.

It profiles the SPARK write only: its feed's batches are dense (each at
least the table's resident rows), so every merge takes the dense shortcut
and the partitionBy parquet write. Merge's Arrow route (small MOR
batches: toArrow collect plus driver-side pyarrow delta files, see
``ARROW_COMMIT_MAX_ROWS``) calls none of the write-side phases below;
perfbench's trickle_serve ``merge_mor_s`` times that route.

Phases:
  read        read_batch plan construction (lazy — near zero)
  footers     lineage_from_footers (pyarrow metadata)
  collects    DataFrame.collect calls inside merge (touched derivation etc.)
  write       the parquet write action (the merge computation itself)
  snapfiles   _snap_bucket_files (the written-file listing in _write_buckets)
  countrows   _count_rows (driver footer IO, in _write_buckets)
  stats       _stats_for_commit (zone-map derivation, driver footer IO)
  commit      _commit total (includes stats; lock + fsync + json)
  total       apply_batch wall
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql
import pyspark.sql.classic.dataframe as _cdf
from gamechanger_data_spark.datagen import FeedSpec, write_feed
from gamechanger_data_spark.session import get_spark
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.sources.feed import list_ready_batches, read_batch
from gamechanger_data_spark.streaming import driver as drv

ACC: dict[str, float] = {}


def timed(name, fn):
    def wrap(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            ACC[name] = ACC.get(name, 0.0) + (time.perf_counter() - t0)

    return wrap


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    epb = int(os.environ.get("GCSPARK_BENCH_EVENTS_PER_BATCH", "3000000"))
    n_batches = int(os.environ.get("GCSPARK_BENCH_BATCHES", "2"))
    spark = get_spark(
        "gcspark-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file:///tmp/sparklogs",
                    "spark.eventLog.compress": "false",
                    **({"spark.driver.extraJavaOptions": os.environ["GCSPARK_JAVAOPTS"]}
                       if os.environ.get("GCSPARK_JAVAOPTS") else {}),
                    **(__import__("json").loads(os.environ.get("GCSPARK_EXTRACONF", "{}")))},
    )

    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else "/tmp"
    workdir = f"{base}/gcspark_prof_{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)

    spec = FeedSpec(
        n_convs=max(200, epb // 50),
        max_turns=50,
        n_batches=n_batches,
        events_per_batch=epb,
        seed=42,
        with_version_hash=False,
    )
    feed = os.path.join(workdir, "feed")
    write_feed(feed, spec, parts_per_batch=32)
    table = LakeTable(spark, os.path.join(workdir, "table"), n_buckets=32)

    # --- instrument ---
    drv.lineage_from_footers = timed("footers", drv.lineage_from_footers)
    orig_collect = _cdf.DataFrame.collect
    _cdf.DataFrame.collect = timed("collects", orig_collect)
    orig_pq = pyspark.sql.DataFrameWriter.parquet
    pyspark.sql.DataFrameWriter.parquet = timed("write", orig_pq)
    table._snap_bucket_files = timed("snapfiles", table._snap_bucket_files)
    table._count_rows = timed("countrows", table._count_rows)
    table._stats_for_commit = timed("stats", table._stats_for_commit)
    orig_commit = table._commit
    table._commit = timed("commit", orig_commit)

    out = []
    for batch_id, d in list_ready_batches(feed):
        ACC.clear()
        t0 = time.perf_counter()
        r = drv.apply_batch(table, read_batch(spark, d), batch_id, batch_dir=d)
        total = time.perf_counter() - t0
        assert not r.get("skipped")
        phases = {k: round(v, 3) for k, v in ACC.items()}
        phases["total"] = round(total, 3)
        phases["accounted"] = round(sum(v for k, v in ACC.items() if k != "commit"), 3)
        out.append({"batch": batch_id, "mode": r.get("mode"), **phases})

    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
