"""Operator/query catalog — the driver-facing coverage of SURVEY.md §2.

Each entry pairs a Spark implementation (DataFrame API, Catalyst-optimized)
with an ANSI-SQL oracle that DuckDB runs on the same parquet tables. Column
names are aliased identically on both sides (the driver's compare sorts
columns by name and hashes values). Aggregate results are cast explicitly:
DuckDB SUM(int) yields HUGEINT, Spark yields BIGINT — both sides cast.

Tables available (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gamechanger_data_spark.functions.hashing import dict_hash_expr, sha256_expr
from gamechanger_data_spark.functions.text import normalize_text_expr
from gamechanger_data_spark.operators.lww import lww_max_by, lww_salted, lww_window


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver may run these queries in its own session: oracle parity
    # requires UTC (NTZ<->LTZ casts vs the naive-UTC DuckDB oracle). Our own
    # session factory pins it (session.py); for foreign sessions set it once
    # rather than mutating conf on every load call.
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None -> non-SQL-expressible (rows-only check)
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


CATALOG: dict[str, Q] = {}


def q(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        CATALOG[name] = Q(fn=fn, sql=sql, doc=doc)
        return fn

    return deco


# =====================================================================
# CDC core: latest-version selection (SURVEY §2.3 J2, §2.4 A1/A2, §2.5)
# =====================================================================

_LWW_SQL = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


@q("lww_latest_window", _LWW_SQL,
   "J2/A2 latest-version per key, row_number form (create_views.sql:24-31)")
def lww_latest_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type", "value")
    return lww_window(ev, keys=("user_id",), order=("ts", "event_id"))


@q("lww_latest_max_by", _LWW_SQL,
   "same logical op, hash-aggregate (map-side partial) strategy — the 10^10-scale path")
def lww_latest_max_by(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type", "value")
    return lww_max_by(ev, keys=("user_id",), order=("ts", "event_id"))


def _scan_boost(df) -> int | None:
    """Input-skew remedy (optimization guide §2.5): parquet scans
    parallelize at row-group granularity, so a table materialized as one
    file with one giant row group decodes — and, worse, runs its
    map-side partial aggregation — in a single task while every other
    core idles. When the planned scan splits cover less than half the
    session's cores, return a repartition width (the session shuffle
    width, floor cores) so the heavy operator downstream fans out; the
    raw-row exchange this introduces is the documented trade (partial
    aggregation no longer pre-reduces before the shuffle), which is why
    the boost stays OFF for healthily-split inputs — on a real cluster
    with 128 MB-to-1 GB multi-row-group files this returns None and the
    plan keeps its map-side combine."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 > cores:
        return None
    width = int(spark.conf.get("spark.sql.shuffle.partitions", str(cores)))
    return max(width, cores)


def boosted(df) -> "DataFrame":
    """Repartition an under-split scan to the session shuffle width
    BEFORE an expensive narrow transform (guide §2.5 input-skew remedy).

    The test tables are single-row-group parquet files, so their scans
    plan ONE task no matter how many cores the session has; a downstream
    projection that costs milliseconds per row (minhash signatures = 12
    md5s per shingle, the 126-pattern reference-regex pass, per-vector
    cosine math) then runs serially while every other core idles.
    Exchanging the raw rows first is cheap (these tables are a few MB)
    and fans the expensive work out; on healthily-split inputs
    ``_scan_boost`` returns None and the plan is untouched, so clusters
    reading 128MB-1GB multi-row-group files keep their scan-fused
    pipelines. Only worth it when downstream per-row cost dwarfs one
    row exchange — aggregation-dominated queries keep their map-side
    combine instead (measured: dedup_minhash_lsh 43 s -> 4.9 s at
    sf0.1/local[32], identical output)."""
    width = _scan_boost(df)
    return df.repartition(width) if width else df


@q("lww_latest_salted", _LWW_SQL,
   "same logical op, explicit two-phase key-salted dedup (north-rule skew form)")
def lww_latest_salted(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type", "value")
    return lww_salted(ev, keys=("user_id",), order=("ts", "event_id"), salt_buckets=8,
                      partitions=_scan_boost(ev))


@q("groupwise_max_join", """
SELECT e.user_id, e.event_id, e.ts, e.event_type
FROM events e
JOIN (SELECT user_id, max(ts) AS max_ts FROM events GROUP BY user_id) m
  ON e.user_id = m.user_id AND e.ts = m.max_ts
""", "J2 join form: gc_crawler_status_tracker.py:107-132 groupwise-max join")
def groupwise_max_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events").alias("e")
    mx = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("max_ts"))
        .select(F.col("user_id").alias("m_user_id"), "max_ts")
    )
    return ev.join(
        mx, (F.col("e.user_id") == F.col("m_user_id")) & (F.col("e.ts") == F.col("max_ts"))
    ).select("e.user_id", "e.event_id", "e.ts", "e.event_type")


@q("window_max_distinct", """
SELECT DISTINCT user_id, max(ts) OVER (PARTITION BY user_id) AS max_ts FROM events
""", "A2 window form with DISTINCT (create_views.sql:24-31)")
def window_max_distinct(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return ev.select("user_id", F.max("ts").over(w).alias("max_ts")).distinct()


# =====================================================================
# Anti-join semantics (J3 revoke-by-absence, J4 hash anti-dedup; §2.7)
# =====================================================================


@q("revoke_by_absence", """
SELECT DISTINCT user_id FROM events
WHERE user_id NOT IN (
  SELECT user_id FROM events
  WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-28 00:00:00')
""", "J3: current keys absent from the latest feed window -> revoke set "
     "(gc_crawler_status_tracker.py:70-76)")
def revoke_by_absence(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    recent = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") >= F.lit("2024-01-28 00:00:00").cast("timestamp"))
    ).select("user_id")
    return ev.select("user_id").distinct().join(recent, "user_id", "left_anti")


@q("hash_anti_join_dedup", """
SELECT DISTINCT md5(concat(event_type, props)) AS vh
FROM events WHERE event_id >= 500
  AND md5(concat(event_type, props)) NOT IN (
    SELECT md5(concat(event_type, props)) FROM events WHERE event_id < 500)
""", "J4: version-hash set difference vs the cumulative seen-hash manifest "
     "(rpa/rpa_landing_zone_mover.py:100-128)")
def hash_anti_join_dedup(spark, sf_dir):
    # Set difference in ONE pass (guide §2.3 aggregate-before-shuffle):
    # the naive form scanned events twice and md5'd every row on both
    # sides before two distincts + an anti join; here one map-side-
    # combining aggregate tags each candidate key with which side(s) it
    # appears on, the filter keeps new-only keys, and md5 runs on the
    # (small) surviving set. 0.95s -> 0.49s noop-isolated at
    # sf1.0/local[32]. The output equals the original's except under an
    # md5 collision: the trailing distinct makes a SAME-side collision
    # (two new keys, one hash) harmless, but a collision ACROSS sides
    # differs — the original drops a new key whose md5 equals an old
    # key's md5, while this form compares the keys themselves and
    # keeps it. The anti-JOIN physical form stays covered by
    # revoke_by_absence (J3).
    ev = load(spark, sf_dir, "events").select(
        F.concat("event_type", "props").alias("k"),
        (F.col("event_id") < 500).alias("s"),
    )
    g = ev.groupBy("k").agg(F.max("s").alias("seen"), F.max(~F.col("s")).alias("new"))
    return (
        g.filter(F.col("new") & ~F.col("seen"))
        .select(F.md5("k").alias("vh"))
        .distinct()
    )


# =====================================================================
# Joins (J1 equi, J5 broadcast dim lookup, J6 min/max dates, J7 derived key)
# =====================================================================


@q("dim_lookup_join", """
SELECT r.r_name AS region_name, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o.o_totalprice) AS DOUBLE) AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""", "J1+J5: fact ⨝ broadcast dimension chain (parse.py:112-126 crawler_info "
     "lookup, done as one broadcast join instead of per-row SQL)")
def dim_lookup_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("total_revenue"),
        )
    )


@q("minmax_ingest_dates", """
SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""", "J6: per-key min/max ingest timestamps — one shuffle replaces the "
     "reference's per-row SQL lookups (parse.py:92-109)")
def minmax_ingest_dates(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_events"),
        )
    )


@q("derived_key_join", """
SELECT d.doc_id, d.lang, e.label
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.n_chars > 100
""", "J7: pairing by derived key (load/utils.py:157-221 filename-stem pairing)")
def derived_key_join(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 100)
    e = load(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select("doc_id", "lang", "label")


# =====================================================================
# Projections / filters (P1-P9) and scalar functions (F2-F15)
# =====================================================================


@q("suffix_rename_project", """
SELECT event_id, event_type AS event_type_s, value AS value_d,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_dt
FROM events
""", "P1/P2/F8: ES suffix-typing rename pass + column drop + second-floored "
     "timestamp format (parse.py:154-203, gc_ingest/config.py:13)")
def suffix_rename_project(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("event_type_s"),
        F.col("value").alias("value_d"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_dt"),
    )


@q("producer_filter", """
SELECT event_id, user_id, event_type FROM events
WHERE event_type IN ('click', 'view')
""", "P5: crawler-of-interest filter (gc_crawler_status_tracker.py:60-67)")
def producer_filter(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_id", "user_id", "event_type")
    )


@q("defaulting_projection", """
SELECT event_id,
       COALESCE(CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k_val
FROM events
""", "P3/F14: default-fill missing metadata + JSON repair "
     "(init_doc.py:37-66, load/utils.py:112-130)")
def defaulting_projection(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.k").cast("int"), F.lit(0)
        ).alias("k_val"),
    )


@q("min_length_gate", """
SELECT doc_id, n_chars FROM documents
WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 40
""", "P9: min-token gate before enrichment (lib/topics.py:30-34)")
def min_length_gate(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return d.filter(F.size(toks) > 40).select("doc_id", "n_chars")


@q("text_normalize_chain", """
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           translate(text,
                     chr(8216)||chr(8217)||chr(8218)||chr(8219)||chr(8220)||chr(8221)||chr(8222)||chr(8223)||chr(8211)||chr(8212)||chr(8213)||chr(8722)||chr(160),
                     repeat(chr(39),4) || repeat(chr(34),4) || repeat(chr(45),4) || ' '),
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
         '\\s+', ' ', 'g')) AS norm_text
FROM documents
""", "F2/F5: composable normalization chain (common/utils/text_utils.py:5-72)")
def text_normalize_chain(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", normalize_text_expr("text").alias("norm_text")
    )


@q("sha256_surrogate_key", """
SELECT doc_id, sha256(text) AS content_key FROM documents
""", "F9/F11: deterministic surrogate key enabling idempotent MERGE "
     "(gc_manual_metadata.py:9-14, gc_elasticsearch_publisher.py:81-94)")
def sha256_surrogate_key(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", sha256_expr("text").alias("content_key")
    )


@q("dict_hash_contract", """
SELECT event_id,
       sha256('(''event_id'', ' || CAST(event_id AS VARCHAR)
              || ')(''event_type'', ''' || event_type || ''')') AS version_hash
FROM events
""", "F10: dict_to_sha256_hex_digest — sorted-by-str(key) tuple-repr concat "
     "(gc_manual_metadata.py:16-28 reduce over str((k, v))); keys here sort "
     "as event_id < event_type")
def dict_hash_contract(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "event_id",
        dict_hash_expr(
            {"event_id": "event_id", "event_type": "event_type"},
            string_cols={"event_type"},
        ).alias("version_hash"),
    )


@q("title_truncate", """
SELECT doc_id, substr(text, 1, 100) AS title FROM documents
""", "O4: truncate-to-length (orch/models.py:37)")
def title_truncate(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 100).alias("title")
    )


# =====================================================================
# Aggregations (A3-A10), sorts/top-k (O1-O3), set ops (U1-U5)
# =====================================================================


@q("tpch_q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
       CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS sum_disc_price,
       CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE) AS sum_charge,
       CAST(avg(l_quantity) AS DOUBLE) AS avg_qty,
       CAST(avg(l_extendedprice) AS DOUBLE) AS avg_price,
       CAST(avg(l_discount) AS DOUBLE) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""", "headline scan+agg: pushdown-friendly pricing summary (bench anchor)")
def tpch_q1_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.sum("l_extendedprice").cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(disc * (1 + F.col("l_tax"))).cast("double").alias("sum_charge"),
            F.avg("l_quantity").cast("double").alias("avg_qty"),
            F.avg("l_extendedprice").cast("double").alias("avg_price"),
            F.avg("l_discount").cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q("top10_keywords", """
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word ORDER BY cnt DESC, word LIMIT 10
""", "A4/O3: keyword count + deterministic top-k (lib/keywords.py:4-11)")
def top10_keywords(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(10)
    )


@q("topk_per_group", """
SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 3
""", "O3 generalized: top-k per group via ranking window (A5 top-5 entities)")
def topk_per_group(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars")
    )


@q("word_count", """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_words
FROM documents
""", "A6: word count (lib/text_length.py:1-3)")
def word_count(spark, sf_dir):
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.size(toks).alias("n_words")
    )


@q("staleness_filter", """
SELECT user_id, max(ts) AS last_ts FROM events
WHERE event_type = 'purchase'
GROUP BY user_id HAVING max(ts) < TIMESTAMP '2024-01-28 00:00:00'
""", "A3: last 'Ingest Complete' per crawler + staleness gate "
     "(crawler_monitor.py:14-37) — here: last purchase per user older than cutoff")
def staleness_filter(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") < F.lit("2024-01-28 00:00:00").cast("timestamp"))
    )


@q("op_type_counters", """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(value) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""", "A10: per-op success/error tallies -> manifest metrics "
     "(gc_elasticsearch_publisher.py:105-127)")
def op_type_counters(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").cast("double").alias("total_value"))
    )


@q("distinct_union", """
SELECT user_id FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'error'
""", "U1: set union of key sets across feed slices "
     "(gc_crawler_status_tracker.py:36-37)")
def distinct_union(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.union(b).distinct()


@q("case_insensitive_dedup", """
SELECT upper(event_type) AS event_type_uc, CAST(min(event_id) AS BIGINT) AS first_event
FROM events GROUP BY upper(event_type)
""", "U5: case-insensitive entity dedup (neo4j_publisher.py:258-267), made "
     "deterministic by keeping min event_id per class")
def case_insensitive_dedup(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.upper("event_type").alias("event_type_uc"))
        .agg(F.min("event_id").alias("first_event"))
    )


@q("collect_set_sorted", """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
FROM events GROUP BY user_id
""", "A9: distinct sets per key, rendered as sorted CSV for engine-neutral "
     "comparison (gc_crawler_status_tracker.py:20-37)")
def collect_set_sorted(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "types_csv"
            )
        )
    )

# =====================================================================
# CDC apply semantics on the driver `events` table (secondary feed shape
# per FIXTURES.md §5: user_id -> key, event_type -> op) and the full
# transcript replay (rows-only: the oracle is the pandas reduction
# exercised in tests/test_cdc_replay.py, not SQL)
# =====================================================================


@q("cdc_apply_events", """
SELECT user_id, ts, event_type, value
FROM (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1 AND event_type <> 'error'
""", "CDC changelog apply: LWW winner per key, 'error' = tombstone -> absent "
     "(the reference's latest-version view + revocation rule in one plan: "
     "create_views.sql:24-31 + gc_crawler_status_tracker.py:55-82)")
def cdc_apply_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value", "event_id")
    latest = lww_max_by(ev, keys=("user_id",), order=("ts", "event_id"))
    return latest.filter(F.col("event_type") != "error").select(
        "user_id", "ts", "event_type", "value"
    )


# The flagship replay is hash-checked against a SQL oracle: the feed is a
# DETERMINISTIC seeded corpus published once to a stable path (so DuckDB can
# read the very same parquet files), and the engine's multi-batch
# exactly-once replay must converge to the state the single SQL expression
# below computes (LWW winner per key, deletes absent, revokes flagged,
# winner text normalized).
_REPLAY_ROOT = "/tmp/gcspark_replay_oracle_v1"
_REPLAY_FEED = os.path.join(_REPLAY_ROOT, "feed")

_NORM_CHAIN_SQL = """trim(regexp_replace(
  regexp_replace(
    translate({col},
      chr(8216)||chr(8217)||chr(8218)||chr(8219)||chr(8220)||chr(8221)||chr(8222)||chr(8223)||chr(8211)||chr(8212)||chr(8213)||chr(8722)||chr(160),
      repeat(chr(39),4) || repeat(chr(34),4) || repeat(chr(45),4) || ' '),
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
  '\\s+', ' ', 'g'))"""


def _publish_once(root: str, build) -> None:
    """Build-once-per-host atomic publish shared by every cached engine
    artifact (replay feed/table, sync tables): ``build(tmp)`` creates the
    content under a uuid tmp dir, the ``_READY_ALL`` marker is written
    LAST inside it, and one os.rename installs the whole tree. Concurrent
    builders race benignly — content is deterministic, the first rename
    wins, losers discard their tmp dir (the OSError branch)."""
    if os.path.exists(os.path.join(root, "_READY_ALL")):
        return
    import shutil
    import uuid as _uuid

    tmp = f"{root}-build-{_uuid.uuid4().hex}"
    build(tmp)
    with open(os.path.join(tmp, "_READY_ALL"), "w") as f:
        f.write("ok\n")
    try:
        os.rename(tmp, root)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _ensure_replay_feed() -> str:
    """Publish the seeded replay feed once per host."""

    def build(tmp):
        from gamechanger_data_spark.datagen import FeedSpec, write_feed

        write_feed(os.path.join(tmp, "feed"), FeedSpec(
            n_convs=60, n_batches=3, events_per_batch=500, seed=42))

    _publish_once(_REPLAY_ROOT, build)
    return _REPLAY_FEED


_TRANSCRIPT_REPLAY_SQL = f"""
WITH ev AS (
  SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')
),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, role,
       {_NORM_CHAIN_SQL.format(col='text')} AS text,
       tool, ts, (op = 'revoke') AS is_revoked
FROM w WHERE rn = 1 AND op <> 'delete'
"""


@q("transcript_replay", _TRANSCRIPT_REPLAY_SQL,
   "full engine path, HASH-checked: seeded feed -> normalize -> LWW -> "
   "bucket CoW/MOR MERGE (multi-batch, exactly-once) -> final transcript "
   "state must equal the oracle's one-shot LWW reduction over the same "
   "parquet feed")
def transcript_replay(spark, sf_dir):
    # the replay runs once per host (cached, atomic publish) — a fresh
    # mkdtemp per invocation leaked a full table copy every call and
    # re-paid the multi-batch replay; the engine-under-test behavior is
    # identical, just cached like the other replay_* machinery queries
    table = _ensure_replay_table(spark)
    return table.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


# Publish the feed at import so the oracle side can run even if the driver
# evaluates SQL before (or without) invoking the Spark query. The guard is
# broad on purpose: a failed publish must never take the whole catalog
# module down — the consumers (_ensure_replay_table, transcript_replay)
# re-invoke it and surface the real error there.
try:  # pragma: no cover - trivial guard
    _ensure_replay_feed()
except Exception:  # noqa: BLE001
    pass


# ---------------------------------------------------------------------
# Engine-machinery oracles: changelog, lineage, time travel. Each runs the
# REAL engine (replayed table, cached once per host under an atomic
# publish) and is hash-compared against SQL that recomputes the same fact
# from the raw feed alone — DuckDB derives batch membership from the
# parquet FILE PATHS (filename=true), the engine from its own metadata.
# ---------------------------------------------------------------------

_REPLAY_TABLE_ROOT = "/tmp/gcspark_replay_table_v4"  # v4: manifests carry zone maps


def _ensure_replay_table(spark):
    """Replay the published feed into a LakeTable once; reuse thereafter
    (deterministic content — only query RESULTS are compared)."""
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)

    _publish_once(_REPLAY_TABLE_ROOT, build)
    return LakeTable(spark, os.path.join(_REPLAY_TABLE_ROOT, "table"), n_buckets=8)


# event_seq = batch_idx * 10_000_000 + i (datagen contract), so batch
# boundaries are expressible as seq ranges in pure SQL.
_B2_LO = 2 * 10_000_000


@q("replay_changelog", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, ts, event_seq, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, ts, event_seq,
       CASE WHEN op = 'delete' THEN 'delete'
            WHEN op = 'revoke' THEN 'revoke'
            ELSE 'upsert' END AS change_op
FROM w WHERE rn = 1 AND event_seq >= {_B2_LO}
""", "derived CDC-out: the engine's changelog() of the LAST commit (rows "
     "whose winning event came from batch 2) vs a pure-SQL recomputation "
     "from the raw feed — verifies bucket-diff + offset-range metadata")
def replay_changelog_q(spark, sf_dir):
    t = _ensure_replay_table(spark)
    ch = t.changelog(t.current_version())
    return ch.select(
        "conv_id", "turn_idx", "ts", "event_seq", "change_op"
    )


@q("replay_lineage_counts", f"""
SELECT regexp_extract(filename, 'batch=([^/]+)', 1) AS batch_id,
       CAST(count(*) AS BIGINT) AS rows_in
FROM read_parquet('{_REPLAY_FEED}/*/*.parquet', filename=true)
GROUP BY 1
""", "lineage machinery: per-batch rows_in totals from the engine's "
     "manifest lineage rows vs DuckDB counting the same feed files by "
     "PATH — verifies the footer/observe lineage capture end to end")
def replay_lineage_counts_q(spark, sf_dir):
    t = _ensure_replay_table(spark)
    lin = t.lineage()
    return (
        lin.filter(F.col("partition_id") >= 0)
        .groupBy("batch_id")
        .agg(F.sum("rows_in").alias("rows_in"))
    )


# LWW state over the batches-0..1 feed PREFIX — the oracle for every
# pin-at-version-2 travel form (by id, by tag, by wall-clock).
_PREFIX_STATE_SQL = f"""
WITH ev AS (
  SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')
  WHERE event_seq < {_B2_LO}
),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, role,
       {_NORM_CHAIN_SQL.format(col='text')} AS text,
       ts, (op = 'revoke') AS is_revoked
FROM w WHERE rn = 1 AND op <> 'delete'
"""


@q("replay_time_travel", _PREFIX_STATE_SQL,
   "snapshot time travel: read(version=2) — the state after replaying "
     "only batches 0-1 — vs a pure-SQL LWW over the seq-bounded feed "
     "prefix; verifies manifest versioning + snapshot isolation")
def replay_time_travel_q(spark, sf_dir):
    t = _ensure_replay_table(spark)
    return t.read(version=2).select(
        "conv_id", "turn_idx", "role", "text", "ts", "is_revoked"
    )


@q("replay_pruned_scan",
   _TRANSCRIPT_REPLAY_SQL + "  AND ts >= TIMESTAMP '2024-01-01 00:05:00'",
   "zone-map predicate scan: read(where=[(ts, >=, cut)]) — the manifest's "
     "per-file min/max stats (commit-time footer derivation) skip "
     "non-overlapping base files BEFORE the scan schedules, then the same "
     "predicate filters residually — vs the LWW oracle with the identical "
     "cut on the winning row's ts; proves skipping never changes results "
     "(the pruning-actually-skips behavior is pinned in test_file_stats)")
def replay_pruned_scan_q(spark, sf_dir):
    from datetime import datetime

    t = _ensure_replay_table(spark)
    cut = datetime(2024, 1, 1, 0, 5, 0)
    return t.read(where=[("ts", ">=", cut)]).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


@q("replay_stats_agg", f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(tool) AS BIGINT) AS n_tool,
       min(ts) AS min_ts, max(ts) AS max_ts,
       max(turn_idx) AS max_turn,
       (SELECT CAST(count(*) AS BIGINT)
        FROM ({_TRANSCRIPT_REPLAY_SQL}) recent
        WHERE ts >= TIMESTAMP '2024-01-01 00:05:00') AS n_recent
FROM ({_TRANSCRIPT_REPLAY_SQL}) AS final_state
""", "metadata-answered aggregates through the SQL front-end: a bare "
     "global-agg SELECT over the replayed table routes to stats_agg — "
     "count(*)/count(tool) fold out of the manifest's commit-time exact "
     "counts (n minus tombstones, per-column nulls) for clean buckets, "
     "min/max(ts) scan tombstoned buckets (a tombstone's value is "
     "unknowable from stats) — and a WHERE count routes to the "
     "file-granular predicate count (zone-map excluded files free, "
     "fully-included files from metadata, boundary files scanned) — vs "
     "the LWW oracle's aggregates over the recomputed final state; one "
     "hash covers all three serve paths")
def replay_stats_agg_q(spark, sf_dir):
    from gamechanger_data_spark.plans.sqlfront import SqlLake

    t = _ensure_replay_table(spark)
    lake = SqlLake(spark).register("tstate", t)
    g = lake.sql(
        "SELECT count(*) AS n_rows, count(tool) AS n_tool, "
        "min(ts) AS min_ts, max(ts) AS max_ts, "
        "max(turn_idx) AS max_turn FROM tstate"
    )
    p = lake.sql(
        "SELECT count(*) AS n_recent FROM tstate "
        "WHERE ts >= '2024-01-01 00:05:00'"
    )
    return g.crossJoin(p)


_SINK_TABLE_ROOT = "/tmp/gcspark_sink_table_v1"


def _ensure_sink_table(spark):
    """Streaming lake-to-lake replication, cached once per host: the
    replayed table drained through readStream.format('lakecdc') into
    writeStream.format('laketable') — source AND sink are the engine's
    own Python DataSources (executor-side pyarrow staging bucketed by
    the xxh64 twin, pure-metadata MOR commits)."""
    import tempfile
    import uuid as _uuid

    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.cdc_source import register_lakecdc
    from gamechanger_data_spark.streaming.sink import register_laketable

    def build(tmp):
        src = _ensure_replay_table(spark)
        register_lakecdc(spark)
        register_laketable(spark)
        dst = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        # the sink appends to an existing schema: seed with ONE real,
        # non-revoked state row under the source's FULL schema — the
        # replication re-delivers the identical values, so the seed is
        # content-neutral whatever way the exact-tie resolves
        seed = (
            src.read()
            .filter("NOT is_revoked")
            .orderBy("conv_id", "turn_idx")
            .limit(1)
            .drop("is_revoked")
            .withColumn("op", F.lit("upsert"))
        )
        dst.merge(seed, "__sink_seed__")
        q_ = (
            spark.readStream.format("lakecdc")
            .option("path", src.root)
            .option("startingVersion", 0)
            .load()
            .withColumn("op", F.col("change_op"))
            .drop("change_op")
            .writeStream.format("laketable")
            .option("path", dst.root)
            .option("sinkId", f"cat-{_uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .option("checkpointLocation",
                    tempfile.mkdtemp(prefix="lakesink_cp_"))
            .start()
        )
        q_.awaitTermination(300)

    _publish_once(_SINK_TABLE_ROOT, build)
    from gamechanger_data_spark.sinks.table import LakeTable

    return LakeTable(spark, os.path.join(_SINK_TABLE_ROOT, "table"),
                     n_buckets=8)


@q("stream_sink_replication", _TRANSCRIPT_REPLAY_SQL,
   "streaming source->sink symmetry: the replayed table drained through "
     "readStream.format('lakecdc') INTO writeStream.format('laketable') — "
     "executor-side pyarrow staging bucketed by the pure-Python xxhash64 "
     "twin (bit-parity with the JVM hash), committed as exactly-once "
     "pure-metadata MOR delta appends with no SparkSession in the sink "
     "worker — must reproduce the LWW oracle's final state exactly; one "
     "hash covers the CDC-out kernel, the bucket-parity hash, the Arrow "
     "write path, and append_deltas' manifest arithmetic")
def stream_sink_replication_q(spark, sf_dir):
    t = _ensure_sink_table(spark)
    return t.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


_CLUSTERED_ROOT = "/tmp/gcspark_clustered_table_v1"


def _ensure_clustered_table(spark):
    """Replay the feed, then cluster_by('ts') with a tiny file target so
    every bucket splits into disjoint-ts files — the layout where a ts
    predicate actually skips."""
    import shutil as _sh

    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        t.cluster_by("ts", target_file_bytes=64 << 10)

    _publish_once(_CLUSTERED_ROOT, build)
    return LakeTable(
        spark, os.path.join(_CLUSTERED_ROOT, "table"), n_buckets=8
    )


@q("replay_clustered_scan",
   _TRANSCRIPT_REPLAY_SQL + "  AND ts >= TIMESTAMP '2024-01-01 00:05:00'",
   "cluster_by('ts') + zone-map skipping: the replayed table is range-"
     "clustered on ts (rewrite_data_files-with-sort-order analog) so a "
     "hash-bucketed table's buckets hold disjoint-ts files, then the same "
     "ts-cut read runs over the clustered layout — must equal the LWW "
     "oracle exactly (clustering is a maintenance rewrite: logical "
     "content unchanged) while the manifest stats now skip files "
     "(skip counts pinned in test_file_stats)")
def replay_clustered_scan_q(spark, sf_dir):
    from datetime import datetime

    t = _ensure_clustered_table(spark)
    cut = datetime(2024, 1, 1, 0, 5, 0)
    return t.read(where=[("ts", ">=", cut)]).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


@q("replay_as_of", _PREFIX_STATE_SQL,
   "TIMESTAMP time travel: read(as_of=<instant between the batch-1 and "
     "batch-2 commits>) must resolve through the commit history to the "
     "batches-0..1 state — the Iceberg AS OF <timestamp> form, vs the same "
     "seq-bounded prefix oracle as replay_time_travel (which pins by "
     "version id; this pins by wall-clock)")
def replay_as_of_q(spark, sf_dir):
    from datetime import datetime

    t = _ensure_replay_table(spark)
    fmt = "%Y-%m-%dT%H:%M:%S.%f"
    at2 = datetime.strptime(t._load_manifest(2)["committed_at"], fmt)
    at3 = datetime.strptime(t._load_manifest(3)["committed_at"], fmt)
    mid = at2 + (at3 - at2) / 2
    return t.read(as_of=mid).select(
        "conv_id", "turn_idx", "role", "text", "ts", "is_revoked"
    )


# ---------------------------------------------------------------------
# Predicate DML + schema evolution machinery: each builds the replayed
# table once per host, applies the engine operation, and is hash-compared
# against SQL recomputing the expected final state from the raw feed.
# ---------------------------------------------------------------------

_DML_ROOT = "/tmp/gcspark_dml_table_v2"


def _ensure_dml_table(spark):
    """Replay the feed, then apply two predicate-DML commits: an
    update_where prefixing system-role text and a delete_where
    tombstoning tool-role rows (disjoint predicates, order-insensitive)."""
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        t.update_where(
            "role = 'system'",
            {"text": "concat('[sys] ', text)"},
            "dml-up-1",
        )
        t.delete_where("role = 'tool'", "dml-del-1")

    _publish_once(_DML_ROOT, build)
    return LakeTable(spark, os.path.join(_DML_ROOT, "table"), n_buckets=8)


_DML_STATE_SQL = f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN role = 'system'
              THEN '[sys] ' || {_NORM_CHAIN_SQL.format(col='text')}
              ELSE {_NORM_CHAIN_SQL.format(col='text')} END AS text,
         ts, (op = 'revoke') AS is_revoked
  FROM w WHERE rn = 1 AND op <> 'delete' AND role <> 'tool'
)
"""


@q("delete_where_rewrite", _DML_STATE_SQL + """
SELECT conv_id, turn_idx, role, ts, is_revoked FROM state
""", "predicate DELETE as a first-class commit: delete_where(role='tool') "
     "compiles to a touched-bucket CoW rewrite writing tombstones; the "
     "final table must equal the oracle state with tool rows absent "
     "(cli.py:267-284 delete pipeline analog)")
def delete_where_rewrite_q(spark, sf_dir):
    t = _ensure_dml_table(spark)
    return t.read().select("conv_id", "turn_idx", "role", "ts", "is_revoked")


@q("update_where_rewrite", _DML_STATE_SQL + """
SELECT conv_id, turn_idx, text FROM state
""", "predicate UPDATE as a first-class commit: update_where(role='system', "
     "text := '[sys] ' || text) rewrites only matching rows in touched "
     "buckets, leaves every other row byte-identical, and never bumps "
     "order columns")
def update_where_rewrite_q(spark, sf_dir):
    t = _ensure_dml_table(spark)
    return t.read().select("conv_id", "turn_idx", "text")


_WAP_ROOT = "/tmp/gcspark_wap_table_v2"


def _ensure_wap_table(spark):
    """Write-audit-publish: replay batch 0 on main, stage batches 1-2 on
    an ``audit`` branch (invisible on main until publish), run the audit
    gate, then fast-forward main to the branch head."""
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        root = os.path.join(tmp, "table")
        main = LakeTable(spark, root, n_buckets=8)
        replay_feed(spark, feed, main, limit=1)
        main.create_branch("audit")
        audit = LakeTable(spark, root, n_buckets=8, branch="audit")
        replay_feed(spark, feed, audit)
        # the audit gate: staged state must be non-empty and key-unique
        staged = audit.read()
        n, nk = staged.count(), staged.select("conv_id", "turn_idx").distinct().count()
        assert n > 0 and n == nk, (n, nk)
        main.fast_forward("audit")

    _publish_once(_WAP_ROOT, build)
    return LakeTable(spark, os.path.join(_WAP_ROOT, "table"), n_buckets=8)


@q("replay_wap_publish", _TRANSCRIPT_REPLAY_SQL,
   "write-audit-publish: batches 1-2 staged on an 'audit' BRANCH "
   "(Iceberg branch model — shared manifests/data/lock, own fsync'd head "
   "pointer), validated, then fast_forward'd into main; main's final "
   "state must equal the one-shot LWW oracle over the full feed, with "
   "the branch's applied-batch history carried across the publish")
def replay_wap_publish_q(spark, sf_dir):
    t = _ensure_wap_table(spark)
    return t.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


_EVO_ROOT = "/tmp/gcspark_evo_table_v2"


def _ensure_evo_table(spark):
    """Replay batch 0 under the original schema, rename tool->tool_name
    (metadata-only), then apply the remaining batches delivering a WIDER
    turn_idx (long vs stored int) and still carrying the RETIRED column
    name — exercising widening + rename + lagging-producer mapping in one
    replay."""
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.sources.feed import list_ready_batches, read_batch
    from gamechanger_data_spark.streaming.driver import apply_batch, replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t, limit=1)
        t.rename_column("tool", "tool_name")
        applied = t.applied_batches()
        for batch_id, d in list_ready_batches(feed):
            if batch_id in applied:
                continue
            ev = read_batch(spark, d).withColumn(
                "turn_idx", F.col("turn_idx").cast("long")
            )
            apply_batch(t, ev, batch_id, batch_dir=d)

    _publish_once(_EVO_ROOT, build)
    return LakeTable(spark, os.path.join(_EVO_ROOT, "table"), n_buckets=8)


@q("replay_schema_evolution", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
)
SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
       {_NORM_CHAIN_SQL.format(col='text')} AS text,
       tool AS tool_name, ts, (op = 'revoke') AS is_revoked
FROM w WHERE rn = 1 AND op <> 'delete'
""", "schema evolution mid-replay: batch 0 lands under (tool, int "
     "turn_idx); the column is renamed metadata-only; batches 1-2 arrive "
     "with a WIDENED long turn_idx and the retired column name — the final "
     "state must still equal the one-shot LWW oracle, with old int files "
     "read under the widened schema and old-named files resolved through "
     "the alias map (no rewrite at any step)")
def replay_schema_evolution_q(spark, sf_dir):
    t = _ensure_evo_table(spark)
    return t.read().select(
        "conv_id", "turn_idx", "role", "text", "tool_name", "ts", "is_revoked"
    )


# ---------------------------------------------------------------------
# SQL front-end machinery (plans/sqlfront.py): the same travel reads the
# replay_* queries make through the Python API, issued as PLAIN SQL TEXT
# with Iceberg/Delta travel clauses — VERSION AS OF <tag>, two pins of
# one table in one query, and <table>@<branch>. Reference analog: the
# reference's consumers read published state through SQL views
# (create_views.sql:24-31 latest_only), not a Python API.
# ---------------------------------------------------------------------


@q("sql_travel_tag", _PREFIX_STATE_SQL,
   "SQL time travel by TAG: SELECT ... FROM transcripts VERSION AS OF "
   "'after-b1' through SqlLake — the tag pins snapshot v2, so the result "
   "must equal the batches-0..1 prefix oracle (same contract as "
   "replay_time_travel, but the pin travels through SQL text + tag "
   "resolution instead of read(version=))")
def sql_travel_tag_q(spark, sf_dir):
    from gamechanger_data_spark.plans.sqlfront import SqlLake

    t = _ensure_replay_table(spark)
    t.tag("after-b1", version=2)  # idempotent: re-tagging moves/keeps it
    lake = SqlLake(spark).register("transcripts", t)
    return lake.sql(
        "SELECT conv_id, turn_idx, role, text, ts, is_revoked "
        "FROM transcripts VERSION AS OF 'after-b1'"
    )


@q("sql_travel_diff_join", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, text, op, event_seq,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
cur AS (
  SELECT conv_id, turn_idx,
         {_NORM_CHAIN_SQL.format(col='text')} AS text,
         (op = 'revoke') AS is_revoked
  FROM w WHERE rn = 1 AND op <> 'delete'
),
wp AS (
  SELECT conv_id, turn_idx, text, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev WHERE event_seq < {_B2_LO}
),
old AS (
  SELECT conv_id, turn_idx,
         {_NORM_CHAIN_SQL.format(col='text')} AS text,
         (op = 'revoke') AS is_revoked
  FROM wp WHERE rn = 1 AND op <> 'delete'
)
SELECT cur.conv_id, cur.turn_idx, (old.conv_id IS NULL) AS is_new
FROM cur LEFT JOIN old
  ON cur.conv_id = old.conv_id AND cur.turn_idx = old.turn_idx
WHERE old.conv_id IS NULL OR cur.text <> old.text
   OR cur.is_revoked <> old.is_revoked
""", "two snapshot pins of ONE table in ONE SQL query: head LEFT JOIN "
     "VERSION AS OF 2 — rows added or changed since the batch-1 commit. "
     "Each pin resolves to its own snapshot view, so the join is "
     "head-vs-v2, not head-vs-head; the oracle recomputes both LWW "
     "states from the raw feed and diffs them")
def sql_travel_diff_join_q(spark, sf_dir):
    from gamechanger_data_spark.plans.sqlfront import SqlLake

    t = _ensure_replay_table(spark)
    lake = SqlLake(spark).register("transcripts", t)
    return lake.sql("""
        SELECT cur.conv_id, cur.turn_idx, (old.conv_id IS NULL) AS is_new
        FROM transcripts cur
        LEFT JOIN transcripts VERSION AS OF 2 old
          ON cur.conv_id = old.conv_id AND cur.turn_idx = old.turn_idx
        WHERE old.conv_id IS NULL OR cur.text <> old.text
           OR cur.is_revoked <> old.is_revoked
    """)


@q("sql_branch_read", f"""
WITH state AS ({_TRANSCRIPT_REPLAY_SQL})
SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN is_revoked THEN 1 ELSE 0 END) AS BIGINT)
         AS n_revoked
FROM state GROUP BY role
""", "branch read through SQL: SELECT ... FROM transcripts@audit on the "
     "write-audit-publish table — the @branch reference resolves along "
     "the audit branch's own head pointer (which, post-publish, carries "
     "the full-feed state), vs per-role aggregates of the one-shot LWW "
     "oracle")
def sql_branch_read_q(spark, sf_dir):
    from gamechanger_data_spark.plans.sqlfront import SqlLake

    t = _ensure_wap_table(spark)
    lake = SqlLake(spark).register("transcripts", t)
    return lake.sql(
        "SELECT role, CAST(count(*) AS BIGINT) AS n_turns, "
        "CAST(sum(CASE WHEN is_revoked THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_revoked "
        "FROM transcripts@audit GROUP BY role"
    )


# ---------------------------------------------------------------------
# SQL DML statements through the front-end: the same predicate-DML and
# MERGE commits the Python API makes, issued as DELETE/UPDATE/MERGE
# INTO SQL text (sqlfront.py parses the statement, routes it to
# delete_where/update_where/merge, and the manifest records the SQL
# spec for sync pushdown). Oracles recompute the expected final state
# from the raw feed plus the same transformations in pure SQL.
# ---------------------------------------------------------------------

@q("diff_versions_cdc", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
fw AS (
  SELECT conv_id, turn_idx, op, event_seq,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
f AS (SELECT conv_id, turn_idx, op, event_seq FROM fw WHERE rn = 1),
pw AS (
  SELECT conv_id, turn_idx, event_seq,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev WHERE event_seq < {_B2_LO}
),
p AS (SELECT conv_id, turn_idx, event_seq FROM pw WHERE rn = 1)
SELECT f.conv_id AS conv_id, f.turn_idx AS turn_idx,
       CASE WHEN f.op = 'delete' THEN 'delete'
            WHEN f.op = 'revoke' THEN 'revoke'
            ELSE 'upsert' END AS change_op
FROM f LEFT JOIN p
  ON f.conv_id = p.conv_id AND f.turn_idx = p.turn_idx
WHERE p.conv_id IS NULL OR f.event_seq <> p.event_seq
""", "between-snapshots incremental read: diff(v2 -> head) on the replayed "
     "table — every key whose WINNING row changed after the batch-1 "
     "commit, classified delete/revoke/upsert, in ONE pass over the "
     "changed buckets (no per-commit changelog union) — vs a pure-SQL "
     "full-state/prefix-state winner comparison over the raw feed")
def diff_versions_cdc_q(spark, sf_dir):
    t = _ensure_replay_table(spark)
    return t.diff(2).select("conv_id", "turn_idx", "change_op")


@q("stream_changelog_cdc", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, role,
       {_NORM_CHAIN_SQL.format(col='text')} AS text,
       tool, ts,
       CASE WHEN op = 'delete' THEN 'delete'
            WHEN op = 'revoke' THEN 'revoke'
            ELSE 'upsert' END AS change_op
FROM w WHERE rn = 1
""", "Structured Streaming CDC-out: readStream.format('lakecdc') drained "
     "with an availableNow trigger from startingVersion=0 — the full "
     "history streams as one exactly-once span whose rows are the table's "
     "physical winners (tombstones as change_op=delete) — vs the pure-SQL "
     "LWW winner-per-key reduction over the same raw feed; parity here "
     "means the executor-side pyarrow diff kernel, the version-offset "
     "bookkeeping, and the Arrow batch hand-off all reproduce the "
     "engine's state bit-for-bit")
def stream_changelog_cdc_q(spark, sf_dir):
    import tempfile
    import uuid as _uuid

    from gamechanger_data_spark.streaming.cdc_source import register_lakecdc

    t = _ensure_replay_table(spark)
    register_lakecdc(spark)
    name = f"lakecdc_drain_{_uuid.uuid4().hex[:8]}"
    q_ = (
        spark.readStream.format("lakecdc")
        .option("path", t.root)
        .option("startingVersion", 0)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lakecdc_cp_"))
        .start()
    )
    q_.awaitTermination(300)
    return spark.table(name).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "change_op"
    )


_SQLDML_ROOT = "/tmp/gcspark_sqldml_table_v1"


def _ensure_sqldml_table(spark):
    """Replay the feed, then mutate through SQL TEXT: a two-assignment
    UPDATE on user rows, then a DELETE of even system turns."""
    from gamechanger_data_spark.plans.sqlfront import SqlLake
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        lake = SqlLake(spark).register("transcripts", t)
        lake.sql(
            "UPDATE transcripts SET text = concat('[u] ', text), "
            "tool = coalesce(tool, 'none') WHERE role = 'user'",
            batch_id="sqldml-up-1",
        )
        lake.sql(
            "DELETE FROM transcripts WHERE role = 'system' AND turn_idx % 2 = 0",
            batch_id="sqldml-del-1",
        )

    _publish_once(_SQLDML_ROOT, build)
    return LakeTable(spark, os.path.join(_SQLDML_ROOT, "table"), n_buckets=8)


_SQLDML_STATE_SQL = f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN role = 'user'
              THEN '[u] ' || {_NORM_CHAIN_SQL.format(col='text')}
              ELSE {_NORM_CHAIN_SQL.format(col='text')} END AS text,
         CASE WHEN role = 'user' THEN coalesce(tool, 'none')
              ELSE tool END AS tool,
         ts, (op = 'revoke') AS is_revoked
  FROM w
  WHERE rn = 1 AND op <> 'delete'
    AND NOT (role = 'system' AND turn_idx % 2 = 0)
)
"""


@q("sql_update_statement", _SQLDML_STATE_SQL + """
SELECT conv_id, turn_idx, text, tool FROM state
""", "UPDATE ... SET a = f(a), b = g(b) WHERE ... as SQL TEXT through the "
     "front-end: two comma-separated assignments (one with a function "
     "call containing commas) routed to update_where as an exactly-once "
     "commit; non-matching rows stay byte-identical")
def sql_update_statement_q(spark, sf_dir):
    t = _ensure_sqldml_table(spark)
    return t.read().select("conv_id", "turn_idx", "text", "tool")


@q("sql_delete_statement", _SQLDML_STATE_SQL + """
SELECT conv_id, turn_idx, role, ts, is_revoked FROM state
""", "DELETE FROM ... WHERE <compound predicate> as SQL TEXT: routed to "
     "delete_where, tombstoning matching live rows in a touched-bucket "
     "CoW rewrite; the surviving row set must equal the oracle state")
def sql_delete_statement_q(spark, sf_dir):
    t = _ensure_sqldml_table(spark)
    return t.read().select("conv_id", "turn_idx", "role", "ts", "is_revoked")


_SQLMERGE_ROOT = "/tmp/gcspark_sqlmerge_table_v1"


def _ensure_sqlmerge_table(spark):
    """Replay the feed, then patch every turn-0 row through a
    self-referential SQL MERGE (USING subquery reads the table through
    the same front-end; same ts, bumped event_seq — the patch wins on
    the lexicographic (ts, event_seq) LWW tiebreaker)."""
    from gamechanger_data_spark.plans.sqlfront import SqlLake
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        lake = SqlLake(spark).register("transcripts", t)
        lake.sql(
            """
            MERGE INTO transcripts USING (
              SELECT conv_id, turn_idx, role,
                     concat(text, ' [rev]') AS text, tool, ts,
                     event_seq + 90000000 AS event_seq, is_revoked
              FROM transcripts WHERE turn_idx = 0
            ) s
            ON transcripts.conv_id = s.conv_id
               AND transcripts.turn_idx = s.turn_idx
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """,
            batch_id="sqlmerge-1",
        )

    _publish_once(_SQLMERGE_ROOT, build)
    return LakeTable(spark, os.path.join(_SQLMERGE_ROOT, "table"), n_buckets=8)


@q("sql_merge_upsert", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx,
         {_NORM_CHAIN_SQL.format(col='text')} AS text, ts
  FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id, turn_idx,
       CASE WHEN turn_idx = 0 THEN text || ' [rev]' ELSE text END AS text,
       ts
FROM state
""", "MERGE INTO ... USING (subquery) with the canonical SET */INSERT * "
     "clause pair as SQL TEXT: the USING query resolves through the same "
     "front-end (self-referential patch), the ON clause is validated to "
     "cover exactly the key columns, and the engine MERGE applies the "
     "patch under the LWW order guard")
def sql_merge_upsert_q(spark, sf_dir):
    t = _ensure_sqlmerge_table(spark)
    return t.read().select("conv_id", "turn_idx", "text", "ts")


_SQLINS_ROOT = "/tmp/gcspark_sqlins_table_v1"


def _ensure_sqlins_table(spark):
    """Replay the feed, then extend it through SQL INSERT INTO text: a
    derived SELECT insert (new turn_idx range, self-read through the
    front-end), a VALUES insert with a column list, and an exactly-once
    replay probe (same batch id, different rows — must be a no-op)."""
    from gamechanger_data_spark.plans.sqlfront import SqlLake
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        lake = SqlLake(spark).register("transcripts", t)
        lake.sql(
            "INSERT INTO transcripts "
            "SELECT conv_id, 9000 + turn_idx AS turn_idx, role, "
            "concat('[ins] ', text) AS text, tool, ts, "
            "event_seq + 80000000 AS event_seq "
            "FROM transcripts WHERE turn_idx = 0",
            batch_id="sqlins-derived",
        )
        lake.sql(
            "INSERT INTO transcripts "
            "(conv_id, turn_idx, role, text, tool, ts, event_seq) VALUES "
            "('ins-conv', 0, 'user', 'hello insert', 'none', "
            "TIMESTAMP '2024-01-01 00:00:00', 1), "
            "('ins-conv', 1, 'assistant', 'ack', 'none', "
            "TIMESTAMP '2024-01-01 00:00:05', 2)",
            batch_id="sqlins-values",
        )
        # exactly-once: an already-applied statement id must not commit
        # (the 'dup' row is asserted ABSENT by the oracle)
        lake.sql(
            "INSERT INTO transcripts "
            "(conv_id, turn_idx, role, text, tool, ts, event_seq) VALUES "
            "('ins-conv', 99, 'user', 'dup', 'none', "
            "TIMESTAMP '2024-01-01 00:00:00', 3)",
            batch_id="sqlins-values",
        )

    _publish_once(_SQLINS_ROOT, build)
    return LakeTable(spark, os.path.join(_SQLINS_ROOT, "table"), n_buckets=8)


@q("sql_insert_statement", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx, role,
         {_NORM_CHAIN_SQL.format(col='text')} AS text, tool, ts
  FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id, turn_idx, role, text, tool, ts FROM state
UNION ALL
SELECT conv_id, CAST(9000 + turn_idx AS INTEGER) AS turn_idx, role,
       '[ins] ' || text AS text, tool, ts
FROM state WHERE turn_idx = 0
UNION ALL
SELECT * FROM (VALUES
  ('ins-conv', 0, 'user', 'hello insert', 'none',
   TIMESTAMP '2024-01-01 00:00:00'),
  ('ins-conv', 1, 'assistant', 'ack', 'none',
   TIMESTAMP '2024-01-01 00:00:05')
) AS v(conv_id, turn_idx, role, text, tool, ts)
""", "INSERT INTO as SQL TEXT through the front-end (the first statement "
     "a SQL user types; reference analog: the insert-first upsert loader, "
     "gc_ingest/tools/load/utils.py:223-278): a derived SELECT insert "
     "whose source self-reads through the same front-end, a VALUES "
     "insert with a column list, and an exactly-once replay probe — the "
     "re-used batch id must not commit, so its 'dup' row is absent from "
     "the oracle state")
def sql_insert_statement_q(spark, sf_dir):
    t = _ensure_sqlins_table(spark)
    return t.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_SQLCALL_ROOT = "/tmp/gcspark_sqlcall_table_v1"


def _ensure_sqlcall_table(spark):
    """Replay the feed, then drive the ops surface ENTIRELY through SQL
    CALL statements: tag the pre-DML head, delete through SQL, roll the
    table back via CALL, and run a CALL maintenance cycle. If any CALL
    failed to route, the delete would still be visible and the state
    hash would diverge."""
    from gamechanger_data_spark.plans.sqlfront import SqlLake
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        lake = SqlLake(spark).register("transcripts", t)
        lake.sql("CALL transcripts.tag('pre-dml')")
        lake.sql(
            "DELETE FROM transcripts WHERE role = 'tool'",
            batch_id="sqlcall-del",
        )
        pre = t.tag_version("pre-dml")
        lake.sql(f"CALL transcripts.rollback_to_snapshot({pre})")
        # retention-safe maintenance cycle through CALL (keep_last high,
        # grace default: reports only, deletes nothing the tag pins)
        lake.sql("CALL transcripts.maintain(1, 100, 3600.0)")

    _publish_once(_SQLCALL_ROOT, build)
    return LakeTable(spark, os.path.join(_SQLCALL_ROOT, "table"), n_buckets=8)


@q("sql_call_procedures", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, role, ts, (op = 'revoke') AS is_revoked
FROM w WHERE rn = 1 AND op <> 'delete'
""", "CALL-style maintenance procedures (Iceberg CALL system.*; reference "
     "analog: snapshot/restore tooling, gc_ingest/tools/snapshot/"
     "utils.py:158-257): tag -> SQL DELETE -> rollback_to_snapshot -> "
     "maintain, ALL issued as CALL/DML text — the head state must equal "
     "the pre-DML replay state, proving the tag pinned it and the "
     "rollback routed")
def sql_call_procedures_q(spark, sf_dir):
    t = _ensure_sqlcall_table(spark)
    return t.read().select("conv_id", "turn_idx", "role", "ts", "is_revoked")


_CTAS_ROOT = "/tmp/gcspark_ctas_table_v1"


def _ensure_ctas_table(spark):
    """CREATE TABLE ... AS SELECT through the front-end: materialize a
    per-conversation rollup FROM the replayed transcript table into a
    brand-new lake table (its own keys/order/buckets), entirely as SQL
    text. Reference analog: truncate-and-reload materialization,
    gc_ingest/tools/db/utils.py:97-116."""
    from gamechanger_data_spark.plans.sqlfront import SqlLake
    from gamechanger_data_spark.sinks.table import LakeTable

    def build(tmp):
        src = _ensure_replay_table(spark)
        lake = SqlLake(spark).register("transcripts", src)
        lake.sql(
            f"CREATE TABLE conv_rollup LOCATION '{tmp}/rollup' "
            "KEY (conv_id) ORDER BY (last_ts) BUCKETS 8 AS "
            "SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, "
            "max(ts) AS last_ts, "
            "CAST(sum(CASE WHEN is_revoked THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_revoked "
            "FROM transcripts GROUP BY conv_id",
            batch_id="ctas-rollup",
        )

    _publish_once(_CTAS_ROOT, build)
    return LakeTable(
        spark, os.path.join(_CTAS_ROOT, "rollup"), key_cols=("conv_id",),
        order_cols=("last_ts",), n_buckets=8,
    )


@q("sql_ctas_rollup", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx, ts, (op = 'revoke') AS is_revoked
  FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, max(ts) AS last_ts,
       CAST(sum(CASE WHEN is_revoked THEN 1 ELSE 0 END) AS BIGINT)
       AS n_revoked
FROM state GROUP BY conv_id
""", "CREATE TABLE ... AS SELECT as SQL TEXT: a per-conversation rollup "
     "materialized from the replayed table into a NEW lake table (own "
     "key/order/bucket spec, atomic overwrite commit, registered and "
     "immediately travel-readable) — the new table's contents must equal "
     "the rollup the oracle recomputes from the raw feed")
def sql_ctas_rollup_q(spark, sf_dir):
    t = _ensure_ctas_table(spark)
    return t.read().select("conv_id", "n_turns", "last_ts", "n_revoked")


_ALTER_ROOT = "/tmp/gcspark_alter_table_v1"


def _ensure_alter_table(spark):
    """Drive the DDL lifecycle ENTIRELY through SQL text: replay the
    feed, ADD two columns (metadata-only), populate them with a
    predicate-free UPDATE, RENAME a column, then DROP one of the added
    columns. Every statement routes through the front-end; if any
    mis-routed, the final column set or values diverge from the oracle.
    Reference analogs: the additive extension splat (SURVEY §2.2 P4,
    common/document_parser/parsers/policy_analytics/parse.py) and the
    publish-time column drop (gc_elasticsearch_publisher.py:79-100)."""
    from gamechanger_data_spark.plans.sqlfront import SqlLake
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8)
        replay_feed(spark, feed, t)
        lake = SqlLake(spark).register("transcripts", t)
        lake.sql(
            "ALTER TABLE transcripts ADD COLUMNS (n_chars bigint, "
            "grade string)"
        )
        lake.sql(
            "UPDATE transcripts SET n_chars = CAST(length(text) AS BIGINT), "
            "grade = CASE WHEN role = 'assistant' THEN 'a' ELSE 'h' END",
            batch_id="alter-fill",
        )
        lake.sql("ALTER TABLE transcripts RENAME COLUMN tool TO tool_name")
        lake.sql("ALTER TABLE transcripts DROP COLUMN grade")

    _publish_once(_ALTER_ROOT, build)
    return LakeTable(spark, os.path.join(_ALTER_ROOT, "table"), n_buckets=8)


@q("sql_alter_lifecycle", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, tool, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx, role,
         {_NORM_CHAIN_SQL.format(col='text')} AS text,
         tool AS tool_name, ts, (op = 'revoke') AS is_revoked
  FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id, turn_idx, role, text, tool_name, ts, is_revoked,
       CAST(length(text) AS BIGINT) AS n_chars
FROM state
""", "DDL lifecycle as SQL TEXT: ADD COLUMNS (metadata-only — old rows "
     "null), UPDATE populates them, RENAME COLUMN tool->tool_name "
     "(metadata-only, files resolve via alias coalesce), DROP COLUMN "
     "grade (metadata-only, resurrection-guarded). The FULL column set "
     "is returned, so a failed drop or rename shows up as a schema "
     "mismatch, and n_chars must equal the oracle's recomputation")
def sql_alter_lifecycle_q(spark, sf_dir):
    t = _ensure_alter_table(spark)
    return t.read().select(
        "conv_id", "turn_idx", "role", "text", "tool_name", "ts",
        "is_revoked", "n_chars",
    )


_MAINT_ROOT = "/tmp/gcspark_maintain_table_v1"


def _ensure_maintain_table(spark):
    """Replay the feed as all-MOR with the driver's maintain cadence
    (maintain_every=1, threshold 1): every batch is followed by a
    threshold compaction + retention pass, so the final table must hold
    zero outstanding deltas AND the exact replay state."""
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import replay_feed

    def build(tmp):
        feed = _ensure_replay_feed()
        t = LakeTable(spark, os.path.join(tmp, "table"), n_buckets=8,
                      merge_mode="mor", mor_max_deltas=4)
        replay_feed(
            spark, feed, t, maintain_every=1,
            maintain_opts={"compact_min_deltas": 1, "keep_last": 2},
        )
        assert not any(t._load_manifest().get("deltas", {}).values())

    _publish_once(_MAINT_ROOT, build)
    return LakeTable(spark, os.path.join(_MAINT_ROOT, "table"), n_buckets=8)


@q("replay_maintain_cadence", _TRANSCRIPT_REPLAY_SQL,
   "self-maintaining replay: every batch lands as a MOR delta append and "
   "is immediately folded by the driver's maintain_every cadence "
   "(threshold compact + retention) — the maintenance cycles must be "
   "state-invariant, so the final table hash-matches the one-shot LWW "
   "oracle exactly like the plain replay")
def replay_maintain_cadence_q(spark, sf_dir):
    t = _ensure_maintain_table(spark)
    return t.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


# ---------------------------------------------------------------------
# Derived-table machinery: lake-to-lake changelog sync (sync_changelog)
# and incremental aggregate maintenance (sync_aggregate). Both run the
# REAL engine over the cached replay table and are hash-compared against
# SQL that recomputes the same final fact from the raw feed alone — the
# incremental path must converge to what one-shot SQL computes.
# ---------------------------------------------------------------------

_SYNC_ROOT = "/tmp/gcspark_sync_tables_v3"


def conv_rollup(state: DataFrame) -> DataFrame:
    """Group-local per-conversation rollup (the delta-scoped recompute
    contract of sync_aggregate): turn count, revoked-turn count, last
    activity, total normalized characters. Reference analog: the crawler
    status rollup views (gc_crawler_status_tracker.py:107-132), which the
    reference recomputes wholesale per ingest."""
    return state.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("is_revoked").cast("int")).cast("long").alias("n_revoked"),
        F.max("ts").alias("last_ts"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )


def _ensure_sync_tables(spark):
    """Build the two derived tables from the cached replay table once per
    host (atomic publish, same pattern as _ensure_replay_table): a
    changelog-synced full copy and an incrementally-maintained rollup —
    each source commit applied as its own delta-scoped merge."""
    from gamechanger_data_spark.sinks.table import LakeTable
    from gamechanger_data_spark.streaming.driver import (
        sync_aggregate,
        sync_changelog,
    )

    def _open(root):
        return (
            LakeTable(spark, os.path.join(root, "copy"), n_buckets=4),
            LakeTable(
                spark,
                os.path.join(root, "rollup"),
                key_cols=("conv_id",),
                order_cols=("src_version",),
                n_buckets=4,
            ),
        )

    def build(tmp):
        src = _ensure_replay_table(spark)
        copy, rollup = _open(tmp)
        sync_changelog(src, copy)
        sync_aggregate(src, rollup, conv_rollup)

    _publish_once(_SYNC_ROOT, build)
    return _open(_SYNC_ROOT)


@q("replay_synced_copy", _TRANSCRIPT_REPLAY_SQL,
   "lake-to-lake CDC: a downstream table maintained ONLY from "
   "changelog() deltas (one exactly-once merge per source commit, "
   "deletes/revokes propagated) must converge to the same final state "
   "as the source — same oracle as transcript_replay")
def replay_synced_copy_q(spark, sf_dir):
    copy, _ = _ensure_sync_tables(spark)
    return copy.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "is_revoked"
    )


_ROLLUP_SQL = f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, text, ts, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, {_NORM_CHAIN_SQL.format(col='text')} AS text, ts,
         (op = 'revoke') AS is_revoked
  FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN is_revoked THEN 1 ELSE 0 END) AS BIGINT) AS n_revoked,
       max(ts) AS last_ts,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM state GROUP BY conv_id
"""


@q("incremental_conv_rollup", _ROLLUP_SQL,
   "incremental materialized view: per-conv rollup maintained by "
   "delta-scoped recompute from each commit's changelog (cost ∝ changed "
   "groups, LWW on src_version) must equal the one-shot aggregate over "
   "final state")
def incremental_conv_rollup_q(spark, sf_dir):
    _, rollup = _ensure_sync_tables(spark)
    return rollup.read().select(
        "conv_id", "n_turns", "n_revoked", "last_ts", "n_chars"
    )


@q("conversation_render", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, text, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (
  SELECT conv_id, turn_idx, role, {_NORM_CHAIN_SQL.format(col='text')} AS text
  FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id,
       string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS convo,
       CAST(count(*) AS BIGINT) AS n_turns
FROM state GROUP BY conv_id
""", "transcript rendering: reassemble each conversation's full text from "
     "its LWW-resolved turns in order ('role: text' lines) — the "
     "training-example materialization of the transcript table; one "
     "partial-combining collect per conv, order restored array-side "
     "(no global sort)")
def conversation_render_q(spark, sf_dir):
    t = _ensure_replay_table(spark)
    line = F.concat(F.col("role"), F.lit(": "), F.col("text"))
    return (
        t.read()
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("turn_idx"), line.alias("line")))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("convo"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )


@q("role_alternation_check", f"""
WITH ev AS (SELECT * FROM read_parquet('{_REPLAY_FEED}/*/*.parquet')),
w AS (
  SELECT conv_id, turn_idx, role, op,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, event_seq DESC) AS rn
  FROM ev
),
state AS (SELECT conv_id, turn_idx, role FROM w WHERE rn = 1 AND op <> 'delete'),
lagged AS (
  SELECT conv_id, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM state
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN prev IS NOT NULL AND prev = role
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats,
       sum(CASE WHEN prev IS NOT NULL AND prev = role THEN 1 ELSE 0 END) = 0
         AS alternates
FROM lagged GROUP BY conv_id
""", "transcript structural quality: consecutive same-role turns per "
     "conversation (a dialogue-format screen for training data — "
     "role-collapsed conversations get flagged); one lag window per conv "
     "over the LWW-resolved state")
def role_alternation_check_q(spark, sf_dir):
    t = _ensure_replay_table(spark)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = t.read().select(
        "conv_id", "role", F.lag("role").over(w).alias("prev")
    )
    rep = F.when(
        F.col("prev").isNotNull() & (F.col("prev") == F.col("role")), 1
    ).otherwise(0)
    return lagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(rep).alias("n_repeats"),
        (F.sum(rep) == 0).alias("alternates"),
    )


# Register part-2 entries (training-data-pipeline suite) into this CATALOG.
from gamechanger_data_spark.plans import catalog_pipeline  # noqa: E402,F401
