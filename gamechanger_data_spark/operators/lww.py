"""Last-writer-wins dedup — the engine's correctness kernel.

This is the Spark restatement of the reference's "latest version per
publication" selection, which appears twice there:
  * groupwise-max join: SELECT pub_id, MAX(batch_timestamp) GROUP BY pub_id
    joined back (dataPipelines/gc_crawler_status_tracker/
    gc_crawler_status_tracker.py:93-132)
  * window form: MAX(batch_timestamp) OVER (PARTITION BY pub_id) + DISTINCT
    (dataPipelines/gc_db_utils/orch/sql/create_views.sql:24-31)

The reference's order is batch_timestamp alone (ties possible); we tighten the
total order to (ts, event_seq) per BASELINE.json north_star.

Three physical strategies for the same logical operator:

  ``lww_window``   row_number() OVER (PARTITION BY keys ORDER BY ts DESC,
                   event_seq DESC) == 1. One shuffle on the keys. The
                   canonical form named by the north rule.

  ``lww_max_by``   groupBy(keys).agg(max(struct(ts, event_seq, payload...))).
                   Same result, but executes as a hash aggregate with
                   map-side PARTIAL aggregation — each task reduces its local
                   slice of a hot key before the shuffle, so skew never
                   concentrates raw rows on one reducer. This is the
                   preferred strategy at 10^10 events.

  ``lww_salted``   explicit two-phase: hash exchange on
                   (keys..., pmod(hash(ts,event_seq), S)) -> per-salt top-1
                   -> global top-1 over the ≤S survivors per key, each
                   phase a map-side-combining hash aggregate (the
                   two-level-aggregation skew form). Equivalent to what
                   partial aggregation does, but explicit — kept because
                   the north rule calls for key-salted repartitioning and
                   because the two-phase shape generalizes to operators
                   without an algebraic combiner.

All three are equivalence-tested against each other and a pandas oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_KEYS = ("conv_id", "turn_idx")
DEFAULT_ORDER = ("ts", "event_seq")


def _payload_cols(df: DataFrame, keys, order) -> list[str]:
    drop = set(keys) | set(order)
    return [c for c in df.columns if c not in drop]


def lww_window(
    df: DataFrame,
    keys=DEFAULT_KEYS,
    order=DEFAULT_ORDER,
) -> DataFrame:
    """Canonical row_number form. One shuffle; hot keys land on one reducer
    (fine at test scale; prefer lww_max_by / lww_salted for skewed feeds)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def lww_max_by(
    df: DataFrame,
    keys=DEFAULT_KEYS,
    order=DEFAULT_ORDER,
) -> DataFrame:
    """Hash-aggregate form: max over a struct whose leading fields are the
    order columns. Struct comparison is lexicographic by field position, so
    max(struct(ts, event_seq, payload...)) IS the LWW winner. Partial
    aggregation (map-side combine) makes this robust to hot-key skew without
    explicit salting — Zipf keys are pre-reduced inside each input task.
    """
    payload = _payload_cols(df, keys, order)
    packed = F.struct(*[F.col(c) for c in order], *[F.col(c) for c in payload])
    agg = df.groupBy(*keys).agg(F.max(packed).alias("__w"))
    return agg.select(
        *keys,
        *[F.col(f"__w.{c}").alias(c) for c in order],
        *[F.col(f"__w.{c}").alias(c) for c in payload],
    )


def lww_salted(
    df: DataFrame,
    keys=DEFAULT_KEYS,
    order=DEFAULT_ORDER,
    salt_buckets: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Explicit two-phase salted dedup (north-rule form).

    Phase 1: exchange on (keys, salt) — a hot key fans out over
    ``salt_buckets`` reducers; per-salt winner.
    Phase 2: exchange the ≤salt_buckets survivors per key; global winner.
    The salt derives from the order columns, so it is deterministic.

    Each phase's winner is an aggregate (max over a struct led by the
    order columns — the lww_max_by kernel), the two-level-aggregation
    skew form: the row_number phases this replaces compiled to Sort +
    WindowGroupLimit + Sort + Window per phase (four full sorts of the
    wide rows end to end). A max over a struct holding strings has no
    fixed-width aggregation buffer, so Spark plans it as a
    SortAggregate: each phase still sorts its partition by the group
    keys after its exchange — two sorts, the second over the survivors
    only (plans/r08/lww_latest_salted_after.txt). Measured on the bench
    events table (local[32], sf1.0): 2.09s -> 1.00s noop-isolated, plan
    4 Sorts -> 2. Winner parity with the window form holds because
    (order) totally orders events per key (ties are bit-identical
    duplicates; the struct comparison prefers non-null like
    desc_nulls_last) — the same contract lww_max_by already relies on,
    equivalence-tested.

    ``partitions``: default None adds NO explicit repartition — the
    phase-1 aggregate's groupBy(keys, salt) already induces exactly that
    hash exchange, and an explicit repartition on top of it was pure
    overhead (a second fixed-width exchange that also blocked AQE
    coalescing). Pass an int only to FORCE a reducer width, e.g. when
    AQE is off and the default width underfans a known-hot keyspace.
    """
    payload = _payload_cols(df, keys, order)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(salt_buckets))
    packed = F.struct(*[F.col(c) for c in order], *[F.col(c) for c in payload])
    salted = df.withColumn("__salt", salt)
    if partitions is not None:
        salted = salted.repartition(int(partitions), *keys, "__salt")
    survivors = salted.groupBy(*keys, "__salt").agg(F.max(packed).alias("__w"))
    final = survivors.groupBy(*keys).agg(F.max("__w").alias("__w"))
    return final.select(
        *[
            F.col(c) if c in keys else F.col(f"__w.{c}").alias(c)
            for c in df.columns
        ]
    )
