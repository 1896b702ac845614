"""CDC apply driver — the engine's end-to-end pipeline.

One batch body (the Spark restatement of the reference's ingest step DAG,
dataPipelines/gc_ingest/pipelines/core/cli.py:77-120):

    events -> normalize text (native expression chain)
           -> dedup_hash = sha256(normalized text)
           -> per-partition lineage metrics (offset range + op counts)
           -> LakeTable.merge (LWW dedup + bucket CoW + atomic commit
              carrying the batch-id marker and lineage rows)

Exactly-once: the batch-id commit marker travels INSIDE the same manifest
swap as the data, so replaying a batch after a crash is a no-op — this fixes
the reference's non-atomic checkpoint advance
(dataPipelines/gc_ingest/tools/checkpoint/utils.py:189-191).

Batch mode (`replay_feed`) drives ready-marker-gated directories directly;
streaming mode (`stream_feed`) wraps the same apply body in Structured
Streaming foreachBatch with a checkpointLocation.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gamechanger_data_spark.functions.hashing import dedup_hash_expr
from gamechanger_data_spark.functions.text import normalize_text_expr
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.sources.feed import list_ready_batches, read_batch


def _now_iso() -> str:
    """Naive-UTC ISO timestamp used by every lineage row this driver
    writes (matches the manifest's applied_at format)."""
    return datetime.now(timezone.utc).replace(tzinfo=None).isoformat()


def finalize_winners():
    """Winner-only normalization + hashing for LakeTable.merge.

    Applied AFTER the LWW dedup: only rows that (a) came from this batch's
    source (``__src``) and (b) won their key pay the normalize+sha cost.
    Target rows were normalized when they were first written — conditional
    evaluation short-circuits per row in codegen, so at steady state the
    text pipeline cost scales with the batch's winner count, not with
    (batch + touched-state) size.
    """

    def _t(df: DataFrame) -> DataFrame:
        df = df.withColumn(
            "text",
            F.when(F.col("__src"), normalize_text_expr("text")).otherwise(
                F.col("text")
            ),
        )
        return df.withColumn(
            "dedup_hash",
            F.when(F.col("__src"), dedup_hash_expr(F.col("text"))).otherwise(
                F.col("dedup_hash")
            ),
        )

    return _t


def lineage_from_footers(batch_dir: str, batch_id: str) -> list[dict] | None:
    """Per-FILE lineage from parquet footers — zero data scanned.

    offset_min/offset_max come from the event_seq column statistics,
    rows_in from the row counts. Returns None when footers/stats are
    unavailable (JSONL feeds, stats disabled) — callers fall back to the
    scanning path. Op-count columns are left null here; the batch-level op
    split is observed for free inside the merge job (observe_ops)."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(batch_dir, "*.parquet")))
    if not files:
        return None
    now = _now_iso()
    rows = []
    try:
        for i, f in enumerate(files):
            pf = pq.ParquetFile(f)
            md = pf.metadata
            col_idx = pf.schema_arrow.names.index("event_seq")
            omin = omax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                if st is None or not st.has_min_max:
                    return None
                omin = st.min if omin is None else min(omin, st.min)
                omax = st.max if omax is None else max(omax, st.max)
            rows.append(
                {
                    "batch_id": batch_id,
                    "partition_id": i,
                    "offset_min": int(omin) if omin is not None else None,
                    "offset_max": int(omax) if omax is not None else None,
                    "rows_in": int(md.num_rows),
                    "rows_upserted": None,
                    "rows_deleted": None,
                    "rows_revoked": None,
                    "applied_at": now,
                }
            )
    except (ValueError, KeyError, OSError):
        return None
    return rows


def lineage_for(
    events: DataFrame, batch_id: str, table: LakeTable | None = None
) -> tuple[list[int] | None, list[dict]]:
    """Per-input-partition lineage: offset (event_seq) range + op counts —
    plus, when ``table`` is given, the set of target buckets this batch
    touches (collect_set of the bucket hash), fused into the SAME pass.

    One small aggregate collected to the driver (≤ #partitions rows) and
    embedded in the same manifest commit as the data (FIXTURES.md §3).

    Runs on the RAW events with only (op, event_seq, key cols) selected —
    parquet column pruning keeps this pass cheap; normalization/hashing must
    not be recomputed here (it halved replay throughput when it was).
    """
    aggs = [
        F.min("event_seq").alias("offset_min"),
        F.max("event_seq").alias("offset_max"),
        F.count("*").alias("rows_in"),
        F.sum(F.when(F.col("op").isin("insert", "update"), 1).otherwise(0)).alias(
            "rows_upserted"
        ),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("rows_deleted"),
        F.sum(F.when(F.col("op") == "revoke", 1).otherwise(0)).alias("rows_revoked"),
    ]
    if table is not None:
        # Hash under the TABLE's CANONICAL key-column types (the same
        # canon_type rule LakeTable._bucket_expr applies): xxhash64 is
        # type-sensitive, so integral keys hash as LONG and fractional as
        # DOUBLE regardless of the feed's width — a long turn_idx against
        # a stored int column (or vice versa after widening) still lands
        # in the bucket merge will write.
        from gamechanger_data_spark.functions.xxh64 import canon_type

        stored = table.schema()
        stored_types = {f.name: f.dataType for f in stored.fields} if stored else {}
        ev_types = {f.name: f.dataType for f in events.schema.fields}
        key_exprs = []
        for c in table.key_cols:
            st = stored_types.get(c, ev_types.get(c))
            ct = canon_type(st) if st is not None else None
            if ct is not None:
                key_exprs.append(F.col(c).cast(ct))
            elif c in stored_types:
                key_exprs.append(F.col(c).cast(st))
            else:
                key_exprs.append(F.col(c))
        bucket = F.pmod(F.xxhash64(*key_exprs), F.lit(table.n_buckets)).cast("int")
        proj = events.select("op", "event_seq", bucket.alias("__b"))
        aggs.append(F.collect_set("__b").alias("__buckets"))
    else:
        proj = events.select("op", "event_seq")

    rows = proj.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs).collect()
    touched = (
        sorted({b for r in rows for b in r["__buckets"]}) if table is not None else None
    )
    now = _now_iso()
    return touched, [
        {
            "batch_id": batch_id,
            "partition_id": int(r["partition_id"]),
            "offset_min": int(r["offset_min"]) if r["offset_min"] is not None else None,
            "offset_max": int(r["offset_max"]) if r["offset_max"] is not None else None,
            "rows_in": int(r["rows_in"]),
            "rows_upserted": int(r["rows_upserted"]),
            "rows_deleted": int(r["rows_deleted"]),
            "rows_revoked": int(r["rows_revoked"]),
            "applied_at": now,
        }
        for r in rows
    ]


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    batch_id: str,
    with_lineage: bool = True,
    batch_dir: str | None = None,
) -> dict:
    """Merge one micro-batch (idempotent on batch_id).

    Normalization + dedup-hash run INSIDE the merge on winner rows only
    (finalize_winners). Lineage strategy, cheapest first:

      1. ``batch_dir`` given and parquet footers carry event_seq stats ->
         per-file lineage from metadata (zero scan) + op counts observed
         inside the merge job (observe_ops). Touched buckets: every bucket
         when the batch is clearly dense (rows >> n_buckets), else left for
         merge to derive with a column-pruned distinct.
      2. fallback -> one column-pruned scan (lineage_for) fused with
         touched-bucket collection.
    """
    if batch_id in table.applied_batches():
        return {"skipped": True, "batch_id": batch_id, "version": table.current_version()}

    touched: list[int] | None = None
    lineage: list[dict] = []
    observe_ops = False
    src_rows: int | None = None
    if with_lineage:
        rows = lineage_from_footers(batch_dir, batch_id) if batch_dir else None
        if rows is not None:
            lineage = rows
            observe_ops = True  # op split measured for free in the merge job
            src_rows = sum(r["rows_in"] for r in rows)
            # touched is left for merge to derive with a column-pruned
            # distinct. (An earlier shortcut declared ALL buckets touched
            # when rows >= 50*n_buckets — but raw row count is a proxy for
            # bucket coverage only when keys are near-unique; a hot-key
            # batch of duplicate updates would have triggered a full-table
            # CoW rewrite, the exact write amplification MOR exists to
            # avoid. The distinct scan reads only the key columns.)
        else:
            touched, lineage = lineage_for(events, batch_id, table)
            src_rows = sum(r["rows_in"] for r in lineage)

    src = events
    if "dedup_hash" not in src.columns:
        src = src.withColumn("dedup_hash", F.lit(None).cast("string"))
    return table.merge(
        src,
        batch_id,
        lineage_rows=lineage,
        touched=touched,
        transform_winners=finalize_winners(),
        observe_ops=observe_ops,
        src_rows=src_rows,
    )


def synthesize_revocations(
    table: LakeTable,
    present_keys: DataFrame,
    revoke_ts,
    batch_id: str,
    event_seq: int,
    producer: str | None = None,
) -> dict:
    """Revoke-by-absence, wired into the engine (reference:
    gc_crawler_status_tracker.py:55-82 handle_revocations — keys live in
    the table but ABSENT from the latest complete feed window are revoked).

    Compiled as ONE left-anti join from current non-revoked state to the
    present-key set, emitting synthetic ``op='revoke'`` events through the
    normal merge — so LWW ordering, lineage, idempotent batch markers, and
    MOR/CoW write selection all apply unchanged. ``revoke_ts`` must be the
    feed window's close time (it has to out-order the rows it revokes);
    ``event_seq`` may be one constant for the whole batch — each key gets
    exactly ONE synthetic event, so no within-key tie is possible, and a
    global ordering window (a single-partition scale-killer) is avoided.
    ``producer`` scopes the absence rule to one source shard, matching the
    reference's per-crawler loop.
    """
    state = table.read()
    if producer is not None and "producer" in state.columns:
        state = state.filter(F.col("producer") == producer)
    if "is_revoked" in state.columns:
        state = state.filter(~F.coalesce(F.col("is_revoked"), F.lit(False)))
    keys = list(table.key_cols)
    absent = state.join(
        present_keys.select(*keys).distinct(), on=keys, how="left_anti"
    )
    # order columns by the table's configuration, not hardcoded names
    ts_col, seq_col = table.order_cols[0], table.order_cols[-1]
    events = (
        absent.withColumn("op", F.lit("revoke"))
        .withColumn(ts_col, F.lit(revoke_ts).cast(dict(state.dtypes)[ts_col]))
        .withColumn(seq_col, F.lit(int(event_seq)).cast("long"))
        # the state rows carried is_revoked=False; the synthetic event must
        # assert the flag itself (merge only derives it when absent)
        .withColumn("is_revoked", F.lit(True))
    )
    return apply_batch(table, events, batch_id)


def replay_feed(
    spark: SparkSession,
    feed_root: str,
    table: LakeTable,
    limit: int | None = None,
    with_lineage: bool = True,
    compact_every: int | None = None,
    maintain_every: int | None = None,
    maintain_opts: dict | None = None,
    after_batch=None,
) -> list[dict]:
    """Batch-mode replay of all ready, not-yet-applied batch directories in
    commit order (reference: checkpointed prefix consumption loop,
    checkpoint/utils.py:154-190, with checkpoint-limit).

    ``compact_every=k``: fold outstanding merge-on-read deltas back into
    base files after every k applied batches — the maintenance cadence that
    bounds read-side resolution cost on a trickle feed (merge's own
    mor_max_deltas cap is the hard backstop).

    ``maintain_every=k``: run the full :meth:`LakeTable.maintain` policy
    call (threshold compaction + snapshot expiry) after every k applied
    batches — the self-maintaining mode for a long-running replay driver
    (the reference schedules its cleanup as external jobs; here the
    driver owns the cadence). ``maintain_opts`` forwards keyword
    arguments (compact_min_deltas / keep_last / grace_sec / expire).
    Each cycle commits under ``__maintain__-<source batch id>``, carries
    its report as a lineage summary row, and is echoed in that batch's
    result dict under ``"maintenance"``. Compose with ``compact_every``
    only if you want both cadences; ``maintain_every`` alone already
    bounds every bucket's delta stack below the table's forced-fold cap.

    ``after_batch(table, result)``: called after every NEWLY-applied batch
    — the continuous-maintenance hook for derived tables (e.g. a closure
    over :func:`sync_changelog` / :func:`sync_aggregate` keeps downstream
    copies and rollups current per commit). Both sync functions are
    exactly-once on their own batch markers, so a crash inside the hook
    simply re-syncs on the next replay; hook failures propagate (the
    source commit is already durable and will be skipped on rerun)."""
    results = []
    applied = table.applied_batches()
    applied_count = 0
    for batch_id, d in list_ready_batches(feed_root, limit=limit):
        if batch_id in applied:
            results.append({"skipped": True, "batch_id": batch_id})
            continue
        events = read_batch(spark, d)
        results.append(
            apply_batch(table, events, batch_id, with_lineage=with_lineage,
                        batch_dir=d)
        )
        applied_count += 1
        if compact_every and applied_count % compact_every == 0:
            table.compact(batch_id=f"__compact__-{batch_id}")
        if maintain_every and applied_count % maintain_every == 0:
            results[-1]["maintenance"] = table.maintain(
                batch_id=f"__maintain__-{batch_id}", **(maintain_opts or {})
            )
        if after_batch is not None:
            after_batch(table, results[-1])
    return results


def stream_feed(
    spark: SparkSession,
    feed_root: str,
    table: LakeTable,
    checkpoint_dir: str,
    schema=None,  # kept for API compat; batch dirs carry their own schema
    after_batch=None,
):
    """Structured Streaming variant: READY-MARKER stream -> foreachBatch.

    The stream's rows are the feed's ready markers, not its data files —
    a batch directory enters the stream exactly when its upstream commit
    (the marker write, always last) completes, so a producer crash
    mid-upload can never leak a partial batch into the offset log (the
    same eligibility rule batch mode enforces via list_ready_batches).

    Each newly-ready marker maps back to its batch directory and flows
    through the normal apply path with the DIRECTORY NAME as batch id —
    deterministic and stable across checkpoint recreation, so
    exactly-once needs no per-stream identity: redelivered epochs,
    recreated checkpoints, and concurrent streams over the same feed all
    dedupe on the same ids the batch-mode replay uses.

    The checkpoint's offset log provides restart positioning; the table's
    in-commit batch markers provide exactly-once under redelivery.
    Returns the started StreamingQuery (caller awaits/stops).
    """
    from urllib.parse import unquote, urlparse

    from gamechanger_data_spark.datagen import BATCH_PREFIX
    from gamechanger_data_spark.sources.feed import read_marker_stream

    markers = read_marker_stream(spark, feed_root)

    def _apply(df: DataFrame, epoch_id: int) -> None:
        paths = sorted(r["_source_file"] for r in df.distinct().collect())
        for p in paths:
            local = unquote(urlparse(p).path) if "://" in p or p.startswith("file:") else p
            d = os.path.dirname(local)
            batch_id = os.path.basename(d)[len(BATCH_PREFIX):]
            res = apply_batch(table, read_batch(spark, d), batch_id, batch_dir=d)
            # same continuous-maintenance hook replay_feed offers, same
            # contract: NEWLY-applied batches only (an epoch can re-deliver
            # already-applied markers after checkpoint recreation or a
            # batch-mode handoff — those must not fire maintenance). The
            # syncs' own batch markers make a crash inside the hook re-sync
            # safely on the next epoch/run.
            if after_batch is not None and not res.get("skipped"):
                after_batch(table, res)

    # Python data sources don't implement Trigger.AvailableNow's
    # admission control, so Spark logs a fall-back to single-batch
    # execution: one epoch drains everything the marker listing shows at
    # read time, then the query stops. Semantics are unchanged for this
    # consumer — a marker landing mid-epoch is picked up by the next
    # stream_feed run from the checkpoint, exactly like a marker landing
    # after the run; the exactly-once guarantee lives in the sink's
    # batch-id markers either way.
    return (
        markers.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _pending_chain(
    src: LakeTable, applied: set[str], stream_id: str
) -> tuple[list[dict], list[tuple[int, dict]]]:
    """The source commits a sync still has to consider, ascending, walking
    SRC'S CURRENT PARENT CHAIN — never the flat manifest listing: staged
    (or later dropped) write-branch commits, rollback orphans, and
    abandoned branches all leave kind='data' manifests in the same
    META_DIR, and replaying those into a downstream copy would break
    write-audit-publish isolation (unaudited staged rows visible
    downstream) and permanently diverge dst if the branch is refused —
    the same hazard lineage() filters with its ROLLBACK/BRANCHED chain
    walk. Early-stop: syncs apply in ascending chain order, so the
    NEWEST chain commit whose sync batch id is already applied proves
    everything at or below it is synced — the walk loads O(unsynced
    commits + trailing maintenance commits) manifests, not O(history).

    Returns ``(results_prefix, [(version, manifest), ...])`` — the
    prefix carries one skip record for the early-stop commit (so a
    fully-synced call still reports something), the list is ascending.
    """
    results: list[dict] = []
    pending: list[tuple[int, dict]] = []
    v = src.current_version()
    while v and v > 0:
        batch_id = f"{stream_id}-v{v:08d}"
        if batch_id in applied:
            results.append(
                {"skipped": True, "batch_id": batch_id, "src_version": v}
            )
            break
        m = src._load_manifest(v)
        pending.append((v, m))
        v = m.get("parent")
    pending.reverse()
    return results, pending


def _propagate_renames(dst: LakeTable, prev: dict, cur: dict) -> None:
    """Apply a source rename_column commit to the synced copy.

    Rename commits are kind='maintenance' (no rows), so the data loop
    skips them — but a rename changes the schema's NAMES: without
    propagation the next data commit's changelog arrives under the new
    name and dst schema-evolves it in as a brand-new (mostly-null)
    column beside the stale old one, permanently diverging from src's
    coalesced view. Additions to the manifest renames alias map identify
    the commit; the dst apply is idempotent via column presence (a crash
    between the dst rename and the next data sync re-runs safely), and a
    column dst never saw is a no-op (it will arrive under its new name).
    """
    for new_name, olds in cur.items():
        if new_name in prev:
            continue
        old = olds[0]
        sch = dst.schema()
        names = {f.name for f in sch.fields} if sch is not None else set()
        if old in names and new_name not in names:
            dst.rename_column(old, new_name)


def _propagate_ddl(dst: LakeTable, ddl: dict) -> None:
    """Apply a source add_columns/drop_column commit to the synced copy.

    Same rationale as :func:`_propagate_renames`: DDL commits are
    kind='maintenance' (no rows), so the data loop skips them, but
    without propagation a dropped column lingers downstream forever and
    a metadata-only add (no data rows carrying values yet) never appears
    at all. The manifest's ``ddl`` provenance stamp identifies the
    commit; the dst apply is idempotent via column presence (a crash
    between the dst DDL and the next data sync re-runs safely), and an
    empty dst is a no-op (its first synced batch delivers the evolved
    schema wholesale)."""
    sch = dst.schema()
    if sch is None:
        return
    names = {f.name for f in sch.fields}
    if ddl.get("op") == "add_columns":
        todo = {n: t for n, t in ddl["cols"].items() if n not in names}
        if todo:
            dst.add_columns(todo)
    elif ddl.get("op") == "drop_column":
        if ddl["col"] in names:
            dst.drop_column(ddl["col"])


def sync_changelog(
    src: LakeTable, dst: LakeTable, stream_id: str = "sync"
) -> list[dict]:
    """Chain CDC-out into a downstream table: apply every source DATA
    commit on src's CURRENT branch chain that ``dst`` has not yet seen,
    in commit order, exactly-once.

    This is the lake-to-lake leg of the binlog pattern — the reference
    republishes table state to downstream stores wholesale (ES bulk
    reindex, gc_ingest tools); here the downstream copy is maintained
    INCREMENTALLY from :meth:`LakeTable.changelog`, which derives each
    commit's changed rows from metadata + time travel (no write-path
    cost on the source).

    * Each source commit ``v`` becomes one idempotent merge with batch id
      ``"{stream_id}-v{v:08d}"`` — a crash mid-sync resumes by skipping
      already-applied versions via the sink's batch markers; replays are
      no-ops.
    * ``change_op`` maps onto merge ops (delete -> tombstone, revoke ->
      revoke, upsert -> update), so deletes/revocations propagate.
    * Dispatch is by commit provenance. Merge commits apply their
      changelog (offset-ranged when the batch carried lineage, exact
      snapshot diff otherwise — a direct ``merge()`` call syncs
      incrementally at cost ∝ its touched buckets, not table size).
      Predicate-DML commits replay their recorded SQL spec (diff rows
      from a DML keep their original order columns, so a merge-apply
      would silently lose the LWW tie against dst's residents — never
      applied that way); spec-less DML (column-expression predicates,
      bucket-pruned calls) and ``overwrite()`` commits full-replace via
      :meth:`LakeTable.overwrite`. Legacy commits with neither a
      provenance stamp nor offset lineage also full-replace — the
      conservative choice, since a pre-stamp DML commit is
      indistinguishable from a pre-stamp direct merge.
    * Source snapshots must not be expired past dst's sync horizon
      (``expire_snapshots`` keeps manifests, but changelog reads the
      commit's data files) — run sync before aggressive data GC.
    * Only src's CURRENT parent chain is synced (``_pending_chain``):
      commits staged on a write branch stay invisible downstream until
      ``fast_forward`` publishes them, and dropped-branch/rollback
      orphans are never replayed. A source ``rollback_to_snapshot`` does
      NOT retract already-synced commits from dst — resync a rolled-back
      source with an explicit ``dst.overwrite(src.read())``.
    * ``rename_column`` commits are propagated to dst's schema
      (``_propagate_renames``) so post-rename changelogs resolve into
      the renamed column instead of schema-evolving a duplicate;
      ``add_columns``/``drop_column`` commits are likewise replayed via
      their manifest ``ddl`` stamp (``_propagate_ddl``) so a dropped
      column doesn't linger downstream and a metadata-only add appears
      before data carrying it arrives.

    Returns one result dict per considered source commit: applied
    commits, plus one skip record marking the already-synced frontier.
    """
    results, pending = _pending_chain(src, dst.applied_batches(), stream_id)
    prev_renames: dict | None = None  # resolved lazily from the first parent
    for v, m in pending:
        cur_renames = m.get("renames") or {}
        if prev_renames is None:
            p = m.get("parent")
            prev_renames = (
                (src._load_manifest(p).get("renames") or {}) if p else {}
            )
        _propagate_renames(dst, prev_renames, cur_renames)
        prev_renames = cur_renames
        if m.get("ddl"):
            _propagate_ddl(dst, m["ddl"])
        batch_id = f"{stream_id}-v{v:08d}"
        if m.get("kind") != "data" or m.get("parent") is None:
            continue
        commit_op = m.get("commit_op")
        has_offsets = any(
            r.get("offset_min") is not None for r in m.get("lineage", [])
        )
        if commit_op == "dml":
            # Predicate DML: replay the recorded engine-independent SQL
            # spec under the same batch id (exactly-once; cost ∝ dst's
            # own touched buckets). Spec-less DML (column-expression or
            # bucket-pruned) cannot be replayed OR merge-applied (its
            # rows keep their original order columns — a merge would
            # lose the LWW tie and silently diverge): full replace.
            spec = m.get("dml")
            if spec is not None:
                if spec["op"] == "delete":
                    res = dst.delete_where(spec["condition"], batch_id)
                else:
                    res = dst.update_where(
                        spec["condition"], spec["assignments"], batch_id
                    )
                results.append({**res, "src_version": v, "mode": "dml"})
                continue
            res = dst.overwrite(src.read(version=v), batch_id=batch_id)
            results.append({**res, "src_version": v, "mode": "overwrite"})
            continue
        if not has_offsets and commit_op != "merge":
            # overwrite commits, and legacy lineage-less commits of
            # unknown provenance (a pre-stamp DML is indistinguishable
            # from a pre-stamp direct merge): full replace.
            res = dst.overwrite(src.read(version=v), batch_id=batch_id)
            results.append({**res, "src_version": v, "mode": "overwrite"})
            continue
        ev = src.changelog(v)
        events = ev.withColumn(
            "op",
            F.when(F.col("change_op") == "delete", F.lit("delete"))
            .when(F.col("change_op") == "revoke", F.lit("revoke"))
            .otherwise(F.lit("update")),
        ).drop("change_op")
        res = dst.merge(
            events, batch_id, lineage_rows=_sync_lineage(m, batch_id)
        )
        results.append({**res, "src_version": v})
    return results


def _lineage_row(batch_id: str, lo, hi) -> dict:
    # partition_id = -1: the established SYNTHETIC/summary-row convention
    # (merge's observe_ops row uses it too), so consumers that sum real
    # input-partition rows (`lineage[partition_id >= 0]`) never count a
    # sync's offset-range carrier as a data partition.
    return {
        "batch_id": batch_id,
        "partition_id": -1,
        "offset_min": int(lo),
        "offset_max": int(hi),
        "rows_in": None,
        "rows_upserted": None,
        "rows_deleted": None,
        "rows_revoked": None,
        "applied_at": _now_iso(),
    }


def _sync_lineage(m: dict, batch_id: str) -> list[dict]:
    """One lineage row carrying the SOURCE commit's offset range into the
    derived table's commit — every changelog row lies inside that range
    (changelog filters by it), so the derived table's own changelog()
    stays derivable and sync chains compose (src -> copy -> copy-of-copy,
    rollup -> published rollup) instead of degrading to the overwrite
    fallback at depth 2."""
    offsets = [
        (r["offset_min"], r["offset_max"])
        for r in m.get("lineage", [])
        if r.get("offset_min") is not None
    ]
    if not offsets:
        return []
    return [
        _lineage_row(
            batch_id,
            min(o[0] for o in offsets),
            max(o[1] for o in offsets),
        )
    ]


def sync_aggregate(
    src: LakeTable,
    dst: LakeTable,
    agg,
    stream_id: str = "aggsync",
) -> list[dict]:
    """Incrementally maintain a DERIVED AGGREGATE table from ``src``'s
    changelog — the binlog -> materialized-view leg of the CDC pattern.

    The reference recomputes derived rollups wholesale on each ingest
    (counts/status views over the whole corpus,
    gc_crawler_status_tracker.py:107-132); at 10^10 rows a full
    re-aggregation per micro-batch is the scale-killer. Here each source
    commit pays cost proportional to the keys it CHANGED:

      1. changed groups = distinct ``dst.key_cols`` of ``changelog(v)``
         (small: bounded by the commit's row count, broadcastable);
      2. delta-scoped recompute: ``agg`` runs over only those groups'
         CURRENT rows (broadcast semi-join against state@v). The state
         scan is column-pruned to the group/agg inputs and produces NO
         shuffle beyond the scoped aggregate; the WRITE side is ∝ changed
         groups, never the table. (Subtractive +/- deltas would avoid the
         scan for sum/count but break on max/min under deletes; a src
         bucketed BY the group key would make the scan prune too.)
      3. groups whose rows all vanished (every turn deleted) produce
         tombstones via an anti-join of changed groups vs agg output;
      4. one idempotent :meth:`LakeTable.merge` per source commit with the
         source version as the LWW order column, batch id
         ``"{stream_id}-v{v:08d}"`` — crash-resumable, replay-safe.

    ``agg`` maps full-resolution state rows -> one row per group keyed by
    ``dst.key_cols``. It must be GROUP-LOCAL (a group's aggregate depends
    only on that group's rows) — that is what makes delta-scoped recompute
    equal to full recompute. ``dst`` must be built with
    ``order_cols=("src_version",)`` (later source commits win LWW).

    An ``overwrite`` source commit (or a legacy lineage-less commit with
    no provenance stamp) falls back to one full recompute +
    ``dst.overwrite`` under the same batch id. Direct ``merge()`` and
    predicate-DML commits delta-scope through the snapshot-diff
    changelog: the diff only IDENTIFIES the changed group keys — the
    aggregate always recomputes from current state, so DML's
    unchanged-order-column rows are safe here (unlike sync_changelog's
    merge-apply path).

    Like sync_changelog, only src's CURRENT parent chain feeds the
    rollup (branch-staged and orphaned commits never do), with the same
    early-stop at the already-synced frontier.

    Returns one result dict per considered source commit: applied
    commits, plus one skip record marking the already-synced frontier.
    """
    results, pending = _pending_chain(src, dst.applied_batches(), stream_id)
    for v, m in pending:
        batch_id = f"{stream_id}-v{v:08d}"
        if m.get("kind") != "data" or m.get("parent") is None:
            continue
        keys = list(dst.key_cols)
        commit_op = m.get("commit_op")
        has_offsets = any(
            r.get("offset_min") is not None for r in m.get("lineage", [])
        )
        if commit_op == "overwrite" or (
            not has_offsets and commit_op not in ("merge", "dml")
        ):
            # overwrite (diffing an all-bucket replace would read the
            # table twice for no gain) and legacy unstamped commits:
            # one full recompute
            full = agg(src.read(version=v)).withColumn(
                "src_version", F.lit(int(v)).cast("long")
            )
            res = dst.overwrite(full, batch_id=batch_id)
            results.append({**res, "src_version": v, "mode": "overwrite"})
            continue
        changed = src.changelog(v).select(*keys).distinct()
        state = src.read(version=v)
        scoped = state.join(F.broadcast(changed), on=keys, how="left_semi")
        upserts = agg(scoped).withColumn(
            "src_version", F.lit(int(v)).cast("long")
        ).withColumn("op", F.lit("update"))
        # groups with no surviving rows: aggregate row must be deleted
        vanished = (
            changed.join(upserts.select(*keys), on=keys, how="left_anti")
            .withColumn("src_version", F.lit(int(v)).cast("long"))
            .withColumn("op", F.lit("delete"))
        )
        events = upserts.unionByName(vanished, allowMissingColumns=True)
        # rollup rows carry src_version = v as their order column, so the
        # commit's offset range is exactly [v, v] — keeps the rollup's own
        # changelog() derivable (chainable to a published copy)
        res = dst.merge(
            events, batch_id, lineage_rows=[_lineage_row(batch_id, v, v)]
        )
        results.append({**res, "src_version": v})
    return results
