"""The two workloads: one single-threaded closed-loop client against a
``local[nproc]`` session, calling only the package's public functions.

Both workloads run the same operation mix, so every end-to-end metric has
a value on both; they differ in the feed they replay:

* ``bulk_replay`` applies a few dense batches. Every merge is a full
  copy-on-write rewrite, so the LWW aggregate, the shuffle and the parquet
  rewrite dominate; reads hit a clean table; the drain streams the whole
  history from ``startingVersion=0`` (lakecdc's pyarrow bootstrap path).
* ``trickle_serve`` applies ~2k-event batches onto a 100k-event base in
  ``auto`` mode: merge-on-read appends, folded to copy-on-write on every
  9th commit when the ``mor_max_deltas=8`` stack is full, so per-commit
  fixed cost dominates and reads resolve deltas; the drain covers only the
  trickle span (lakecdc's pandas diff path).

Commits are followed by point lookups on keys live after the warm-up,
and some by full ``read().count()`` scans (see ``Plan``). The traced
run then adds one warm-up and one timed lakecdc drain and rounds of the 8
headline catalog queries, which touch no LakeTable.

The warm-up is the base-load commit, then steps of the timed loop run
untimed, so the JVM's compiled code has mostly settled before the first
timed call; the first drain and the first run of each query are warm-up
calls too. A warm-up call never counts toward a steady metric.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import traceback
from dataclasses import dataclass

import pandas as pd

from feeds import FeedShape

N_BUCKETS = 16
TRICKLE_EVENTS = 2_000
FOLD_CYCLE = 9  # mor_max_deltas=8 MOR appends, then one copy-on-write fold
# Warm-up base load, one cold commit; the steps after it merge into
# existing rows.
BASE_LOAD = (100_000,)
BULK_WARM_STEPS = 2
TRICKLE_WARM_STEPS = 5


class GateError(Exception):
    """A correctness gate failed: the run must not report numbers."""


@dataclass(frozen=True)
class Plan:
    """Step k (k = 1, 2, ... after the base load) is one commit, then
    ``lookups`` lookups if k is a multiple of ``lookup_every``, then
    ``scans`` scans if ``k % cycle`` is in ``scan_at``. On trickle_serve
    ``k % FOLD_CYCLE`` is the MOR stack depth after the commit (0: fold)."""

    feed: FeedShape
    warm_steps: int  # untimed steps after the base load
    lookups: int
    lookup_every: int
    scans: int
    cycle: int
    scan_at: tuple[int, ...]
    drain_from_zero: bool  # bootstrap drain of the whole history


def plan_for(workload: str, seconds: int) -> Plan:
    """Work is fixed by the seed and ``seconds``; the timed phase grows with
    ``seconds``. Fixed work (not a deadline) keeps the input, and with it
    the correctness oracle, a pure function of the arguments, and puts the
    CoW folds at the same commits every run."""
    if workload == "bulk_replay":
        timed = max(2, round(seconds / 5))
        warm = BULK_WARM_STEPS
        return Plan(FeedShape("bulk", BASE_LOAD + (100_000,) * (warm + timed),
                              n_warm=len(BASE_LOAD) + warm), warm_steps=warm,
                    lookups=2, lookup_every=1, scans=2, cycle=1, scan_at=(0,),
                    drain_from_zero=True)
    if workload == "trickle_serve":
        # whole fold cycles, so every run times the same mix of MOR
        # appends and folds: 16 + 2 at --seconds 20
        timed = FOLD_CYCLE * max(2, round(seconds / 10))
        warm = TRICKLE_WARM_STEPS
        return Plan(FeedShape("trickle", BASE_LOAD + (TRICKLE_EVENTS,) * (warm + timed),
                              n_warm=len(BASE_LOAD) + warm), warm_steps=warm,
                    lookups=1, lookup_every=2, scans=1, cycle=FOLD_CYCLE, scan_at=(4, 8),
                    drain_from_zero=False)
    raise ValueError(f"unknown workload {workload!r}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples); None when there are 10 or fewer."""
    n = len(xs)
    if n <= 10:
        return None
    k = n - 10  # the k-th smallest has n - k = 10 samples above it
    return sorted(xs)[k - 1], round(100.0 * k / n, 1), n


def python_workers() -> dict[str, int]:
    """Live PySpark Python processes (daemons and their forked workers),
    counted by command line."""
    out: dict[str, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace").strip()
        except OSError:
            continue
        if "pyspark" in cmd:
            out[cmd[-120:]] = out.get(cmd[-120:], 0) + 1
    return out


class TableWorkload:
    def __init__(self, spark, tracer, plan: Plan, feed_dir: str, tables_dir: str,
                 run_dir: str, query_rounds: int):
        from gamechanger_data_spark.sinks.table import LakeTable

        self.spark = spark
        self.tracer = tracer
        self.plan = plan
        self.feed_root = os.path.join(feed_dir, "feed")
        self.oracle_path = os.path.join(feed_dir, "oracle.parquet")
        with open(os.path.join(feed_dir, "lookup_keys.json")) as f:
            self.keys = [tuple(k) for k in json.load(f)]
        self.tables_dir = tables_dir
        self.run_dir = run_dir
        self.query_rounds = query_rounds
        self.table = LakeTable(spark, os.path.join(run_dir, "table"), n_buckets=N_BUCKETS)
        self.ops: list[dict] = []  # every operation record, warm-up included
        self.attempted = 0
        self.failed = 0
        self.last_batch: tuple[str, str] | None = None
        self.drains: list[dict] = []
        self.query_out: dict[str, pd.DataFrame] = {}
        self._key_i = 0
        self._step = 0
        self._ndrain = 0
        self.python_workers: dict = {}

    # -- calls ---------------------------------------------------------------
    def _call(self, kind: str, fn, timed: bool = True):
        """Run one operation. A timed call that raises counts as failed."""
        if timed:
            self.attempted += 1
        try:
            with self.tracer.op(kind, timed) as rec:
                out = fn()
        except GateError:
            raise
        except Exception:
            if not timed:
                raise
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.ops.append(rec)
        return out

    def commit(self, timed: bool = True):
        """List the next ready batch after the last applied one, read it,
        apply it — the loop ``replay_feed`` runs."""
        from gamechanger_data_spark.sources import feed
        from gamechanger_data_spark.streaming import driver

        after = self.last_batch[0] if self.last_batch else None

        def go():
            ready = feed.list_ready_batches(self.feed_root, after=after, limit=1)
            batch_id, d = ready[0]
            r = driver.apply_batch(self.table, feed.read_batch(self.spark, d),
                                   batch_id, batch_dir=d)
            if r.get("skipped"):
                raise GateError(f"apply of new batch {batch_id} was skipped")
            self.last_batch = (batch_id, d)
            return r

        r = self._call("commit", go, timed)
        if r is not None:
            self.ops[-1].update(events=self._events(self.last_batch[1]),
                                mode=r.get("mode"))
        return r

    @staticmethod
    def _events(batch_dir: str) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(os.path.join(batch_dir, f)).metadata.num_rows
                   for f in os.listdir(batch_dir) if f.endswith(".parquet"))

    def lookup(self, timed: bool = True):
        conv, turn = self.keys[self._key_i % len(self.keys)]
        self._key_i += 1
        return self._call(
            "lookup",
            lambda: self.table.lookup_key(conv_id=conv, turn_idx=turn).collect(),
            timed)

    def scan(self, timed: bool = True):
        return self._call("scan", lambda: self.table.read().count(), timed)

    def drain(self, start: int, timed: bool = True):
        """One availableNow lakecdc pass over (start, head] into a memory
        sink, as bench.py's drain probe does."""
        self._ndrain += 1
        name = f"perfbench_cdc_{self._ndrain}"
        cp = os.path.join(self.run_dir, f"cdc_cp_{self._ndrain}")
        end = self.table.current_version()

        def go():
            q = (self.spark.readStream.format("lakecdc")
                 .option("path", self.table.root)
                 .option("startingVersion", start)
                 .load()
                 .writeStream.format("memory")
                 .queryName(name)
                 .trigger(availableNow=True)
                 .option("checkpointLocation", cp)
                 .start())
            if not q.awaitTermination(170):
                q.stop()
                raise TimeoutError("lakecdc drain did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            rows = self.spark.table(name).count()
            return rows, q.recentProgress

        out = self._call("drain", go, timed)
        if out is None:
            return
        rows, progress = out
        dur = {}
        for p in progress:
            for k, v in (p.get("durationMs") or {}).items():
                dur[k] = dur.get(k, 0) + v
        rec = {"name": name, "start": start, "end": end, "rows": rows,
               "secs": self.ops[-1]["dur"], "durationMs": dur, "timed": timed}
        self.ops[-1].update(rows=rows)
        self.drains.append(rec)

    def queries(self, timed: bool):
        from bench import HEADLINE
        from gamechanger_data_spark.plans.catalog import CATALOG

        for name in HEADLINE:
            fn = CATALOG[name].fn
            if timed:
                self._call(f"query:{name}",
                           lambda: fn(self.spark, self.tables_dir).collect(), True)
            else:
                # the warm-up run's rows are what the oracle gate checks
                self.query_out[name] = self._call(
                    f"query:{name}",
                    lambda: fn(self.spark, self.tables_dir).toPandas(), False)

    def table_bytes(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.table.root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    # -- phases --------------------------------------------------------------
    def warm_up(self) -> None:
        for _ in BASE_LOAD:
            self.commit(timed=False)
        self.v_base = self.table.current_version()
        self.steps(self.plan.warm_steps, timed=False)

    def steps(self, n: int, timed: bool) -> None:
        p = self.plan
        for _ in range(n):
            self._step += 1
            self.commit(timed)
            if self._step % p.lookup_every == 0:
                for _ in range(p.lookups):
                    self.lookup(timed)
            if self._step % p.cycle in p.scan_at:
                for _ in range(p.scans):
                    self.scan(timed)

    def timed(self) -> None:
        self.bytes0 = self.table_bytes()
        v0 = self.table.current_version()
        self.steps(len(self.plan.feed.batches) - self.plan.feed.n_warm, timed=True)
        self.timed_versions = range(v0 + 1, self.table.current_version() + 1)
        self.bytes1 = self.table_bytes()

    def cdc_and_queries(self) -> None:
        """The traced run's extra phases, after the table phases: a warm-up
        and a timed lakecdc drain, then a warm-up round and timed rounds of
        the headline queries."""
        # The warm-up drain streams the same span as the timed one, so the
        # two differ only by the first-drain cost.
        start = 0 if self.plan.drain_from_zero else self.v_base
        self.python_workers = {"before_first_drain": python_workers()}
        self.drain(start, timed=False)
        self.python_workers["after_first_drain"] = python_workers()
        self.drain(start)
        self.queries(timed=False)
        for _ in range(self.query_rounds):
            self.queries(timed=True)

    # -- metrics -------------------------------------------------------------
    def timed_ops(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["timed"] and o["kind"] == kind]

    def end_to_end(self) -> dict:
        commits = self.timed_ops("commit")
        commit_s = sum(o["dur"] for o in commits)
        return {
            "ingest_events_per_s": sum(o["events"] for o in commits) / commit_s,
            "commit_p50_s": median([o["dur"] for o in commits]),
            "commits_per_s": len(commits) / commit_s,
            "lookup_p50_s": median([o["dur"] for o in self.timed_ops("lookup")]),
            "scan_s": median([o["dur"] for o in self.timed_ops("scan")]),
        }

    def cdc_and_query_totals(self) -> dict:
        from bench import HEADLINE

        drain = [d for d in self.drains if d["timed"]][-1]
        return {
            "cdc_out_rows_per_s": drain["rows"] / drain["secs"],
            "query_total_s": sum(
                median([o["dur"] for o in self.timed_ops(f"query:{q}")]) for q in HEADLINE),
        }

    def tails(self) -> dict:
        out = {}
        for kind in ("commit", "lookup"):
            t = tail([o["dur"] for o in self.timed_ops(kind)])
            n = len(self.timed_ops(kind))
            out[f"{kind}_tail_s"] = (
                {"value": t[0], "percentile": t[1], "samples": t[2]} if t
                else {"value": None, "samples": n,
                      "note": "no percentile has 10 samples beyond it"})
        return out

    # -- gates ---------------------------------------------------------------
    def gates(self) -> None:
        """Correctness gates, outside the timed region."""
        from gamechanger_data_spark.sources import feed
        from gamechanger_data_spark.streaming import driver
        from tools.check_oracles import compare, duck_con

        batch_id, d = self.last_batch
        r = driver.apply_batch(self.table, feed.read_batch(self.spark, d), batch_id,
                               batch_dir=d)
        if not r.get("skipped"):
            raise GateError(f"re-applying {batch_id} was not skipped: {r}")

        want = pd.read_parquet(self.oracle_path)
        got = self.table.read().toPandas()
        errs = compare("final_state", got[list(want.columns)], want)
        if errs:
            raise GateError(f"final read() differs from pandas_oracle: {errs}")

        for dr in self.drains:
            got = self.spark.table(dr["name"]).toPandas()
            want = self.table.diff(dr["start"], dr["end"]).toPandas()
            errs = compare("drain", got, want[list(got.columns)]) if set(
                got.columns) == set(want.columns) else [
                f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
            if errs:
                raise GateError(f"lakecdc drain {dr['start']}..{dr['end']} "
                                f"differs from diff(): {errs}")
            self.spark.catalog.dropTempView(dr["name"])

        from gamechanger_data_spark.plans.catalog import CATALOG

        con = duck_con(self.tables_dir)
        for name, got in self.query_out.items():
            errs = compare(name, got, con.sql(CATALOG[name].sql).df())
            if errs:
                raise GateError(f"query {name} differs from its DuckDB oracle: {errs}")
        con.close()


def layer_metrics(w: TableWorkload, tracer, get_spark_s: float) -> dict:
    """Per-layer numbers from the traced run's spans and job counts."""
    from bench import HEADLINE

    from spans import self_time

    kids = tracer.children()
    by_op: dict[int, list] = {}
    for s in tracer.spans:
        if s.op is not None and s.id != s.op:
            by_op.setdefault(s.op, []).append(s)
    roots = [s for s in tracer.spans if s.parent is None and s.attrs.get("timed")]

    def per(kind):
        return [s for s in roots if s.name == kind]

    def layer_per_op(kind, layer, fn=lambda s: s.dur):
        return median([sum(fn(c) for c in by_op.get(r.id, []) if c.name == layer)
                       for r in per(kind)])

    commits = per("commit")
    merges = [c for r in commits for c in by_op.get(r.id, [])
              if c.name == "sinks.table.merge"]
    cow = [m for m in merges if m.attrs.get("mode") == "cow"]
    mor = [m for m in merges if m.attrs.get("mode") == "mor"]
    events = sum(o["events"] for o in w.timed_ops("commit"))
    lookups = per("lookup")
    drain = [d for d in w.drains if d["timed"]][-1]
    first = [d for d in w.drains if not d["timed"]][0]
    ms = drain["durationMs"]

    # the timed snapshot with the most delta files: the fullest MOR stack
    # the reads ran against, not the depth the run happened to end at
    files = max((w.table.files(v).toPandas() for v in w.timed_versions),
                key=lambda f: int((f.kind == "delta").sum()))
    out = {
        "session.get_spark_s": get_spark_s,
        "sources.feed.list_ready_batches_s":
            layer_per_op("commit", "sources.feed.list_ready_batches"),
        "sources.feed.read_batch_s": layer_per_op("commit", "sources.feed.read_batch"),
        "streaming.driver.apply_batch_s":
            layer_per_op("commit", "streaming.driver.apply_batch"),
        "streaming.driver.lineage_from_footers_s":
            layer_per_op("commit", "streaming.driver.lineage_from_footers"),
        "streaming.driver.apply_batch_self_s": layer_per_op(
            "commit", "streaming.driver.apply_batch",
            lambda s: self_time(s, kids.get(s.id, []))),
        "sinks.table.applied_batches_s":
            layer_per_op("commit", "sinks.table.applied_batches"),
        "sinks.table.merge_cow_s": median([m.dur for m in cow]),
        "sinks.table.merge_mor_s": median([m.dur for m in mor]),
        "sinks.table.merge.cow_count": len(cow),
        "sinks.table.merge.mor_count": len(mor),
        "sinks.table.merge.touched_buckets":
            statistics.mean([m.attrs.get("touched_buckets", 0) for m in merges]),
        "sinks.table.merge.attempts_per_commit":
            statistics.mean([m.attrs.get("attempts", 1) for m in merges]),
        "sinks.table.merge.rebases": sum(m.attrs.get("rebases", 0) for m in merges),
        "sinks.table.spark_jobs_per_commit":
            statistics.mean([r.attrs["jobs"] for r in commits]),
        "sinks.table.spark_tasks_per_commit":
            statistics.mean([r.attrs["tasks"] for r in commits]),
        "sinks.table.bytes_written_per_event": (w.bytes1 - w.bytes0) / events,
        "sinks.table.files_live": int((files.kind == "base").sum()),
        "sinks.table.delta_files_live": int((files.kind == "delta").sum()),
        "sinks.table.lookup_key_s": median([r.dur for r in lookups]),
        "sinks.table.spark_jobs_per_lookup":
            statistics.mean([r.attrs["jobs"] for r in lookups]),
        "sinks.table.read_count_s": median([r.dur for r in per("scan")]),
        "streaming.cdc_source.drain_s": drain["secs"],
        "streaming.cdc_source.first_drain_s": first["secs"],
        "streaming.cdc_source.first_add_batch_ms": first["durationMs"].get("addBatch", 0),
        "streaming.cdc_source.rows": drain["rows"],
        "streaming.cdc_source.add_batch_ms": ms.get("addBatch", 0),
        "streaming.cdc_source.query_planning_ms": ms.get("queryPlanning", 0),
        "streaming.cdc_source.wal_commit_ms": ms.get("walCommit", 0),
        "streaming.cdc_source.commit_offsets_ms": ms.get("commitOffsets", 0),
        "streaming.cdc_source.latest_offset_ms": ms.get("latestOffset", 0),
    }
    for q in HEADLINE:
        runs = per(f"query:{q}")
        out[f"plans.catalog.{q}_s"] = median([r.dur for r in runs])
        out[f"plans.catalog.spark_jobs.{q}"] = statistics.mean(
            [r.attrs["jobs"] for r in runs])
    return out
