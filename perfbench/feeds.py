"""Seeded benchmark inputs, generated once per (kind, seed, shape) and
cached under the checkout's ``.perfbench/inputs`` directory.

The engine only ever sees the files written here: a change feed laid out
exactly as ``datagen.write_feed`` lays it out (ready-marker-gated
``batch=<id>`` directories of parquet parts), and TPC-H-ish parquet tables
with the columns the headline catalog queries read. Everything is a pure
function of the seed and the shape, so two commits of an A/B read
identical bytes, and a repeated seed skips generation altogether.

Generation runs in forked worker processes, at most ``nproc`` at a time:
the generator is single-threaded numpy/pandas, and keeping it out of the
benchmark process keeps its memory out of the measured peak RSS. A forked
worker starts with the parent's imports already done.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Cached input sets kept per checkout; the oldest are evicted beyond this.
MAX_CACHED = 48
LOOKUP_KEYS = 64


@dataclass(frozen=True)
class FeedShape:
    """A feed of ``len(batches)`` batches; ``batches[i]`` events in batch i.
    The first ``n_warm`` batches are applied as warm-up calls."""

    name: str
    batches: tuple[int, ...]
    n_warm: int
    n_convs: int = 5000
    max_turns: int = 50

    def key(self, seed: int) -> str:
        digest = hashlib.sha256(json.dumps(asdict(self), sort_keys=True).encode())
        return f"feed-{self.name}-s{seed}-{digest.hexdigest()[:10]}"


@dataclass(frozen=True)
class TableShape:
    """Row counts of the catalog tables (sf0.1 has 100k events, 600k lineitem)."""

    events: int = 100_000
    lineitem: int = 300_000
    orders: int = 75_000
    customers: int = 7_500
    documents: int = 5_000

    def key(self, seed: int) -> str:
        digest = hashlib.sha256(json.dumps(asdict(self), sort_keys=True).encode())
        return f"tables-s{seed}-{digest.hexdigest()[:10]}"


def _spec(shape: FeedShape, seed: int, idx: int):
    from gamechanger_data_spark.datagen import FeedSpec

    # with_version_hash off: the generator-side sha256 is a per-row Python
    # loop (bench.py turns it off too); evolve_batch off: a uniform schema
    # keeps read_batch on its footer-schema path, the one being measured.
    return FeedSpec(
        n_convs=shape.n_convs,
        max_turns=shape.max_turns,
        n_batches=len(shape.batches),
        events_per_batch=shape.batches[idx],
        seed=seed,
        with_version_hash=False,
        evolve_batch=None,
    )


def write_batches(shape: FeedShape, seed: int, idxs: list[int], feed_dir: str,
                  parts: int) -> None:
    """Write batches ``idxs`` the way ``datagen.write_feed`` does."""
    from gamechanger_data_spark.datagen import (
        BATCH_PREFIX,
        READY_MARKER,
        batch_id_for,
        generate_batch,
    )

    for idx in idxs:
        pdf = generate_batch(_spec(shape, seed, idx), idx)
        d = os.path.join(feed_dir, f"{BATCH_PREFIX}{batch_id_for(idx)}")
        os.makedirs(d)
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        step = max(1, -(-len(pdf) // parts))
        for i, lo in enumerate(range(0, len(pdf), step)):
            pq.write_table(tbl.slice(lo, step), os.path.join(d, f"part-{i:04d}.parquet"))
        with open(os.path.join(d, READY_MARKER), "w") as f:
            f.write("ready\n")


def _batch_events(feed_dir: str, idx: int) -> pd.DataFrame:
    from gamechanger_data_spark.datagen import BATCH_PREFIX, batch_id_for

    d = os.path.join(feed_dir, f"{BATCH_PREFIX}{batch_id_for(idx)}")
    parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in parts]).to_pandas()


def _events(feed_dir: str, idxs) -> pd.DataFrame:
    return pd.concat([_batch_events(feed_dir, i) for i in idxs], ignore_index=True)


def write_oracle(shape: FeedShape, feed_dir: str, out_dir: str, part: int,
                 parts: int) -> None:
    """Expected final state over every event, for the conversations in
    hash partition ``part`` of ``parts``. The reduction is per
    (conv_id, turn_idx), so the partitions' states concatenate to the
    whole one."""
    from gamechanger_data_spark.datagen import pandas_oracle
    from gamechanger_data_spark.functions.text import normalize_text_pandas

    events = _events(feed_dir, range(len(shape.batches)))
    mine = pd.util.hash_pandas_object(events.conv_id, index=False) % parts == part
    final = pandas_oracle(events[mine.to_numpy()], normalize=normalize_text_pandas)
    final.to_parquet(os.path.join(out_dir, f"oracle-{part}.parquet"), index=False)


def write_keys(shape: FeedShape, seed: int, feed_dir: str, out_dir: str) -> None:
    """Lookup keys that are live once the warm-up batches are applied."""
    from gamechanger_data_spark.datagen import pandas_oracle

    warm = pandas_oracle(_events(feed_dir, range(shape.n_warm)))
    rng = np.random.default_rng(seed)
    pick = rng.choice(len(warm), size=min(LOOKUP_KEYS, len(warm)), replace=False)
    keys = [[str(warm.conv_id.iloc[i]), int(warm.turn_idx.iloc[i])] for i in pick]
    with open(os.path.join(out_dir, "lookup_keys.json"), "w") as f:
        json.dump(keys, f)


def write_tables(shape: TableShape, seed: int, out_dir: str) -> None:
    """TPC-H-ish tables with the testdata's column names, types and value
    domains, one row group per file like the testdata files."""
    rng = np.random.default_rng(seed)

    def put(name: str, cols: dict) -> None:
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))

    us = "datetime64[us]"
    n = shape.events
    put("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n // 66), n).astype(np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })
    put("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = shape.customers
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], nc),
    })
    no = shape.orders
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": (np.datetime64("1992-01-01", "D")
                        + rng.integers(0, 2400, no).astype("timedelta64[D]")).astype(us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = shape.lineitem
    qty = rng.integers(1, 51, nl).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": (np.datetime64("1995-01-01", "D")
                       + rng.integers(0, 2500, nl).astype("timedelta64[D]")).astype(us),
    })
    nd = shape.documents
    words = np.array(
        "spark window merge table column vector stream value data small join filter "
        "big group hash customer sort order slow line part fast row the agg key "
        "query a scan batch".split())
    lens = rng.integers(10, 101, nd)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["zh", "en", "fr", "es", "de"], nd),
        "source": rng.choice([f"src{i}" for i in range(20)], nd),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def membw_copier(seconds: float) -> None:
    """One memory-bandwidth copier: reports ready, waits for ``go`` on
    stdin so all copiers run together, then prints the bytes copied."""
    a = np.ones(4 * 1024 * 1024, dtype=np.float64)  # 32 MB
    b = np.empty_like(a)
    np.copyto(b, a)  # page faults before the timed copies
    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n += a.nbytes
    print(n, flush=True)


def _copier(seconds: float) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, os.path.abspath(__file__), "membw",
                             str(seconds)], stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, text=True)


def _stop(procs: list[subprocess.Popen]) -> None:
    for p in procs:
        if p.poll() is None:
            p.kill()
        p.wait()


class Inputs:
    """Owns the input cache and runs the generator workers."""

    def __init__(self, cache_root: str, procs: int):
        self.cache_root = cache_root
        self.procs = procs
        os.makedirs(cache_root, exist_ok=True)
        self.generated: list[str] = []

    def _run(self, calls: list[tuple]) -> None:
        """Run ``(function, kwargs)`` tasks in forked workers, at most
        ``procs`` at a time, and wait for all of them."""
        with ProcessPoolExecutor(self.procs,
                                 mp_context=multiprocessing.get_context("fork")) as pool:
            for f in [pool.submit(fn, **kwargs) for fn, kwargs in calls]:
                f.result()

    def membw_gbps(self, seconds: float = 0.5) -> float:
        """Copy bandwidth (GB/s) with ``procs`` (<= nproc) copiers running
        together, so the probe does not over-subscribe the cores."""
        copiers = [_copier(seconds) for _ in range(self.procs)]
        try:
            for p in copiers:
                p.stdout.readline()
            t0 = time.perf_counter()
            for p in copiers:
                p.stdin.write("go\n")
                p.stdin.flush()
            total = sum(int(p.stdout.readline()) for p in copiers)
            elapsed = time.perf_counter() - t0
        finally:
            _stop(copiers)
        return round(total / elapsed / 1e9, 2)

    def _cached(self, key: str, build) -> str:
        out = os.path.join(self.cache_root, key)
        if os.path.exists(os.path.join(out, "done")):
            os.utime(out)
            return out
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        self.generated.append(key)
        self._evict()
        return out

    def _evict(self) -> None:
        entries = [os.path.join(self.cache_root, e) for e in os.listdir(self.cache_root)]
        entries.sort(key=os.path.getmtime)
        for e in entries[:-MAX_CACHED]:
            shutil.rmtree(e, ignore_errors=True)

    def feed(self, shape: FeedShape, seed: int, parts: int) -> str:
        """Directory holding ``feed/`` (the batches), ``oracle.parquet``
        and ``lookup_keys.json``."""
        # imported before the fork, so the workers need not
        import gamechanger_data_spark.datagen  # noqa: F401
        import gamechanger_data_spark.functions.text  # noqa: F401

        def build(tmp: str) -> None:
            feed_dir = os.path.join(tmp, "feed")
            os.makedirs(feed_dir)
            # batches dealt round-robin, one share per process slot
            n = len(shape.batches)
            self._run([(write_batches, dict(shape=shape, seed=seed,
                                            idxs=list(range(k, n, self.procs)),
                                            feed_dir=feed_dir, parts=parts))
                       for k in range(min(self.procs, n))])
            # the oracle over every event, in hash partitions of the
            # conversations, and the lookup keys
            self._run([(write_oracle, dict(shape=shape, feed_dir=feed_dir, out_dir=tmp,
                                           part=k, parts=self.procs))
                       for k in range(self.procs)]
                      + [(write_keys, dict(shape=shape, seed=seed, feed_dir=feed_dir,
                                           out_dir=tmp))])
            part_files = [os.path.join(tmp, f"oracle-{k}.parquet") for k in range(self.procs)]
            final = pd.concat([pd.read_parquet(f) for f in part_files], ignore_index=True)
            final.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
                drop=True).to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)
            for f in part_files:
                os.remove(f)

        return self._cached(shape.key(seed), build)

    def tables(self, shape: TableShape, seed: int) -> str:
        return self._cached(shape.key(seed), lambda tmp: self._run(
            [(write_tables, dict(shape=shape, seed=seed, out_dir=tmp))]))


if __name__ == "__main__":
    if sys.argv[1:2] != ["membw"]:
        sys.exit(f"usage: {sys.argv[0]} membw <seconds>")
    membw_copier(float(sys.argv[2]))
