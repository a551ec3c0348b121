"""Sharded live-Postgres CDC bench: fan-out throughput and hot-shard
fairness, one harness for both.

One shape, sized by five options:

- ``--shards`` N databases on one scratch cluster, each with one table,
  one publication and one ``pgoutput`` slot (N=1 is the one-slot relay);
- paced writers, one per shard, share ``--writer-rate`` rows/s and
  commit 500-row transactions (new-id inserts alternating with upserts
  over a fixed id range) for ``--run-secs``;
- ``--hot-rows`` > 0: before the stream starts, shard 0 commits a
  backlog of that many rows in ONE transaction and takes no paced
  writer — the micro-batch is a barrier over its input partitions, so
  this measures how long the light shards' rows wait behind it;
- ``--max-changes`` bounds each batch per shard (0 = unbounded); a hot
  transaction larger than the bound is delivered in chunks.

ONE ``readStream.format("pgshovel").option("shards", ...)`` query runs
into a ``foreachBatch`` that aggregates per transaction on the
executors and collects one row per transaction (publisher, commit
timestamp, rows, max ``seq``) — never one row per change.

Prints one JSON line:

- ``offered_rows_per_sec`` (paced commits / writer wall) and
  ``captured_rows_per_sec`` (every captured row / writer wall + drain);
- ``drain_sec`` (writers stopped -> every row captured) and ``batches``;
- ``lat_p50_sec`` / ``lat_p95_sec``: commit -> land latency of the
  paced shards' rows, weighted by rows (commit time is the server's
  commit timestamp carried in the change's ``ts``; land time is the
  driver clock after the batch's collect, same host);
- ``hot_drain_sec`` (stream start -> hot backlog captured) and
  ``hot_batch_max_rows``;
- ``exact``: per shard, captured == committed and max ``seq`` ==
  committed - 1 (dense from 0).  The run exits non-zero if it is false.

Usage:
  python tools/pg_streambench.py --shards 4 --writer-rate 24000 --run-secs 30
  python tools/pg_streambench.py --shards 8 --hot-rows 500000 --max-changes 50000
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pgshovel_spark.session import get_session  # noqa: E402
from pgshovel_spark.sources import pgoutput as po  # noqa: E402
from pgshovel_spark.sources.pgdatasource import register_pgshovel  # noqa: E402
from pgshovel_spark.sources.pgwire import ScratchPostgres  # noqa: E402

TXN_ROWS = 500
N_UPSERT_IDS = 20_000  # upserts land in [0, N_UPSERT_IDS); inserts above it
DRAIN_TIMEOUT_S = 300


def writer_loop(params, stop: threading.Event, rate: float) -> int:
    """Commit TXN_ROWS-row transactions paced to ``rate`` rows/s until
    ``stop``: new-id inserts alternating with upserts (UPDATE changes).
    Returns the rows committed."""
    rows, i, next_id = 0, 0, N_UPSERT_IDS
    t0 = time.time()
    with params.connect() as c:
        while not stop.is_set():
            if i % 2 == 0:
                lo, conflict = next_id, ""
                next_id += TXN_ROWS
            else:
                lo = (i * 37) % (N_UPSERT_IDS - TXN_ROWS)
                conflict = (" on conflict (id) do update set v = excluded.v,"
                            " score = excluded.score")
            c.query(
                f"insert into bench_t select g, 'w{i}_' || g, g / 7.0"
                f" from generate_series({lo}, {lo + TXN_ROWS - 1}) g{conflict}"
            )
            rows += TXN_ROWS
            i += 1
            ahead = rows / rate - (time.time() - t0)
            if ahead > 0:
                stop.wait(ahead)
    return rows


def weighted_pct(pairs: list[tuple[float, int]], q: float) -> float | None:
    """The ``q`` quantile of values weighted by counts."""
    total = sum(n for _, n in pairs)
    if not total:
        return None
    cum = 0
    for v, n in sorted(pairs):
        cum += n
        if cum >= q * total:
            return round(v, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", type=int, default=4)
    ap.add_argument("--run-secs", type=int, default=30)
    ap.add_argument("--writer-rate", type=int, default=24_000,
                    help="total paced rows/s across the writer shards")
    ap.add_argument("--hot-rows", type=int, default=0,
                    help="one-transaction backlog on shard 0 (0 = none)")
    ap.add_argument("--max-changes", type=int, default=0,
                    help="the source's per-shard batch bound (0 = unbounded)")
    args = ap.parse_args()
    if args.shards < 1:
        ap.error("--shards must be >= 1")

    spark = get_session("pg_streambench")
    register_pgshovel(spark)

    with ScratchPostgres() as p:
        slots = [f"slot_{i}" for i in range(args.shards)]
        hot = slots[0] if args.hot_rows else None
        paced = [s for s in slots if s != hot]
        prms = {}
        for i, slot in enumerate(slots):
            db = f"shard_{i}"
            with p.connect() as c:
                c.query(f"create database {db}")
            prms[slot] = dataclasses.replace(p, database=db)
            with prms[slot].connect() as c:
                c.query("create table bench_t(id bigint primary key,"
                        " v text, score float8)")
            po.create_publication(prms[slot], "bench_pub", ["bench_t"])
            po.create_slot_pgoutput(prms[slot], slot)
        committed = {}
        if hot:
            with prms[hot].connect() as c:
                c.query("insert into bench_t select g, 'hot', 0"
                        f" from generate_series(1, {args.hot_rows}) g")
            committed[hot] = args.hot_rows

        lock = threading.Lock()
        seen = {s: {"rows": 0, "max_seq": -1} for s in slots}
        # lat: (commit -> land seconds, rows) per paced transaction
        run = {"batches": 0, "lat": [], "hot_batch_max": 0, "hot_drain": None}

        def land(batch_df, _bid):
            txns = (
                batch_df.groupBy("publisher", "txid")
                .agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
                     F.min(F.unix_micros("ts")).alias("commit_us"))
                .collect()
            )
            now = time.time()
            with lock:
                run["batches"] += 1
                hot_rows = 0
                for r in txns:
                    s = seen[r["publisher"]]
                    s["rows"] += r["n"]
                    s["max_seq"] = max(s["max_seq"], r["mx"])
                    if r["publisher"] == hot:
                        hot_rows += r["n"]
                    else:
                        run["lat"].append((now - r["commit_us"] / 1e6, r["n"]))
                run["hot_batch_max"] = max(run["hot_batch_max"], hot_rows)
                if (hot and run["hot_drain"] is None
                        and seen[hot]["rows"] >= args.hot_rows):
                    run["hot_drain"] = round(now - t_start, 2)

        src = (
            spark.readStream.format("pgshovel")
            .option("sockdir", p.sockdir)
            .option("shards", json.dumps([
                {"slot": s, "publication": "bench_pub",
                 "database": prms[s].database} for s in slots
            ]))
        )
        if args.max_changes:
            src = src.option("max_changes", str(args.max_changes))
        t_start = time.time()
        q = (
            src.load().writeStream.foreachBatch(land)
            .option("checkpointLocation", f"{p.sockdir}/ck_bench")
            .trigger(processingTime="300 milliseconds")
            .start()
        )

        stop = threading.Event()
        t_run = time.time()
        with ThreadPoolExecutor(max(1, len(paced))) as ex:
            futs = [
                ex.submit(writer_loop, prms[s], stop,
                          args.writer_rate / len(paced))
                for s in paced
            ]
            stop.wait(args.run_secs)
            stop.set()
            committed.update(zip(paced, (f.result() for f in futs)))
        run_s = time.time() - t_run

        t0 = time.time()
        while time.time() - t0 < DRAIN_TIMEOUT_S and q.isActive:
            with lock:
                if all(seen[s]["rows"] >= committed[s] for s in slots):
                    break
            time.sleep(0.3)
        drain_s = time.time() - t0
        failure = q.exception()
        q.stop()
        if failure is not None:
            raise SystemExit(f"stream query failed: {failure}")

        exact = {
            s: seen[s]["rows"] == committed[s]
            and seen[s]["max_seq"] == committed[s] - 1
            for s in slots
        }
        paced_rows = sum(committed[s] for s in paced)
        captured = sum(seen[s]["rows"] for s in slots)
        out = {
            "shards": args.shards,
            "run_secs": args.run_secs,
            "writer_rate": args.writer_rate,
            "hot_rows": args.hot_rows,
            "max_changes": args.max_changes,
            "committed_rows": sum(committed.values()),
            "captured_rows": captured,
            "offered_rows_per_sec": int(paced_rows / run_s),
            "captured_rows_per_sec": int(captured / (run_s + drain_s)),
            "drain_sec": round(drain_s, 2),
            "batches": run["batches"],
            "lat_p50_sec": weighted_pct(run["lat"], 0.50),
            "lat_p95_sec": weighted_pct(run["lat"], 0.95),
            "hot_drain_sec": run["hot_drain"],
            "hot_batch_max_rows": run["hot_batch_max"] if hot else None,
            "exact": all(exact.values()),
        }
        print(json.dumps(out))
        if not out["exact"]:
            raise SystemExit(
                "not exact: " + json.dumps({
                    s: {"committed": committed[s], **seen[s]}
                    for s in slots if not exact[s]
                })
            )


if __name__ == "__main__":
    main()
