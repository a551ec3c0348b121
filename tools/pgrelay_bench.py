"""Live-Postgres relay throughput — how fast the capture path moves
committed mutations from a real server into parsed change records.

The reference relay's published operating class is 10^3-10^4 events/s
per shard (BASELINE.md).  This bench commits N single-row mutations
(plus a bulk wave) to a scratch PostgreSQL, then times the capture
hop of the one capture plugin, ``pgoutput``: the binary slot peek
(``raw_slot_changes_pgoutput``) over the wire client + the pure-Python
``parse_pgoutput`` decode + advance, and the same decode over the
walsender (START_REPLICATION) transport.

What it measures (and what it deliberately doesn't): the DECODE+PARSE
path is a serial control-plane read — WAL is commit-ordered, so a slot
cannot fan out; per-database sharding is the scale lever, same as the
reference.  Arrow batch building and Spark micro-batching come after
the parse and are timed end to end by the cdc_relay benchmark
workload instead.

Usage: python tools/pgrelay_bench.py [n_rows]
Prints a markdown row set for EXPERIMENTS.md and one JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pgshovel_spark.sources import pglogical as pgl  # noqa: E402
from pgshovel_spark.sources import pgoutput as po  # noqa: E402
from pgshovel_spark.sources.pgwire import ScratchPostgres  # noqa: E402


def _capture(p, slot: str, pub: str) -> tuple[int, float]:
    """One peek + parse + advance of ``slot``: (changes, seconds)."""
    t0 = time.time()
    raw = po.raw_slot_changes_pgoutput(p, slot, pub)
    changes = po.parse_pgoutput(raw)
    secs = time.time() - t0
    if raw:
        pgl.advance(p, slot, raw[-1][0])
    return len(changes), secs


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    results = {}
    with ScratchPostgres() as p:
        with p.connect() as c:
            c.query(
                "create table relay_bench(id bigint primary key,"
                " v text, score float8)"
            )
            po.create_publication(p, "bench_pub", ["relay_bench"])
            po.create_slot_pgoutput(p, "bench_po")

            # wave 1: one bulk transaction of n rows (bootstrap-style)
            t0 = time.time()
            c.query(
                f"insert into relay_bench select g, 'payload_' || g, g / 7.0"
                f" from generate_series(1, {n}) g"
            )
            commit_s = time.time() - t0
            rows, pull_s = _capture(p, "bench_po", "bench_pub")
            assert rows == n, (rows, n)
            results["pgoutput_bulk_txn"] = {
                "rows": n,
                "commit_sec": round(commit_s, 2),
                "capture_sec": round(pull_s, 2),
                "capture_rows_per_sec": int(n / pull_s),
            }

            # wave 2: update storm (before+after images, replica identity full)
            c.query("alter table relay_bench replica identity full")
            t0 = time.time()
            c.query(
                f"update relay_bench set score = score + 1"
                f" where id between 1 and {n}"
            )
            commit_s = time.time() - t0
            rows, pull_s = _capture(p, "bench_po", "bench_pub")
            assert rows == n, (rows, n)
            results["pgoutput_update_full_images"] = {
                "rows": n,
                "commit_sec": round(commit_s, 2),
                "capture_sec": round(pull_s, 2),
                "capture_rows_per_sec": int(n / pull_s),
            }

            # wave 3: many small transactions (OLTP shape, 2k txns)
            n_txn = 2000
            t0 = time.time()
            for i in range(n_txn):
                c.query(
                    f"insert into relay_bench values"
                    f" ({n + 1 + i}, 'oltp_{i}', {i}.5)"
                )
            commit_s = time.time() - t0
            rows, pull_s = _capture(p, "bench_po", "bench_pub")
            assert rows == n_txn, (rows, n_txn)
            results["pgoutput_small_txns"] = {
                "rows": n_txn,
                "commit_sec": round(commit_s, 2),
                "capture_sec": round(pull_s, 2),
                "capture_rows_per_sec": int(n_txn / pull_s),
                "txns_per_sec_committed": int(n_txn / commit_s),
            }
            pgl.drop_slot(p, "bench_po")

            # wave 4: pgoutput over the REAL walsender transport
            # (START_REPLICATION CopyBoth stream + status update)
            po.create_slot_pgoutput(p, "bench_ws")
            rc = po.PgReplicationConnection(p)
            try:
                stream = rc.start_replication("bench_ws", "bench_pub")
                c.query(
                    f"insert into relay_bench select g + 20000000,"
                    f" 'walsnd_' || g, g / 7.0 from generate_series(1, {n}) g"
                )
                t0 = time.time()
                changes = stream.read(max_seconds=120.0)
                pull_s = time.time() - t0
                stream.send_status(stream.wal_end)
                stream.stop()
            finally:
                rc.close()
            assert len(changes) == n, (len(changes), n)
            results["pgoutput_walsender"] = {
                "rows": n,
                "capture_sec": round(pull_s, 2),
                "capture_rows_per_sec": int(n / pull_s),
            }
            pgl.drop_slot(p, "bench_ws")

    print("| wave | rows | commit s | capture s | capture rows/s |")
    print("|---|---|---|---|---|")
    for k, r in results.items():
        print(
            f"| {k} | {r['rows']} | {r.get('commit_sec', '-')} |"
            f" {r['capture_sec']} | {r['capture_rows_per_sec']} |"
        )
    print(json.dumps({"pgrelay": results}))


if __name__ == "__main__":
    main()
