"""Sustained live-Postgres CDC pipeline bench (round 10).

perfbench's cdc_relay workload measures the capture hops
(``--trace 1``: peek, decode, walsender); this tool runs the
WHOLE pipeline continuously under load — the architecture a production
deployment of the pgoutput path runs:

  concurrent writers -> live PostgreSQL (pgoutput slot + publication)
    -> the native readStream.format("pgshovel") source (Spark's
       checkpoint is the only ledger; the slot advances on Spark's
       batch commit)
    -> foreachBatch executed ANSI MERGE into live embedded Derby, or
       (--sink pg2pc) the native two-phase-commit upsert back into
       live Postgres

and reports STEADY-STATE numbers: writer commit rate, capture rate,
merge-pipeline processedRowsPerSecond, p95 micro-batch latency from
``StreamingQuery.recentProgress``, end-of-run drain lag, and — the
part a throughput number can't fake — an exactly-once verification
that the Derby state equals the live Postgres state row-for-row when
the dust settles.

The source's ``seq`` is dense across micro-batches and restarts (it
rides in the checkpointed offset) — the cross-batch total order the
MERGE newer-guard requires.

Usage: python tools/pglive_streambench.py [--run-secs 30]
Prints a markdown table and one JSON line; merge results into
PGRELAY.json under "pglive_stream".
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pgshovel_spark.session import get_session  # noqa: E402
from pgshovel_spark.sources import pglogical as pgl  # noqa: E402
from pgshovel_spark.sources import pgoutput as po  # noqa: E402
from pgshovel_spark.sources.pgwire import ScratchPostgres  # noqa: E402

TXN_ROWS = 500
N_HOT_IDS = 20_000  # update pressure concentrates here


def writer_loop(params, stop: threading.Event, stats: dict, rate: int) -> None:
    """Commit mixed INSERT-new / UPDATE-hot transactions, PACED to
    ``rate`` rows/s — the reference relay's published operating class
    is 10^3-10^4 events/s per shard; an unthrottled bulk writer
    (~120k rows/s measured) only benchmarks the backlog case, which
    the drain metrics cover separately."""
    rows = 0
    next_id = N_HOT_IDS
    t0 = time.time()
    with params.connect() as c:
        i = 0
        while not stop.is_set():
            if i % 2 == 0:
                c.query(
                    f"insert into pgstream_t select g, 'w' || g, g/7.0"
                    f" from generate_series({next_id}, {next_id + TXN_ROWS - 1}) g"
                )
                next_id += TXN_ROWS
            else:
                lo = (i * 37) % (N_HOT_IDS - TXN_ROWS)
                c.query(
                    f"insert into pgstream_t select g, 'u{i}_' || g, {i}/3.0"
                    f" from generate_series({lo}, {lo + TXN_ROWS - 1}) g"
                    f" on conflict (id) do update set v = excluded.v,"
                    f" score = excluded.score"
                )
            rows += TXN_ROWS
            i += 1
            # pace: row i*TXN_ROWS should not land before its slot
            ahead = rows / rate - (time.time() - t0)
            if ahead > 0:
                stop.wait(ahead)
    stats["committed_rows"] = rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-secs", type=int, default=30)
    ap.add_argument("--writer-rate", type=int, default=15_000)
    ap.add_argument(
        "--max-changes",
        type=int,
        default=40_000,
        help="the source's max_changes: rows per micro-batch",
    )
    ap.add_argument(
        "--sink",
        choices=("derby", "pg2pc"),
        default="derby",
        help="derby = foreachBatch executed ANSI MERGE into embedded "
        "Derby; pg2pc = the round-11 native writeStream.format('pgshovel') "
        "two-phase-commit upsert back into live Postgres (the FULL "
        "native relay, one Spark query)",
    )
    args = ap.parse_args()
    spark = get_session("pglive_streambench")
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    derby_dir = tempfile.mkdtemp(prefix="pgls_derby_")
    url = f"jdbc:derby:{derby_dir}/db;create=true"
    con = jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().executeUpdate(
        "CREATE TABLE STATE (ID BIGINT PRIMARY KEY, V VARCHAR(64),"
        " SCORE DOUBLE, SEQ BIGINT)"
    )
    ckpt = tempfile.mkdtemp(prefix="pgls_ckpt_")

    from pgshovel_spark.streaming.sinks import JdbcMergeSink

    sink = JdbcMergeSink(
        url=url,
        table="STATE",
        keys=["ID"],
        order_cols=["SEQ"],
        columns=["ID", "V", "SCORE", "SEQ"],
        connection_factory=lambda: jvm.java.sql.DriverManager.getConnection(url),
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        create_types="V VARCHAR(64)",
    )

    merged = [0]  # foreachBatch runs on the driver: plain counter

    def apply_batch(batch_df, batch_id):
        flat = batch_df.select(
            F.col("after")["id"].cast("long").alias("ID"),
            F.col("after")["v"].alias("V"),
            F.col("after")["score"].cast("double").alias("SCORE"),
            F.col("seq").alias("SEQ"),
        ).filter(F.col("ID").isNotNull())
        flat = flat.localCheckpoint(eager=True)  # one compute, two uses
        n = flat.count()
        sink.apply(flat, batch_id)
        merged[0] += n  # AFTER the merge commits — the catch-up
        # watcher must never see this batch as done mid-MERGE

    results: dict = {}
    with ScratchPostgres() as p:
        with p.connect() as c:
            c.query(
                "create table pgstream_t(id bigint primary key,"
                " v text, score float8)"
            )
        po.create_publication(p, "pgls_pub", ["pgstream_t"])
        po.create_slot_pgoutput(p, "pgls_slot")

        from pgshovel_spark.sources.pgdatasource import register_pgshovel

        register_pgshovel(spark)
        # warm the Spark/Arrow/JDBC path outside the timed window
        with p.connect() as c:
            c.query("insert into pgstream_t values (-1, 'warm', 0.0)")
        src = (
            spark.readStream.format("pgshovel")
            .option("sockdir", p.sockdir)
            .option("slot", "pgls_slot")
            .option("publication", "pgls_pub")
            # bound the per-trigger decode window: an unbounded
            # peek re-decodes the whole backlog each cycle, so a
            # slow batch snowballs (measured p95 11 s unbounded vs
            # ~2 s bounded at the same 15k rows/s offered load)
            .option("max_changes", str(args.max_changes))
            .load()
        )
        if args.sink == "pg2pc":
            # the FULL native relay: pg -> source -> flatten ->
            # native 2PC upsert back into pg, one Spark query
            with p.connect() as c:
                c.query(
                    "create table pgstate_t(id bigint primary key,"
                    " v text, score float8, seq bigint)"
                )
            flat = (
                src.filter(F.col("op") != "DELETE")
                .select(
                    F.col("after")["id"].cast("long").alias("id"),
                    F.col("after")["v"].alias("v"),
                    F.col("after")["score"].cast("double").alias("score"),
                    F.col("seq"),
                )
                .filter(F.col("id").isNotNull())
                .repartition(8, "id")  # 2PC: key-disjoint partitions
            )
            q = (
                flat.writeStream.format("pgshovel")
                .option("sockdir", p.sockdir)
                .option("table", "pgstate_t")
                .option("keys", "id")
                .option("order_cols", "seq")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="250 milliseconds")
                .start()
            )
        else:
            q = (
                src.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="250 milliseconds")
                .start()
            )

        stop = threading.Event()
        wstats: dict = {}
        wt = threading.Thread(
            target=writer_loop, args=(p, stop, wstats, args.writer_rate)
        )
        t_start = time.time()
        wt.start()
        # the native source IS the capture loop — just let it run
        while time.time() - t_start < args.run_secs:
            time.sleep(0.25)
        stop.set()
        wt.join()
        write_wall = time.time() - t_start

        # drain: let the stream catch up to everything committed
        t_drain = time.time()
        committed_total = wstats["committed_rows"] + 1  # + warm row
        deadline = time.time() + 180
        if args.sink == "pg2pc":
            # the sink table's dense max(seq) is the processed ledger
            def _done_rows():
                with p.connect() as c:
                    m = c.one("select coalesce(max(seq), -1) from pgstate_t")
                return m + 1

            while _done_rows() < committed_total and time.time() < deadline:
                time.sleep(0.5)
            captured = _done_rows()
        else:
            while merged[0] < committed_total and time.time() < deadline:
                time.sleep(0.5)
            captured = merged[0]
        merge_drain_s = time.time() - t_drain

        progress = [
            pr for pr in (q.recentProgress or []) if pr["numInputRows"] > 0
        ]
        q.stop()

        # exactly-once verification: sink state == live Postgres source
        if args.sink == "pg2pc":
            with p.connect() as c:
                exact = c.one(
                    "select count(*) from pgstream_t s full join pgstate_t d"
                    " using (id) where d.id is null or s.id is null"
                    " or s.v is distinct from d.v"
                    " or s.score is distinct from d.score"
                ) == 0
        else:
            rs = con.createStatement().executeQuery(
                "SELECT COUNT(*), COALESCE(SUM(ID), 0) FROM STATE"
            )
            rs.next()
            derby_n, derby_sum = rs.getLong(1), rs.getLong(2)
            with p.connect() as c:
                pg_n, pg_sum = c.query(
                    "select count(*), coalesce(sum(id), 0) from pgstream_t"
                )[0].rows[0]
                # spot-check value equality on the hot (updated) range
                pg_hot = c.query(
                    "select id, v from pgstream_t where id < 200 order by id"
                )[0].rows
            rs = con.createStatement().executeQuery(
                "SELECT ID, V FROM STATE WHERE ID < 200 ORDER BY ID"
            )
            derby_hot = []
            while rs.next():
                derby_hot.append((rs.getLong(1), rs.getString(2)))
            exact = (derby_n == pg_n) and (derby_sum == pg_sum) and (
                derby_hot == [(int(a), b) for a, b in pg_hot]
            )

        lat_ms = sorted(
            pr["durationMs"]["triggerExecution"] for pr in progress
        )
        p95 = lat_ms[int(0.95 * (len(lat_ms) - 1))] if lat_ms else None
        results = {
            "run_secs": args.run_secs,
            "writer_rows_per_sec": int(wstats["committed_rows"] / write_wall),
            "captured_rows": captured,
            "capture_rows_per_sec": int(captured / write_wall),
            "merge_batches": len(progress),
            "merge_rows_per_sec_mean": int(
                sum(pr["processedRowsPerSecond"] for pr in progress)
                / max(len(progress), 1)
            ),
            "batch_latency_ms_p95": p95,
            "merge_drain_sec": round(merge_drain_s, 2),
            "exactly_once_state_match": bool(exact),
            "sink": args.sink,
        }
        pgl.drop_slot(p, "pgls_slot")
    con.close()

    print("| metric | value |")
    print("|---|---|")
    for k, v in results.items():
        print(f"| {k} | {v} |")
    s_key = "pglive_stream_datasource" + (
        "_pg2pc" if args.sink == "pg2pc" else ""
    )
    print(json.dumps({s_key: results}))


if __name__ == "__main__":
    main()
