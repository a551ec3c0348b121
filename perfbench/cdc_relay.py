"""``cdc_relay``: the ``cdc stream`` relay against a scratch Postgres,
drained, then paced.

Set-up starts a scratch server with ``track_commit_timestamp=on``,
creates the source table with its publication and pgoutput slot and the
sink table, starts the relay the way an operator runs it (``python -m
pgshovel_spark cdc stream ... --flatten ... --keys ... --trigger-ms 2000``,
otherwise with the CLI's default batching, in its own process) and waits
for a probe row to land in the sink.  The benchmark process is the
generator, with one writer and one observer connection.

Before the slot exists, set-up loads a base table and copies it into
the sink (what a snapshot bootstrap leaves behind), so updates have
existing keys to hit.

Phase 1 (closed), three times: a fixed backlog of transactions, each
inserting fresh keys and updating base keys, is prepared (two-phase) and
then committed in one burst of COMMIT PREPAREDs a few milliseconds long;
the benchmark waits until the sink holds all of it.  The first drain
warms the relay's decode and sink paths (it runs measurably slower) and
is not counted; the drain rate is the median of the other two.  Phase 2 (open loop): commit
fixed-size transactions at a fixed offered rate for ``--seconds``; each
carries fresh-key inserts (the latency samples) and updates of base keys
(the sink's conflict path).  Latency is the sink row's commit timestamp
minus the source row's, both from ``pg_xact_commit_timestamp`` on the
same server.

Both phases start at a fixed offset into the relay's trigger grid:
Spark's processing-time trigger fires on multiples of its interval in
wall-clock time, so a burst committed at a random instant would wait a
random part of the interval for the next batch and spread the drain
time by that much.

The relay runs with a 2 s trigger, not the CLI's 1 s default.  A
micro-batch takes 1.0-1.5 s here whatever its size, so at 1 s batches
run back to back and commit-to-apply latency is about 1.75 times the
batch time; its 10-run spread was 28 %.  At 2 s every batch starts on
the grid and latency is the grid wait plus one batch.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import stat
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

from common import ROOT, Tracer, median, op_metrics, quantile, read_event_log, reap, spark_layer, submit_args

SLOT, PUB = "bench_slot", "bench_pub"
#: sibling slots on the same publication, traced runs only: they hold the
#: backlog for the out-of-relay peek / decode / walsender measurements
PEEK_SLOT, WS_SLOT = "bench_peek", "bench_ws"
SRC, DST, SINK_PROBE = "bench_src", "bench_dst", "bench_sink_probe"
PROBE_ID = -1

BASE_ROWS = 30_000  # keys 0.., loaded before the slot exists
#: per drain, 8 prepared transactions (the server allows 32; the relay's
#: sink holds up to 2 more), each 2500 fresh-key inserts + 1250 updates of
#: base keys no earlier drain touched
DRAINS = 3
WARM_DRAINS = 1
BACKLOG_TXNS = 8
BACKLOG_TXN_INSERTS, BACKLOG_TXN_UPDATES = 2500, 1250
BACKLOG_CHANGES = BACKLOG_TXNS * (BACKLOG_TXN_INSERTS + BACKLOG_TXN_UPDATES)
BACKLOG_KEY0 = 100_000

PACED_INSERTS = 25  # per transaction: fresh keys, the latency samples
PACED_UPDATES = 25  # per transaction: base keys
PACED_TXN = PACED_INSERTS + PACED_UPDATES
#: offered changes/s, fixed once and never adapted per run
OFFERED_RATE = 1500
PACED_KEY0 = 1_000_000

#: the relay's trigger interval, and the offsets into it at which each
#: drain's burst commits (0.7 s before the next batch) and the paced
#: schedule starts
TRIGGER_S = 2.0
BACKLOG_OFFSET_S = 1.3
PACED_OFFSET_S = 0.3

READY_TIMEOUT_S = 90
APPLY_TIMEOUT_S = 40


def _split_cores() -> tuple[set, set]:
    """(cores for Postgres and the generator, cores for the relay): one
    and the rest, so the relay's threads never queue behind the server's
    or the generator's on a small host.  No split on a single core."""
    cores = sorted(os.sched_getaffinity(0))
    if len(cores) < 2:
        return set(cores), set(cores)
    return {cores[0]}, set(cores[1:])


def _pg_root(run_dir) -> str:
    """A server root the ``postgres`` OS user can reach: inside the
    run dir when every parent is world-searchable and the socket path
    fits, else a private temp dir (removed with the server)."""
    want = run_dir / "pg"
    ok = len(str(want)) < 90 and all(
        os.stat(p).st_mode & stat.S_IXOTH for p in want.parents
    )
    if ok:
        return str(want)
    return tempfile.mkdtemp(prefix="perfbench-pg-", dir="/tmp")


def _values(rows) -> str:
    return ",".join(f"({i},'{v}',{n})" for i, v, n in rows)


def _state_digest(c, table: str) -> tuple:
    return c.query(
        f"select count(*), md5(coalesce(string_agg(id || ':' || v || ':' || n, ','"
        f" order by id), '')) from {table}"
    )[0].rows[0]


def _at_trigger_offset(offset: float) -> None:
    """Sleep until ``offset`` seconds past the next whole trigger interval."""
    now = time.time()
    target = (now // TRIGGER_S + 1) * TRIGGER_S + offset
    if target - now > TRIGGER_S:
        target -= TRIGGER_S
    time.sleep(target - now)


def _wait(pred, timeout: float, relay: subprocess.Popen, interval: float = 0.05) -> bool:
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if pred():
            return True
        if relay.poll() is not None:
            return False
        time.sleep(interval)
    return pred()


def _stop_relay(relay: subprocess.Popen) -> None:
    """SIGINT the relay's process group (the JVM's shutdown hook closes
    the event log), then SIGKILL whatever is left; wait for all of it."""
    for sig, grace in ((signal.SIGINT, 20), (signal.SIGKILL, 10)):
        try:
            os.killpg(relay.pid, sig)
        except ProcessLookupError:
            break
        try:
            relay.wait(grace)
        except subprocess.TimeoutExpired:
            continue
        # the group may outlive its leader (JVM, Python workers)
        deadline = time.time() + grace
        while time.time() < deadline:
            # members re-parented to this process stay zombies until reaped
            reap()
            try:
                os.killpg(relay.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _checkpoint_batches(ck: Path) -> list[dict]:
    """Micro-batches from the relay's checkpoint ledger: batch id, rows
    (dense ``seq`` delta), offset-log and commit-log mtimes."""
    out, prev_seq = [], 0
    offsets = ck / "offsets"
    if not offsets.is_dir():
        return out
    for p in sorted((q for q in offsets.iterdir() if q.name.isdigit()), key=lambda q: int(q.name)):
        lines = p.read_text().splitlines()
        seq = json.loads(lines[-1]).get("seq", prev_seq)
        commit = ck / "commits" / p.name
        out.append(
            {
                "id": int(p.name),
                "rows": seq - prev_seq,
                "t_offset": p.stat().st_mtime,
                "t_commit": commit.stat().st_mtime if commit.exists() else None,
            }
        )
        prev_seq = seq
    return out


class LagSampler:
    """Samples the relay slot's unconfirmed WAL (MB) on its own connection."""

    def __init__(self, params):
        self.params = params
        self.max_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        with self.params.connect() as c:
            while not self._stop.is_set():
                mb = c.one(
                    "select pg_wal_lsn_diff(pg_current_wal_lsn(), confirmed_flush_lsn)::float8"
                    f" / 1e6 from pg_replication_slots where slot_name = '{SLOT}'"
                )
                self.max_mb = max(self.max_mb, float(mb or 0.0))
                self._stop.wait(0.2)

    def start(self) -> "LagSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling and return the largest lag seen, in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.max_mb


def _source_layers(params) -> tuple[dict, list]:
    """Peek, decode and walsender-read the backlog on the sibling slots,
    outside the relay; returns rates and the decoded changes."""
    from pgshovel_spark.sources import pgoutput as po

    t = time.perf_counter()
    raw = po.raw_slot_changes_pgoutput(params, PEEK_SLOT, PUB)
    peek_s = time.perf_counter() - t
    t = time.perf_counter()
    changes = po.parse_pgoutput(raw)
    decode_s = time.perf_counter() - t

    rc = po.PgReplicationConnection(params)
    try:
        t = time.perf_counter()
        stream = rc.start_replication(WS_SLOT, PUB)
        got = 0
        while got < len(changes) and time.perf_counter() - t < APPLY_TIMEOUT_S:
            got += len(stream.read(max_seconds=2.0))
        ws_s = time.perf_counter() - t
        stream.stop()
    finally:
        rc.close()
    return (
        {
            "sources.pgoutput.peek_rows_per_s": len(changes) / peek_s,
            "sources.pgoutput.decode_rows_per_s": len(changes) / decode_s,
            "sources.pgwire.walsender_rows_per_s": got / ws_s,
        },
        changes,
    )


def _sink_layer(params, changes: list, cpus: str) -> float:
    """Batch 2PC upsert of the flattened backlog through
    ``df.write.format("pgshovel")`` into a scratch table; rows/s."""
    from pgshovel_spark.session import get_session
    from pgshovel_spark.sources.pgdatasource import register_pgshovel

    rows = [
        (int(ch["after"]["id"]), ch["after"]["v"], int(ch["after"]["n"]), 0, i)
        for i, ch in enumerate(changes)
        if ch.get("after") and int(ch["after"]["id"]) >= 0
    ]
    with params.connect() as c:
        c.query(f"create table {SINK_PROBE}(id bigint primary key, v text, n bigint, epoch bigint, seq bigint)")
    spark = get_session("perfbench-sink", cpus=cpus)
    try:
        register_pgshovel(spark)
        df = spark.createDataFrame(rows, "id long, v string, n long, epoch long, seq long")
        df = df.repartition(2, "id").cache()
        df.count()
        t = time.perf_counter()
        (
            df.write.format("pgshovel")
            .option("sockdir", params.sockdir)
            .option("port", str(params.port))
            .option("table", SINK_PROBE)
            .option("keys", "id")
            .option("order_cols", "epoch,seq")
            .mode("append")
            .save()
        )
        return len(rows) / (time.perf_counter() - t)
    finally:
        spark.stop()


def run(args, run_dir, pinned: dict, sampler) -> dict:
    import gen
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import ScratchPostgres

    tracer = Tracer(args.trace)
    max_txns = args.seconds * OFFERED_RATE // PACED_TXN + 1
    tokens = gen.cdc_tokens(args.seed, BASE_ROWS + DRAINS * BACKLOG_CHANGES + max_txns * PACED_TXN)
    upd_keys = gen.update_order(args.seed, BASE_ROWS)
    errors: list[str] = []
    attempted = failed = 0
    metrics: dict = {}
    layer: dict = {}
    detail: dict = {"offered_changes_per_s": OFFERED_RATE, "backlog_changes": BACKLOG_CHANGES}
    server = relay = relay_log = None
    ck = run_dir / "ck"
    relay_env = dict(os.environ)
    if args.trace:
        # only the relay logs events; the benchmark's own sink session does not
        os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(run_dir, event_log=False)
    try:
        with tracer.span("run", workload="cdc_relay", seed=args.seed):
            with tracer.span("setup") as setup:
                with tracer.span("postgres.start"):
                    all_cores = os.sched_getaffinity(0)
                    pg_cores, relay_cores = _split_cores()
                    # the server inherits this process's affinity at start
                    os.sched_setaffinity(0, pg_cores)
                    server = ScratchPostgres(root=_pg_root(run_dir))
                    with open(os.path.join(server.data, "postgresql.conf"), "a") as f:
                        f.write("\ntrack_commit_timestamp = on\n")
                    params = server.start()
                with tracer.span("schema"):
                    with params.connect() as c:
                        c.query(f"create table {SRC}(id bigint primary key, v text, n bigint)")
                        c.query(
                            f"create table {DST}(id bigint primary key, v text, n bigint,"
                            " epoch bigint, seq bigint)"
                        )
                        for lo in range(0, BASE_ROWS, 5000):
                            rows = [(i, tokens[i], 0) for i in range(lo, lo + 5000)]
                            c.query(f"insert into {SRC} values {_values(rows)}")
                        # the bootstrap image: older than every streamed change
                        c.query(f"insert into {DST} select id, v, n, 0, -1 from {SRC}")
                    po.create_publication(params, PUB, [SRC])
                    for slot in (SLOT, PEEK_SLOT, WS_SLOT) if args.trace else (SLOT,):
                        po.create_slot_pgoutput(params, slot)
                relay_log = open(run_dir / "relay.err", "w")
                with tracer.span("relay.start") as relay_start:
                    spawn_epoch = time.time()
                    relay = subprocess.Popen(
                        [
                            sys.executable, "-m", "pgshovel_spark", "cdc", "stream", SLOT,
                            "--sockdir", params.sockdir,
                            "--publication", PUB,
                            "--to-table", DST,
                            "--keys", "id",
                            "--flatten", "id:long,v:string,n:long",
                            "--checkpoint", str(ck),
                            "--trigger-ms", str(int(TRIGGER_S * 1000)),
                        ],
                        cwd=str(ROOT),
                        env=relay_env,
                        stdout=subprocess.DEVNULL,
                        stderr=relay_log,
                        start_new_session=True,
                    )
                    # set before the relay's interpreter starts its JVM, which inherits it
                    os.sched_setaffinity(relay.pid, relay_cores)
                    sampler.root_pid = relay.pid
                    sampler.start()
                    writer, observer = params.connect(), params.connect()
                    writer.query(f"insert into {SRC} values ({PROBE_ID}, 'probe', -1)")
                    ready = _wait(
                        lambda: observer.one(f"select count(*) from {DST} where id = {PROBE_ID}") == 1,
                        READY_TIMEOUT_S,
                        relay,
                    )
            if not ready:
                raise RuntimeError("relay did not apply the probe row")
            stats0 = observer.query(
                f"select n_tup_ins + n_tup_upd from pg_stat_user_tables where relname = '{DST}'"
            )[0].rows[0][0]

            lag = LagSampler(params).start() if args.trace else None
            # -- phase 1: drain a committed backlog, DRAINS times -------------
            t_phase1 = time.time()
            k, key, drain_s = BASE_ROWS, BACKLOG_KEY0, []
            for d in range(DRAINS):
                tag = d + 1  # n of every row this drain writes
                with tracer.span("phase", label="drain", index=d):
                    with tracer.span("hop", label="prepare_backlog"):
                        gids = []
                        for t in range(BACKLOG_TXNS):
                            ins = [(key + j, tokens[k + j], tag) for j in range(BACKLOG_TXN_INSERTS)]
                            key += BACKLOG_TXN_INSERTS
                            k += BACKLOG_TXN_INSERTS
                            lo = (d * BACKLOG_TXNS + t) * BACKLOG_TXN_UPDATES
                            ups = [
                                (int(i), tokens[k + j], tag)
                                for j, i in enumerate(upd_keys[lo : lo + BACKLOG_TXN_UPDATES])
                            ]
                            k += BACKLOG_TXN_UPDATES
                            gids.append(f"perfbench_backlog_{d}_{t}")
                            writer.query(
                                f"begin; insert into {SRC} values {_values(ins)};"
                                f" update {SRC} s set v = u.v, n = u.n from (values {_values(ups)})"
                                f" as u(id, v, n) where s.id = u.id; prepare transaction '{gids[-1]}'"
                            )
                    _at_trigger_offset(BACKLOG_OFFSET_S)
                    with tracer.span("hop", label="commit_backlog"):
                        for gid in gids:
                            writer.query(f"commit prepared '{gid}'")
                    attempted += 1
                    with tracer.span("hop", label="apply_backlog"):
                        drained = _wait(
                            # every backlog change leaves one distinct row tagged n = tag
                            lambda: observer.one(f"select count(*) from {DST} where n = {tag}")
                            == BACKLOG_CHANGES,
                            APPLY_TIMEOUT_S,
                            relay,
                            interval=0.25,
                        )
                if not drained:
                    raise RuntimeError(f"backlog {d} not applied within the timeout")
                src_ts, dst_ts = (
                    observer.one(
                        f"select extract(epoch from max(pg_xact_commit_timestamp(xmin)))::float8"
                        f" from {t} where n = {tag}"
                    )
                    for t in (SRC, DST)
                )
                if d >= WARM_DRAINS:
                    drain_s.append(dst_ts - src_ts)
            if _state_digest(observer, SRC) != _state_digest(observer, DST):
                failed += 1
                errors.append("sink differs from source after the drains")
            detail["drain_s"] = drain_s

            changes = []
            if args.trace:
                with tracer.span("phase", label="source_layers"):
                    src_layers, changes = _source_layers(params)
                layer.update(src_layers)

            # -- phase 2: paced open loop ------------------------------------
            t_phase2 = time.time()
            with tracer.span("phase", label="paced"):
                late_max, n_txn = 0.0, 0
                key = PACED_KEY0
                upd = itertools.cycle(upd_keys.tolist())
                _at_trigger_offset(PACED_OFFSET_S)
                start = time.perf_counter()
                while True:
                    due = start + n_txn * PACED_TXN / OFFERED_RATE
                    if due - start >= args.seconds:
                        break
                    now = time.perf_counter()
                    if now < due:
                        time.sleep(due - now)
                    late_max = max(late_max, time.perf_counter() - due)
                    ins = [(key + j, tokens[k + j], 1000 + n_txn) for j in range(PACED_INSERTS)]
                    k += PACED_INSERTS
                    ups = [(next(upd), tokens[k + j], 1000 + n_txn) for j in range(PACED_UPDATES)]
                    k += PACED_UPDATES
                    with tracer.span("hop", label="commit_txn", txn=n_txn):
                        writer.query(
                            f"begin; insert into {SRC} values {_values(ins)};"
                            f" update {SRC} s set v = u.v, n = u.n from (values {_values(ups)})"
                            " as u(id, v, n) where s.id = u.id; commit"
                        )
                    key += PACED_INSERTS
                    n_txn += 1
                attempted += n_txn
                with tracer.span("hop", label="apply_paced"):
                    landed = _wait(
                        lambda: observer.one(f"select count(*) from {DST} where id >= {PACED_KEY0}")
                        == n_txn * PACED_INSERTS,
                        APPLY_TIMEOUT_S,
                        relay,
                        interval=0.25,
                    )
            t_end = time.time()
            lag_mb = lag.stop() if lag else 0.0
            lat = [
                float(r[1])
                for r in observer.query(
                    "select s.n, extract(epoch from max(pg_xact_commit_timestamp(d.xmin))"
                    " - max(pg_xact_commit_timestamp(s.xmin)))::float8"
                    f" from {SRC} s join {DST} d using (id) where s.id >= {PACED_KEY0} group by s.n"
                )[0].rows
            ]
            failed += n_txn - len(lat)
            if not landed:
                errors.append(f"{n_txn - len(lat)} paced transactions not applied within the timeout")
            if _state_digest(observer, SRC) != _state_digest(observer, DST):
                failed += 1
                errors.append("sink differs from source after the paced phase")
            peak_rss_mb = sampler.stop()
            # per-table counters are flushed when the sink's sessions end
            time.sleep(0.5)
            writes = (
                observer.query(
                    f"select n_tup_ins + n_tup_upd from pg_stat_user_tables where relname = '{DST}'"
                )[0].rows[0][0]
                - stats0
            )
            writer.close()
            observer.close()

            metrics = {
                "setup_s": setup.seconds,
                "peak_rss_mb": peak_rss_mb,
                "throughput_per_s": BACKLOG_CHANGES / median(drain_s),
                "latency_p50_s": median(lat),
            }
            detail.update(
                {
                    "drain_rows_per_s": metrics["throughput_per_s"],
                    "commit_to_apply_p50_s": metrics["latency_p50_s"],
                    "commit_to_apply_p95_s": quantile(lat, 0.95) if lat else 0.0,
                    "paced_txns": n_txn,
                    "writer_late_max_s": late_max,
                    "errors": errors[:10],
                }
            )
            _stop_relay(relay)

            if args.trace:
                batches = _checkpoint_batches(ck)
                timed = [b for b in batches if b["t_offset"] >= t_phase1 and b["t_commit"]]
                busy = [b["t_commit"] - b["t_offset"] for b in timed]
                ids = {str(b["id"]) for b in timed}
                events = read_event_log(run_dir / "eventlog")
                app_start = next(
                    (e["Timestamp"] / 1e3 for e in events if e.get("Event") == "SparkListenerApplicationStart"),
                    spawn_epoch,
                )
                ops = op_metrics(
                    events,
                    lambda props: props.get("streaming.sql.batchId")
                    if props.get("streaming.sql.batchId") in ids
                    else None,
                )
                layer.update(spark_layer(ops, sum(busy), len(timed), int(pinned["SPARK_GRAFT_CPUS"])))
                data_rows = [b["rows"] for b in timed if b["rows"] > 0]
                layer.update(
                    {
                        "session.build_s": app_start - spawn_epoch,
                        "relay.batches": len(timed),
                        "relay.rows_per_batch": median(data_rows),
                        "relay.batch_s": median(busy),
                        "relay.idle_s": max(0.0, (t_end - t_phase1) - sum(busy)),
                        "relay.slot_lag_mb_max": lag_mb,
                        "relay.sink_writes_per_change": writes
                        / (DRAINS * BACKLOG_CHANGES + n_txn * PACED_TXN),
                        "relay.writer_late_max_s": late_max,
                        "trace.op_wall_s": median(drain_s),
                    }
                )
                detail["relay_ready_s"] = relay_start.seconds
                detail["phase2_start_offset_s"] = t_phase2 - t_phase1
                os.sched_setaffinity(0, all_cores)
                with tracer.span("phase", label="sink_layer"):
                    layer["sources.pgdatasource.sink_rows_per_s"] = _sink_layer(
                        params, changes, pinned["SPARK_GRAFT_CPUS"]
                    )
    except Exception as e:  # a relay or server failure is a failed op, not a crash
        errors.append(f"{type(e).__name__}: {e}")
        failed = max(failed, 1)
        attempted = max(attempted, 1)
        detail["errors"] = errors[:10]
    finally:
        if relay is not None and relay.poll() is None:
            _stop_relay(relay)
        if server is not None:
            server.stop()
        if relay_log is not None:
            relay_log.close()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "detail": detail,
        "tracer": tracer,
    }
