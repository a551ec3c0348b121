"""Live Postgres replication-slot lifecycle + MVCC-consistent parallel
snapshot bootstrap — the engine's equivalent of pgshovel's capture
layer, executed against a real PostgreSQL server.

pgshovel captures row changes from a live Postgres and publishes
mutation records to a bus (reconstructed from public knowledge;
SURVEY.md §1.1 "Mutation record", §2.A).  Capture itself is the binary
``pgoutput`` plugin (sources/pgoutput.py: decoder, slot creation,
publications, both transports), delivered to Spark by the native
``format("pgshovel")`` source (sources/pgdatasource.py).  This module
holds the plugin-independent parts around it:

- slot lifecycle: ``drop_slot``, ``advance`` (the watermark commit of
  the peek/advance contract), ``slot_wal_status`` /
  ``check_slot_live`` (the WAL-retention invalidation probe), and
  ``pg_observed_schema`` (the drift monitor's live schema probe).
- ``exported_snapshot``: the driver half of consistent parallel
  bootstrap.  One driver transaction exports its snapshot
  (``pg_export_snapshot()``); every partition of the native batch
  source (``spark.read.format("pgshovel")`` with option
  ``snapshot``) opens its own wire connection and adopts it (``SET
  TRANSACTION SNAPSHOT``), so N parallel slice reads observe ONE
  point-in-time state even under concurrent writes — the same
  exported-snapshot discipline pgshovel's bootstrap uses.

Scale posture: decoding a slot is SERIAL by design (Postgres streams
WAL in commit order; ordering is the contract), so a slot pull is a
control-plane read — sharding happens per database/publication with
one slot each.  The bootstrap path is the data-plane one: per-
partition slice reads parallelize across executors exactly like a
partitioned JDBC scan, and the snapshot export pins consistency
without locking writers.

Watermark discipline: a slot PEEK leaves ``confirmed_flush_lsn``
untouched; callers commit a batch downstream first and then
``advance(params, slot, upto_lsn)`` — crash between the two replays
the batch (at-least-once), and the replay-idempotent sinks absorb
duplicates.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import types as T

from pgshovel_spark.sources.pgwire import PgError, PgParams

__all__ = [
    "drop_slot",
    "pg_observed_schema",
    "advance",
    "slot_wal_status",
    "check_slot_live",
    "exported_snapshot",
]


# ---------------------------------------------------------------------------
# slot lifecycle
# ---------------------------------------------------------------------------

_SLOT_RE = re.compile(r"[a-z0-9_]+\Z")


def _check_slot(slot: str) -> str:
    if not _SLOT_RE.match(slot):
        raise ValueError(f"invalid slot name: {slot!r}")
    return slot


def drop_slot(params: PgParams, slot: str) -> None:
    """Drop ``slot``, waiting up to 30 s for a busy one: a
    consumer that just stopped can still hold the slot active (a peek
    in flight, a walsender exiting), and the drop then fails with
    55006 "replication slot is active" until it lets go."""
    import time

    deadline = time.monotonic() + 30.0
    while True:
        try:
            with params.connect() as c:
                c.query(f"select pg_drop_replication_slot('{_check_slot(slot)}')")
            return
        except PgError as e:
            if e.sqlstate != "55006" or time.monotonic() >= deadline:
                raise
        time.sleep(0.25)


def advance(params: PgParams, slot: str, upto_lsn: str) -> None:
    """Commit the watermark: move confirmed_flush_lsn past a processed
    batch (phase two of the peek/advance contract)."""
    with params.connect() as c:
        c.query(
            "select pg_replication_slot_advance"
            f"('{_check_slot(slot)}', '{upto_lsn}')"
        )


def slot_wal_status(params: PgParams, slot: str) -> str | None:
    """``pg_replication_slots.wal_status`` for ``slot`` — 'reserved' /
    'extended' / 'unreserved' / 'lost' (PG 13+), or None when the slot
    does not exist.  'lost' means the server removed WAL the slot
    still needed (``max_slot_wal_keep_size`` overrun): the slot is
    permanently unusable and the consumer must re-bootstrap."""
    with params.connect() as c:
        res = c.query(
            "select wal_status from pg_replication_slots"
            f" where slot_name = '{_check_slot(slot)}'"
        )[0]
    return res.rows[0][0] if res.rows else None


def check_slot_live(params: PgParams, slot: str) -> None:
    """Raise :class:`pgwire.SlotInvalidatedError` if ``slot`` has been
    invalidated — the typed front door callers use after catching a
    generic 55000 from a peek/advance, and the proactive check the
    sharded probe folds into its watermark query."""
    from pgshovel_spark.sources.pgwire import SlotInvalidatedError

    if slot_wal_status(params, slot) == "lost":
        raise SlotInvalidatedError(slot)


def pg_observed_schema(params: PgParams, table: str) -> dict[str, str]:
    """Live schema observation over the wire — a LIMIT 0 probe's
    RowDescription OIDs mapped to Spark simpleStrings, feeding
    ``SchemaDriftMonitor.check_schema`` without a Spark read (the
    JDBC path observes from the DataFrame schema instead; same
    lower-cased {column: type} contract)."""
    if not re.match(r"[A-Za-z_][A-Za-z0-9_.]*\Z", table):
        raise ValueError(f"invalid table name: {table!r}")
    with params.connect() as c:
        probe = c.query(f"select * from {table} limit 0")[0]
    return {
        name.lower(): _OID_SPARK.get(oid, T.StringType()).simpleString()
        for name, oid in zip(probe.columns, probe.type_oids)
    }


# ---------------------------------------------------------------------------
# MVCC-consistent parallel snapshot bootstrap
# ---------------------------------------------------------------------------

@contextmanager
def exported_snapshot(params: PgParams):
    """Hold one REPEATABLE READ transaction open and yield its
    exported snapshot id; the snapshot stays adoptable until the
    context exits, so run every bootstrap action inside the block."""
    holder = params.connect()
    try:
        holder.query("begin isolation level repeatable read")
        snap = holder.one("select pg_export_snapshot()")
        yield snap
    finally:
        try:
            holder.query("commit")
        finally:
            holder.close()


#: OID -> Spark type for the bootstrap schema probe (text decode in
#: pgwire.decode_value produces the matching Python values).
_OID_SPARK = {
    16: T.BooleanType(),
    20: T.LongType(),
    21: T.LongType(),
    23: T.LongType(),
    700: T.DoubleType(),
    701: T.DoubleType(),
    1700: T.DoubleType(),  # numeric: lossy by declaration (PgShovelBatchReader)
    1082: T.DateType(),
    1114: T.TimestampNTZType(),
    1184: T.TimestampType(),
    17: T.BinaryType(),
}
