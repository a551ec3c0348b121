"""Binary ``pgoutput`` logical decoding — the engine's one capture
plugin, live.

Every real Postgres deployment (built-in logical replication,
Debezium, AWS DMS) speaks ``pgoutput``: the binary message set (Begin /
Relation / Insert / Update / Delete / Commit ...) defined by the
public "Logical Streaming Replication Protocol" chapter of the
PostgreSQL documentation, scoped by a PUBLICATION.  This module
implements that decoder and BOTH transports, all in protocol v1:
every transaction arrives whole, Begin..Commit, in commit order.  The
v2 streamed-transaction frames (StreamStart/Stop/Commit/Abort) and
the PG16 ``origin`` filter are not spoken; an ``O`` (Origin) frame of
a replicated transaction is parsed and its rows are kept.

- ``raw_slot_changes_pgoutput``: the SQL-level transport
  (``pg_logical_slot_peek_binary_changes``; the watermark moves only
  on ``pglogical.advance``) — raw ``(lsn, xid, payload)`` frames that
  ``parse_pgoutput`` turns into change dicts.  The native streaming
  source (pgdatasource.py) is the consumer: it slices parsed changes
  by (commit_lsn, idx) position and builds the CHANGE_SCHEMA envelope
  every downstream consumer (latest state, stateful dedup, executed
  MERGE sinks, the 2PC upsert sink) runs on.
- ``PgReplicationConnection`` + ``ReplicationStream``: the real
  walsender transport — a ``replication=database`` startup, ``START_
  REPLICATION SLOT ... LOGICAL`` into CopyBoth mode, XLogData /
  keepalive framing, and Standby Status Update feedback (the
  flush-LSN confirmation a production consumer sends).  It creates
  slots with an exported snapshot (``exported_slot_snapshot``, the
  bootstrap->stream handoff); the stream reader itself peeks.

Decoder semantics:

- values travel as their TEXT renderings (v1 tuples are text-format;
  typed projection stays the consumer's job),
- the ``key`` map is populated from the Relation message's own
  key-column flags — pgoutput ships the replica identity, so no
  caller-provided key map is needed,
- unchanged TOAST columns render as the ``unchanged-toast-datum``
  sentinel.

Scale posture: a slot is SERIAL by design (WAL commit order IS the
contract), so decode is a control-plane read; executor fan-out
happens per slot (the stream reader's one input partition per slot)
or after the source hands rows to Spark.  Relation metadata is a
tiny per-stream dict (pgoutput re-sends a Relation message whenever
the schema changes, which is also how live drift surfaces
mid-stream).
"""

from __future__ import annotations

import datetime
import struct

from pgshovel_spark.sources.pgwire import PgConnection, PgParams

__all__ = [
    "parse_pgoutput",
    "create_slot_pgoutput",
    "exported_slot_snapshot",
    "create_publication",
    "backlog_plan_pgoutput",
    "giant_commit_plan",
    "chunk_slot_changes_pgoutput",
    "PgReplicationConnection",
    "ReplicationStream",
    "lsn_to_int",
    "lsn_to_str",
]

#: PostgreSQL timestamps count microseconds from 2000-01-01 UTC.
_PG_EPOCH = datetime.datetime(2000, 1, 1, tzinfo=datetime.timezone.utc)

#: placeholder value for an unchanged TOAST column ('u' in TupleData):
#: the server did not send the datum, so the text rendering in-core
#: logical decoding uses for it stands in.
_TOAST_SENTINEL = "unchanged-toast-datum"


def lsn_to_int(lsn: str) -> int:
    hi, lo = lsn.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def lsn_to_str(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def _pg_ts(micros: int) -> datetime.datetime:
    return _PG_EPOCH + datetime.timedelta(microseconds=micros)


def _check_publication(name: str) -> str:
    """Shared publication-name guard (the _check_slot pattern) — the
    name is spliced into replication-command SQL on both transports."""
    import re

    if not re.match(r"[a-z0-9_]+\Z", name):
        raise ValueError(f"invalid publication name: {name!r}")
    return name


class _Reader:
    """Cursor over one pgoutput message body with declared-length
    checks — a truncated or oversized field raises a descriptive
    ValueError instead of a bare struct/IndexError."""

    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.b):
            raise ValueError(
                f"truncated pgoutput message: need {n} bytes at offset "
                f"{self.pos}, have {len(self.b) - self.pos}"
            )
        out = self.b[self.pos : self.pos + n]
        self.pos += n
        return out

    def u8(self) -> int:
        return self.take(1)[0]

    def i16(self) -> int:
        return struct.unpack("!h", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack("!i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack("!q", self.take(8))[0]

    def cstr(self) -> str:
        end = self.b.find(b"\x00", self.pos)
        if end == -1:
            raise ValueError(
                f"unterminated string in pgoutput message at offset {self.pos}"
            )
        out = self.b[self.pos : end].decode("utf-8")
        self.pos = end + 1
        return out


class _Relation:
    """Schema snapshot from one Relation ('R') message."""

    __slots__ = ("name", "columns", "key_columns")

    def __init__(self, name: str, columns: list[str], key_columns: list[str]):
        self.name = name
        self.columns = columns
        self.key_columns = key_columns


def _read_tuple(r: _Reader, rel: _Relation) -> dict[str, str | None]:
    """TupleData -> {column: text|None}; proto v1 is text-format only
    ('t'), plus 'n' NULL and 'u' unchanged-TOAST markers."""
    ncols = r.i16()
    if ncols != len(rel.columns):
        raise ValueError(
            f"pgoutput tuple for {rel.name} has {ncols} columns, relation "
            f"message declared {len(rel.columns)}"
        )
    out: dict[str, str | None] = {}
    for name in rel.columns:
        kind = r.take(1)
        if kind == b"n":
            out[name] = None
        elif kind == b"u":
            out[name] = _TOAST_SENTINEL
        elif kind in (b"t", b"b"):
            ln = r.i32()
            data = r.take(ln)
            out[name] = (
                data.decode("utf-8") if kind == b"t" else "\\x" + data.hex()
            )
        else:
            raise ValueError(f"unknown pgoutput tuple column kind {kind!r}")
    return out


def parse_pgoutput(
    messages: list[tuple[str, int, bytes]],
    relations: dict[int, _Relation] | None = None,
) -> list[dict]:
    """Decode raw protocol-v1 ``(lsn, xid, payload)`` pgoutput messages
    (from the binary slot functions or walsender XLogData) into change
    dicts (op/table/key/before/after/txid/ts/lsn/commit_lsn) — the
    input ``pgdatasource._slice_changes`` turns into CHANGE_SCHEMA rows.

    ``relations`` carries Relation metadata across calls for a
    LONG-LIVED stream (walsender); pass a dict to persist it.  The
    SQL-function transport re-decodes from the slot's restart point,
    so each batch is self-contained and the default fresh dict works.

    Protocol v1 only: every transaction arrives whole at its commit,
    Begin..Commit.  A v2 streamed-transaction frame (StreamStart/Stop/
    Commit/Abort) fails as an unknown message kind.
    """
    rels = relations if relations is not None else {}
    changes: list[dict] = []
    txn: list[dict] = []
    commit_ts: datetime.datetime | None = None
    begin_xid = 0  # from the Begin message: the walsender transport
    # carries no per-message xid (unlike the slot functions), so
    # changes fall back to it when the transport xid is 0
    for lsn, xid, payload in messages:
        if not payload:
            raise ValueError("empty pgoutput message")
        r = _Reader(payload)
        kind = chr(r.u8())
        if kind == "B":  # Begin: final_lsn, commit_ts, xid
            r.i64()
            commit_ts = _pg_ts(r.i64())
            begin_xid = r.i32()
            txn = []
        elif kind == "C":  # Commit: flags, commit_lsn, end_lsn, ts
            # Stamp the Commit frame's own lsn: the only position
            # monotone across transactions (decoding emits in COMMIT
            # order; change lsns interleave) — the offset key the
            # native streaming source (pgdatasource.py) tracks.
            for ch in txn:
                ch["commit_lsn"] = lsn
            changes.extend(txn)
            txn = []
            commit_ts = None
        elif kind == "R":  # Relation
            oid = r.i32()
            ns = r.cstr()
            name = r.cstr()
            r.u8()  # replica identity setting
            ncols = r.i16()
            cols: list[str] = []
            keys: list[str] = []
            for _ in range(ncols):
                flags = r.u8()
                cname = r.cstr()
                r.i32()  # type oid
                r.i32()  # typmod
                cols.append(cname)
                if flags & 1:
                    keys.append(cname)
            full = f"{ns}.{name}" if ns not in ("", "pg_catalog") else name
            rels[oid] = _Relation(full, cols, keys)
        # Y/O/M carry no row data but are STILL PARSED field-by-field:
        # accepting a truncated/corrupt frame silently would let a
        # framing desync masquerade as "metadata we don't care about"
        # and surface rows later as inexplicable decode garbage — the
        # same fail-loudly rule the DML kinds follow (fuzz-pinned in
        # test_pgoutput_decoder_malformed_metadata).
        elif kind == "Y":  # Type metadata: oid, namespace, name
            r.i32()
            r.cstr()
            r.cstr()
        elif kind == "O":  # Origin of a replicated txn: lsn, name
            r.i64()
            r.cstr()
        elif kind == "M":  # Message: flags, lsn, prefix, length, body
            r.u8()
            r.i64()
            r.cstr()
            n = r.i32()
            if n < 0:
                raise ValueError(
                    f"negative pgoutput Message content length {n}"
                )
            r.take(n)
        elif kind in ("I", "U", "D"):
            oid = r.i32()
            if oid not in rels:
                raise ValueError(
                    f"pgoutput {kind} for relation {oid} before its "
                    "Relation message (stale relations dict?)"
                )
            rel = rels[oid]
            before: dict[str, str | None] | None = None
            after: dict[str, str | None] | None = None
            # A 'K' old tuple is KEY-ONLY: non-key columns arrive as
            # placeholder NULLs (the values were not sent), so keeping
            # them would misreport "column was NULL" — restrict to the
            # key columns.  'O' (REPLICA IDENTITY FULL) keeps everything.
            if kind == "I":
                tag = r.take(1)
                if tag != b"N":
                    raise ValueError(f"INSERT tuple tag {tag!r}, expected b'N'")
                after = _read_tuple(r, rel)
            elif kind == "U":
                tag = r.take(1)
                if tag in (b"K", b"O"):
                    before = _read_tuple(r, rel)
                    if tag == b"K":
                        before = {
                            k: v for k, v in before.items() if k in rel.key_columns
                        }
                    tag = r.take(1)
                if tag != b"N":
                    raise ValueError(f"UPDATE new-tuple tag {tag!r}, expected b'N'")
                after = _read_tuple(r, rel)
            else:  # D
                tag = r.take(1)
                if tag not in (b"K", b"O"):
                    raise ValueError(f"DELETE tuple tag {tag!r}, expected K/O")
                before = _read_tuple(r, rel)
                if tag == b"K":
                    before = {
                        k: v for k, v in before.items() if k in rel.key_columns
                    }
            src = after if after is not None else (before or {})
            key = {k: src.get(k) for k in rel.key_columns if k in src}
            txn.append(
                {
                    "op": {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}[kind],
                    "table": rel.name,
                    "key": key or None,
                    "before": before,
                    "after": after,
                    "txid": xid or begin_xid,
                    "ts": commit_ts,
                    "lsn": lsn,
                }
            )
        elif kind == "T":  # Truncate: nrels, options, oids
            nrels = r.i32()
            r.u8()
            for _ in range(nrels):
                oid = r.i32()
                rel = rels.get(oid)
                txn.append(
                    {
                        "op": "TRUNCATE",
                        "table": rel.name if rel else f"oid:{oid}",
                        "key": None,
                        "before": None,
                        "after": None,
                        "txid": xid or begin_xid,
                        "ts": commit_ts,
                        "lsn": lsn,
                    }
                )
        else:
            raise ValueError(f"unknown pgoutput message kind {kind!r}")
    return changes


# ---------------------------------------------------------------------------
# SQL-function transport (peek/advance micro-batches)
# ---------------------------------------------------------------------------


def create_slot_pgoutput(params: PgParams, slot: str) -> str:
    """Create a logical slot on the ``pgoutput`` plugin; returns the
    consistent-point LSN."""
    from pgshovel_spark.sources.pglogical import _check_slot

    with params.connect() as c:
        row = c.query(
            "select lsn from pg_create_logical_replication_slot"
            f"('{_check_slot(slot)}', 'pgoutput')"
        )[0]
        return row.rows[0][0]


def exported_slot_snapshot(params: PgParams, slot: str):
    """ATOMIC bootstrap->stream handoff: create the pgoutput slot via
    the walsender's ``CREATE_REPLICATION_SLOT ... LOGICAL pgoutput
    (SNAPSHOT 'export')`` and yield ``(consistent_point, snapshot_id)``
    as a context manager.

    This is the one operation the SQL-level
    ``pg_create_logical_replication_slot`` cannot express: the slot's
    decoding start point and an exported MVCC snapshot of EXACTLY that
    point, established in one step.  A batch bootstrap that adopts the
    snapshot (``SET TRANSACTION SNAPSHOT``, e.g. the native batch
    source's ``snapshot`` option) sees precisely the transactions
    committed before the consistent point, and the slot streams
    precisely the transactions committed after it — zero gap, zero
    overlap, no reliance on sink idempotence to absorb a boundary
    window.  This is day one of every production CDC deployment
    (pgshovel's bootstrap-then-tail contract `[recalled: SURVEY.md
    §1.1 snapshot bootstrap]`, same shape as Debezium's initial
    snapshot).

    The exported snapshot lives only while the creating walsender
    session stays open AND idle (its next command discards it — the
    documented server behavior), so the context holds the replication
    connection for the bootstrap's whole duration and closes it on
    exit; start the stream from the yielded consistent point (a fresh
    slot's confirmed_flush_lsn IS the consistent point, so the native
    streaming source needs no extra positioning).
    """
    from contextlib import contextmanager

    from pgshovel_spark.sources.pglogical import _check_slot

    @contextmanager
    def _ctx():
        conn = PgReplicationConnection(params)
        try:
            res = conn.query(
                f"CREATE_REPLICATION_SLOT {_check_slot(slot)} LOGICAL "
                "pgoutput (SNAPSHOT 'export')"
            )[0]
            # (slot_name, consistent_point, snapshot_name, output_plugin)
            _name, consistent_point, snapshot_id, _plug = res.rows[0]
            yield consistent_point, snapshot_id
        finally:
            conn.close()

    return _ctx()


def create_publication(
    params: PgParams,
    name: str,
    tables: list[str],
    where: dict[str, str] | None = None,
    columns: dict[str, list[str]] | None = None,
) -> None:
    """CREATE PUBLICATION scoped to ``tables`` — pgoutput only decodes
    changes for published relations (the reference relay's per-set
    table scoping, expressed in the database's own catalog).

    ``where`` maps table -> row-filter predicate (PG 15 publication
    ``WHERE`` clauses): the server evaluates the predicate INSIDE the
    walsender, so a 100-TB consumer prunes rows before a byte leaves
    the database instead of filtering in Spark.  UPDATEs whose old/new
    images straddle the filter are republished as DELETE (left the
    filtered set) or INSERT (entered it) — the documented server
    transformation that keeps the stream consistent with "the table,
    filtered" (live-pinned in test_pg_live.py).  The predicate is
    CALLER-TRUSTED SQL over the table's columns (replica-identity
    columns only, for UPDATE/DELETE — the server enforces this);
    ``_check_row_filter`` rejects multi-statement splicing (';',
    comments, unbalanced parentheses, top-level commas that would
    splice extra table specs into the CREATE PUBLICATION statement),
    not arbitrary hostile SQL — the caller already controls the table
    list and runs with the connection's own privileges.

    ``columns`` maps table -> column list (PG 15 column lists): the
    Relation message then declares exactly that subset and the decoder
    emits tuples with only those columns — server-side projection.
    Replica-identity columns must be included (server-enforced)."""
    import re

    _check_publication(name)
    parts = []
    for t in tables:
        if not re.match(r"[A-Za-z_][A-Za-z0-9_.]*\Z", t):
            raise ValueError(f"invalid table name: {t!r}")
        spec = t
        cols = (columns or {}).get(t)
        if cols:
            spec += " (" + ", ".join(_check_ident_pub(c) for c in cols) + ")"
        pred = (where or {}).get(t)
        if pred:
            spec += f" where ({_check_row_filter(pred)})"
        parts.append(spec)
    with params.connect() as c:
        c.query(f"create publication {name} for table {', '.join(parts)}")


def _check_row_filter(pred: str) -> str:
    """Splice guard for a publication row-filter predicate.  The
    predicate is interpolated inside ``where ( ... )`` of ONE
    ``CREATE PUBLICATION`` statement, so the constructions that could
    escape that context are rejected: statement separators and
    comments anywhere, plus — scanned OUTSIDE single-quoted string
    literals ('' is the escape) — unbalanced parentheses (a closing
    paren would end the ``where (...)`` group early) and top-level
    commas (``true)), other_tbl where ((true`` would splice an extra
    table spec).  Legitimate predicates with commas/parens INSIDE
    function calls (``v in (1, 2)``, ``coalesce(a, b) > 0``) or
    string literals pass.  This is a splice guard, not an
    authorization boundary — the predicate runs with the caller's own
    connection privileges either way."""
    for bad in (";", "--", "/*", "*/"):
        if bad in pred:
            raise ValueError(
                f"invalid row-filter predicate (contains {bad!r}): {pred!r}"
            )
    depth = 0
    in_str = False
    i = 0
    while i < len(pred):
        ch = pred[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(pred) and pred[i + 1] == "'":
                    i += 2  # '' escape
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(
                    f"invalid row-filter predicate (unbalanced ')'): {pred!r}"
                )
        elif ch == "," and depth == 0:
            raise ValueError(
                f"invalid row-filter predicate (top-level ','): {pred!r}"
            )
        i += 1
    if depth != 0 or in_str:
        raise ValueError(
            f"invalid row-filter predicate (unbalanced paren/quote): {pred!r}"
        )
    return pred


def _check_ident_pub(name: str) -> str:
    import re

    if not re.match(r"[A-Za-z_][A-Za-z0-9_]*\Z", name):
        raise ValueError(f"invalid column name: {name!r}")
    return name


def raw_slot_changes_pgoutput(
    params: PgParams,
    slot: str,
    publication: str,
    limit: int | None = None,
) -> list[tuple[str, int, bytes]]:
    """Raw protocol-v1 ``(lsn, xid, payload)`` rows from a
    non-destructive binary slot peek (the watermark moves only on
    ``pglogical.advance``), used by the native streaming source
    (pgdatasource.py) and ``cdc peek``.  ``limit`` is the server's
    ``upto_nchanges``: it counts raw frames (Begin/Relation/Commit
    included, not changes), and a v1 transaction's frames are all
    emitted at its commit record, so a bounded peek still ends on a
    transaction boundary."""
    from pgshovel_spark.sources.pglogical import _check_slot

    _check_publication(publication)
    bound = "null" if limit is None else str(int(limit))
    with params.connect() as c:
        res = c.query(
            "select lsn::text, xid::text, data"
            " from pg_logical_slot_peek_binary_changes"
            f"('{_check_slot(slot)}', null, {bound}, 'proto_version', '1',"
            f" 'publication_names', '{publication}')"
        )[0]
    return [(lsn, int(xid), data) for lsn, xid, data in res.rows]


#: the CTE scaffolding shared by the aggregated probes: peeked binary
#: frames with ordinality -> per-frame commit-group index -> per-frame
#: change count.  Counting mirrors ``parse_pgoutput`` exactly: one
#: change per Insert/Update/Delete message, one per truncated relation
#: in a Truncate message (nrels, big-endian at bytes 1..4); Begin/
#: Commit/Relation/Origin/Type/Message frames are free.  A change's
#: commit lsn is its transaction's Commit frame: rows are grouped to
#: their closing commit via a running commit-frame count (decoding
#: emits whole transactions in commit order, so the group of a change
#: is closed by the next 'C' frame), as in protocol v1.
_PROBE_CTES = """
with raw as (
  select t.lsn, get_byte(t.data, 0) as k, t.data, t.rn
  from pg_logical_slot_peek_binary_changes('{slot}', null,
       {bound}, 'proto_version', '1', 'publication_names', '{pub}')
       with ordinality as t(lsn, xid, data, rn)
),
cg as (
  select raw.*, coalesce(sum(case when k = 67 then 1 else 0 end) over
      (order by rn rows between unbounded preceding and 1 preceding), 0)
      as grp
  from raw
),
commits as (select grp, lsn as clsn, rn as crn from cg where k = 67),
live as (
  select cg.grp, cg.k, cg.rn, commits.clsn, commits.crn,
         case when cg.k in (73, 85, 68) then 1
              when cg.k = 84 then (get_byte(cg.data, 1) << 24)
                | (get_byte(cg.data, 2) << 16)
                | (get_byte(cg.data, 3) << 8)
                | get_byte(cg.data, 4)
              else 0 end as nch
  from cg join commits on cg.grp = commits.grp
  where commits.clsn > '{after_lsn}'::pg_lsn
)
"""


def backlog_plan_pgoutput(
    params: PgParams,
    slot: str,
    publication: str,
    after_lsn: str = "0/0",
    limit: int | None = None,
    budget: int | None = None,
) -> dict:
    """Batch-planning probe for the sharded stream reader: ONE
    aggregated server-side pass over the slot backlog (commits
    strictly after ``after_lsn``), no change bytes shipped.  Returns::

        {"n": <changes in the planned prefix>,
         "last_clsn": <commit lsn closing the prefix, or None>,
         "first_count": <change count of the FIRST commit group>,
         "first_clsn": <its commit lsn, or None>}

    The planned prefix is the longest run of complete commit groups
    whose cumulative change count stays within ``budget`` (all of the
    window when ``budget`` is None) — ``max_changes`` becomes a real
    per-batch bound instead of a peek-window hint.  A FIRST group
    alone exceeding the budget yields ``n == 0`` with ``first_count >
    budget``: the caller's signal to switch to intra-commit chunking
    (:func:`giant_commit_plan`).  Counting parity with
    ``parse_pgoutput`` as in ``_PROBE_CTES``."""
    import re

    from pgshovel_spark.sources.pglogical import _check_slot

    _check_publication(publication)
    if not re.match(r"[0-9A-Fa-f]+/[0-9A-Fa-f]+\Z", after_lsn):
        raise ValueError(f"invalid LSN: {after_lsn!r}")
    bound = "null" if limit is None else str(int(limit))
    cap = str(int(budget)) if budget is not None else "9223372036854775807"
    ctes = _PROBE_CTES.format(
        slot=_check_slot(slot), pub=publication, bound=bound,
        after_lsn=after_lsn,
    )
    sql = ctes + f""",
g as (select grp, clsn, sum(nch) as gn from live group by grp, clsn),
gc as (select grp, clsn, gn, sum(gn) over (order by grp) as cum from g)
select
  coalesce((select max(cum) from gc where cum <= {cap}), 0)::bigint as n,
  (select clsn from gc where cum <= {cap} order by grp desc limit 1)::text
    as last_clsn,
  coalesce((select gn from gc order by grp limit 1), 0)::bigint
    as first_count,
  (select clsn from gc order by grp limit 1)::text as first_clsn,
  (select count(*) from raw)::bigint as frames,
  exists(select 1 from gc where cum > {cap}) as cut
"""
    with params.connect() as c:
        row = c.query(sql)[0].rows[0]
    return {
        "n": int(row[0]),
        "last_clsn": row[1],
        "first_count": int(row[2]),
        "first_clsn": row[3],
        # total raw frames in the peek window: a FULL window with no
        # live commit means the window was consumed by the
        # delivered-but-not-yet-advanced prefix (the slot only
        # advances on Spark's lagging commit) — the caller's signal
        # to widen the window, NOT an idle shard
        "frames": int(row[4]),
        # a live commit in the window lies past the planned prefix:
        # the budget, not the window, ended the plan
        "cut": bool(row[5]),
    }


def giant_commit_plan(
    params: PgParams,
    slot: str,
    publication: str,
    after_lsn: str = "0/0",
    budget: int = 1 << 20,
) -> dict | None:
    """Chunk plan for a transaction too large for one batch: ONE
    aggregated server-side pass over the FIRST live commit group
    (``upto_nchanges = 1`` — the peek's row bound is only checked
    after each complete transaction, so the first committed
    transaction always decodes whole and decoding stops right after
    it).  Returns::

        {"clsn": <the commit's lsn (str)>, "crn": <its frame
         ordinal>, "total": <its change count>, "bounds":
         [(cum_changes, frame_rn), ...]}

    where ``bounds`` marks, for each ``budget``-sized bucket of the
    cumulative change count, the LAST change-bearing frame in that
    bucket — the batch end positions intra-commit chunking uses.  A
    single frame carrying many changes (a TRUNCATE of many relations)
    simply lands its whole jump in one bucket; buckets it skips have
    no entry, so chunk sizes are "about ``budget``", never a split
    frame.  Frame ordinals (``rn``) are 1-based positions in the peek
    stream, stable for the episode because the slot is NOT advanced
    until the commit is fully delivered (deterministic re-decode from
    ``confirmed_flush_lsn``).  Returns None when no live commit
    exists."""
    import re

    from pgshovel_spark.sources.pglogical import _check_slot

    _check_publication(publication)
    if not re.match(r"[0-9A-Fa-f]+/[0-9A-Fa-f]+\Z", after_lsn):
        raise ValueError(f"invalid LSN: {after_lsn!r}")
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")

    def attempt(bound: int) -> tuple[list, int]:
        ctes = _PROBE_CTES.format(
            slot=_check_slot(slot), pub=publication, bound=str(bound),
            after_lsn=after_lsn,
        )
        sql = ctes + f""",
c1 as (select grp, clsn, crn from live group by grp, clsn, crn
       order by grp limit 1),
f as (
  select live.rn, live.nch from live, c1
  where live.grp = c1.grp and live.nch > 0
),
cum as (select rn, sum(nch) over (order by rn) as cum from f)
select c1.clsn::text, c1.crn::bigint, b.bcum, b.brn,
       (select count(*) from raw)::bigint as frames
from c1, (select (cum - 1) / {int(budget)} as bucket,
                 max(cum)::bigint as bcum, max(rn)::bigint as brn
          from cum group by 1) b
order by b.bcum
"""
        with params.connect() as c:
            res = c.query(sql)[0].rows
        if res:
            return res, int(res[0][4])
        # no live commit in the window: frames via a cheap count-only
        # pass to distinguish idle from a prefix-consumed window
        cnt = ctes + "select count(*)::bigint from raw"
        with params.connect() as c:
            return [], int(c.query(cnt)[0].rows[0][0])

    # window escalation: the peek's row bound counts ALL frames from
    # confirmed_flush, and the delivered-but-not-yet-advanced prefix
    # (Spark's commit lags the reported frontier by one batch) may
    # consume the whole window before the first LIVE commit appears —
    # a full window with no live commit means "look further", not
    # "nothing there"
    bound = max(budget, 1024)
    for _ in range(10):
        rows, frames = attempt(bound)
        if rows or frames < bound:
            break
        bound *= 4
    if not rows:
        return None
    clsn, crn = rows[0][0], int(rows[0][1])
    bounds = [(int(r[2]), int(r[3])) for r in rows]
    return {
        "clsn": clsn,
        "crn": crn,
        "total": bounds[-1][0],
        "bounds": bounds,
    }


def chunk_slot_changes_pgoutput(
    params: PgParams,
    slot: str,
    publication: str,
    start_rn: int,
    end_rn: int,
    bound: int | None = None,
) -> list[tuple[str, int, bytes]]:
    """Raw frames for ONE chunk of a giant committed transaction:
    frame ordinals in ``(start_rn, end_rn]`` plus every Begin (0x42)
    and Relation (0x52) frame at or below ``end_rn`` — the schema/
    timestamp context a mid-transaction window needs to decode (the
    peek stream opens with the transaction's B and R frames, which
    earlier chunks consumed).  ``bound`` is the peek's
    ``upto_nchanges``: the caller passes the window's own end ordinal
    (or, for the final chunk, the last consumed ordinal + 1), which
    stops the server decode right after the transaction completes —
    only the window's bytes cross the wire, so executor memory is
    bounded by the chunk, not the transaction."""
    from pgshovel_spark.sources.pglogical import _check_slot

    _check_publication(publication)
    b = "null" if bound is None else str(int(bound))
    sql = (
        "select t.lsn, t.xid::text, t.data"
        " from pg_logical_slot_peek_binary_changes"
        f"('{_check_slot(slot)}', null, {b}, 'proto_version', '1',"
        f" 'publication_names', '{publication}')"
        " with ordinality as t(lsn, xid, data, rn)"
        f" where (t.rn > {int(start_rn)} and t.rn <= {int(end_rn)})"
        f" or (get_byte(t.data, 0) in (66, 82) and t.rn <= {int(end_rn)})"
        " order by t.rn"
    )
    with params.connect() as c:
        res = c.query(sql)[0]
    return [(lsn, int(xid), data) for lsn, xid, data in res.rows]


# ---------------------------------------------------------------------------
# walsender transport (START_REPLICATION / CopyBoth)
# ---------------------------------------------------------------------------


class PgReplicationConnection(PgConnection):
    """A wire connection in ``replication=database`` mode — the
    walsender accepts the replication grammar (IDENTIFY_SYSTEM,
    CREATE_REPLICATION_SLOT, START_REPLICATION) over the simple-query
    protocol, then switches to CopyBoth streaming."""

    def __init__(self, params: PgParams):
        super().__init__(params, extra_startup=(("replication", "database"),))

    def identify_system(self):
        """(systemid, timeline, xlogpos, dbname) from the walsender."""
        res = self.query("IDENTIFY_SYSTEM")[0]
        return res.rows[0]

    def start_replication(
        self,
        slot: str,
        publication: str,
        start_lsn: str = "0/0",
    ) -> "ReplicationStream":
        """Enter CopyBoth mode streaming ``slot`` through pgoutput
        protocol v1."""
        import re

        from pgshovel_spark.sources.pglogical import _check_slot

        _check_publication(publication)
        if not re.match(r"[0-9A-Fa-f]+/[0-9A-Fa-f]+\Z", start_lsn):
            raise ValueError(f"invalid LSN: {start_lsn!r}")
        sql = (
            f"START_REPLICATION SLOT {_check_slot(slot)} LOGICAL {start_lsn}"
            f" (proto_version '1', publication_names '{publication}')"
        )
        body = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        # expect CopyBothResponse (errors surface before the switch)
        while True:
            kind, payload = self._recv_msg()
            if kind == b"W":
                return ReplicationStream(self)
            if kind == b"E":
                err = self._error_fields(payload)
                self._drain_until_ready()
                from pgshovel_spark.sources.pgwire import PgError

                raise PgError(err)
            if kind in (b"N", b"S", b"K"):
                continue
            raise ValueError(
                f"unexpected message {kind!r} awaiting CopyBothResponse"
            )


class ReplicationStream:
    """The CopyBoth half of a walsender session: XLogData framing in,
    Standby Status Update feedback out.

    ``read(...)`` accumulates raw pgoutput payloads until the end of a
    transaction (Commit seen) or the deadline; a deadline that lands
    MID-TRANSACTION stashes the already-received messages as a pending
    tail, and the next ``read`` resumes from it — on a live stream the
    server never resends those frames, so dropping them would lose the
    transaction's head silently.  Keepalives are answered inline when
    the server requests a reply, reporting only the LAST
    CALLER-CONFIRMED flush position (``send_status``), never the raw
    receive position — confirming received-but-unlanded WAL would let
    a crash skip it forever (the at-least-once contract,
    pglogical.advance's walsender analog)."""

    def __init__(self, conn: PgReplicationConnection):
        self._conn = conn
        self._done = False
        self.wal_end = 0  # highest server-reported end LSN (telemetry)
        self.flush_lsn = 0  # last position the CALLER confirmed durable
        self._pending: list[tuple[str, int, bytes]] = []  # open-txn tail
        self.relations: dict = {}  # stream-lifetime Relation metadata

    def read(self, max_seconds: float = 5.0, relations=None) -> list[dict]:
        """Read until a Commit message closes a transaction (returning
        its changes) or the deadline passes (returning [] — any open
        transaction's frames are kept pending for the next call)."""
        import time

        conn = self._conn
        deadline = time.time() + max_seconds
        batch = self._pending
        self._pending = []
        rels = relations if relations is not None else self.relations
        while time.time() < deadline:
            try:
                kind, payload = conn._recv_msg(
                    header_timeout=max(0.05, deadline - time.time())
                )
            except TimeoutError:
                break
            if kind == b"d":  # CopyData
                tag = payload[:1]
                if tag == b"w":  # XLogData: start, end, clock, body
                    start, end, _clock = struct.unpack("!qqq", payload[1:25])
                    self.wal_end = max(self.wal_end, end)
                    batch.append((lsn_to_str(start), 0, payload[25:]))
                    if payload[25:26] == b"C":  # Commit closes a txn
                        return parse_pgoutput(batch, rels)
                elif tag == b"k":  # keepalive: end, clock, reply?
                    end, _clock, reply = struct.unpack("!qqB", payload[1:18])
                    self.wal_end = max(self.wal_end, end)
                    if reply:
                        self._send_status_raw(self.flush_lsn)
            elif kind == b"E":
                from pgshovel_spark.sources.pgwire import PgError

                raise PgError(conn._error_fields(payload))
            elif kind in (b"N", b"S"):
                continue
            elif kind == b"c":  # server CopyDone
                self._done = True
                break
        # deadline or CopyDone with an open (uncommitted) tail: keep
        # it for the next read — transactions stay atomic AND lossless
        self._pending = batch
        return []

    def send_status(self, flush_lsn: int) -> None:
        """Standby Status Update: confirm written/flushed/applied up
        to ``flush_lsn`` (an int LSN) — moves confirmed_flush_lsn on
        the server, the durable watermark.  Call ONLY after the batch
        is durable downstream; keepalive auto-replies reuse this
        position until the caller advances it."""
        self.flush_lsn = max(self.flush_lsn, flush_lsn)
        self._send_status_raw(self.flush_lsn)

    def _send_status_raw(self, flush_lsn: int) -> None:
        now = int(
            (datetime.datetime.now(datetime.timezone.utc) - _PG_EPOCH)
            / datetime.timedelta(microseconds=1)
        )
        body = b"r" + struct.pack(
            "!qqqqB", flush_lsn, flush_lsn, flush_lsn, now, 0
        )
        self._conn._sock.sendall(
            b"d" + struct.pack("!i", len(body) + 4) + body
        )

    def stop(self) -> None:
        """Leave CopyBoth mode: send CopyDone, drain to ReadyForQuery
        so the connection is reusable for further replication
        commands."""
        if self._done:
            return
        conn = self._conn
        try:
            conn._sock.sendall(b"c" + struct.pack("!i", 4))
            conn._sock.settimeout(10.0)
            while True:
                kind, _payload = conn._recv_msg()
                if kind == b"Z":
                    break
        except (TimeoutError, OSError):
            pass  # dead session: nothing to hand back gracefully
        finally:
            try:
                conn._sock.settimeout(None)
            except OSError:
                pass
            self._done = True
