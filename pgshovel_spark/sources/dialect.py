"""SQL dialect conformance for the JDBC CDC source.

The incremental-pull loop (sources/cdc.py) talks to the upstream
database through exactly three seams:

1. the DDL types the source table declares (what the JDBC driver maps
   into Spark's Catalyst types on read),
2. the watermark literal ``sql_literal`` renders into the pushdown
   ``WHERE cursor > <literal>`` predicate, and
3. the transactional surface used for bootstrap (snapshot export) and
   for the MERGE upsert sink.

A :class:`Dialect` names each seam explicitly so the same conformance
harness runs against every engine we can reach: the Derby matrix runs
LIVE in this sandbox (Derby's embedded engine ships in Spark's own
classpath), and the Postgres matrix is generated from the same
:class:`TypeCase` table — the SQL it emits is asserted well-formed and
the two behavioral deltas that CANNOT be exercised without a live
server are declared machine-readably in ``quirks`` (and prose-documented
in SCALE.md) instead of being silently assumed equal.

pgshovel's capture side is Postgres-only (SURVEY.md §1 [recalled]:
trigger + PgQ on a Postgres primary); this module is how the Spark
re-expression keeps that target honest while testing on the engine the
sandbox actually has.
"""

from __future__ import annotations

import datetime
import decimal
from dataclasses import dataclass, field

from pgshovel_spark.sources.cdc import cursor_subquery, sql_literal


@dataclass(frozen=True)
class TypeCase:
    """One row of a dialect's type-conformance matrix.

    ``samples`` are the Python-side values the harness inserts (via a
    parameterized JDBC PreparedStatement — never literal interpolation,
    so the write path cannot mask literal-rendering bugs on the read
    path) and then expects back, bit-exact, through a Spark
    ``format("jdbc")`` read.
    """

    kind: str  # logical name, stable across dialects
    ddl: str  # dialect column type in CREATE TABLE
    spark_type: str  # expected Catalyst simpleString after read
    samples: tuple  # values round-tripped through insert -> read
    cursor: bool = False  # can this type be a high-watermark cursor?


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


#: The shared logical matrix: every dialect must cover these kinds.
#: Sub-second timestamp precision, exact numerics, and text escaping
#: are the three classes that historically diverge between engines.
LOGICAL_KINDS = (
    "int32",
    "int64",
    "decimal_exact",
    "float64",
    "text",
    "char_padded",
    "timestamp_micros",
    "date",
    "boolean",
)


@dataclass(frozen=True)
class Dialect:
    """Everything dialect-specific the CDC loop touches, in one place."""

    name: str
    driver: str  # JDBC driver class
    url_template: str  # .format(path=...) for embedded engines
    types: tuple  # TypeCase rows, one per LOGICAL_KIND
    #: temporal-literal grammar for sql_literal (found live: Derby's
    #: parser rejects ANSI `TIMESTAMP '...'` typed literals and needs
    #: the function form `TIMESTAMP('...')`)
    literal_style: str = "ansi"
    #: behavioral deltas vs the ANSI core that the harness cannot
    #: verify without a live server of this engine; each entry is
    #: (tag, how the engine differs, how the CDC loop handles it)
    quirks: tuple = field(default=())

    def type_case(self, kind: str) -> TypeCase:
        for t in self.types:
            if t.kind == kind:
                return t
        raise KeyError(f"{self.name} has no type case {kind!r}")

    def ddl(self, table: str, cols: dict[str, str]) -> str:
        """CREATE TABLE text from (col -> logical kind)."""
        body = ", ".join(f"{c} {self.type_case(k).ddl}" for c, k in cols.items())
        return f"CREATE TABLE {table} ({body})"


#: Derby: runs LIVE in-process (tests/test_dialect.py).  Derby
#: timestamps store nanoseconds but Spark reads microseconds — the
#: matrix pins micro-precision samples so the round-trip is exact.
DERBY = Dialect(
    name="derby",
    driver="org.apache.derby.jdbc.EmbeddedDriver",
    url_template="jdbc:derby:{path};create=true",
    literal_style="derby",
    types=(
        TypeCase("int32", "INT", "int", (0, -1, 2147483647), cursor=True),
        TypeCase(
            "int64", "BIGINT", "bigint", (0, -1, 9007199254740993), cursor=True
        ),
        TypeCase(
            "decimal_exact",
            "DECIMAL(20,4)",
            "decimal(20,4)",
            (
                decimal.Decimal("0.0001"),
                decimal.Decimal("-12345.6789"),
                decimal.Decimal("9999999999999999.9999"),
            ),
            cursor=True,
        ),
        TypeCase("float64", "DOUBLE", "double", (0.5, -1.25e300, 3.141592653589793)),
        TypeCase(
            "text",
            "VARCHAR(200)",
            "string",
            ("plain", "O'Brien; DROP TABLE--", "tab\tand 'quoted'"),
            cursor=True,
        ),
        # CHAR pads with spaces on both engines; the read must see the
        # padded form (Spark does not strip it) — a dialect that
        # auto-trims would silently change equality semantics.
        TypeCase("char_padded", "CHAR(8)", "string", ("abc",)),
        TypeCase(
            "timestamp_micros",
            "TIMESTAMP",
            "timestamp",
            (
                _ts("2026-01-01 00:00:00.123456"),
                _ts("1999-12-31 23:59:59.000001"),
            ),
            cursor=True,
        ),
        TypeCase(
            "date",
            "DATE",
            "date",
            (datetime.date(2026, 2, 28), datetime.date(1970, 1, 1)),
            cursor=True,
        ),
        TypeCase("boolean", "BOOLEAN", "boolean", (True, False)),
    ),
    quirks=(
        (
            "no-snapshot-export",
            "Derby has no cross-connection snapshot handle",
            "bootstrap_consistent_state falls back to a single-connection "
            "REPEATABLE READ read (same guarantee, no parallel readers)",
        ),
        (
            "identifier-case",
            "unquoted identifiers fold to UPPERCASE",
            "staging writers alias DataFrame columns uppercase before "
            "emitting unquoted MERGE text (streaming/sinks.py JdbcMergeSink)",
        ),
    ),
)

#: Postgres: the reference's actual capture target.  Same logical
#: matrix; the DDL and the two live-only deltas differ.  Since round
#: 9 this matrix EXECUTES on a live PostgreSQL 15 through the engine's
#: own wire-protocol client (sources/pgwire.py, no driver jar needed):
#: tests/test_pg_live.py round-trips every TypeCase sample through the
#: server's own parser and runs the cursor-pushdown text live.  The
#: one surface that still needs a JDBC jar is Spark's format("jdbc")
#: read path itself (the Derby matrix covers that code live).
POSTGRES = Dialect(
    name="postgres",
    driver="org.postgresql.Driver",
    url_template="jdbc:postgresql://{path}",
    types=(
        TypeCase("int32", "INTEGER", "int", (0, -1, 2147483647), cursor=True),
        TypeCase(
            "int64", "BIGINT", "bigint", (0, -1, 9007199254740993), cursor=True
        ),
        TypeCase(
            "decimal_exact",
            "NUMERIC(20,4)",
            "decimal(20,4)",
            (decimal.Decimal("0.0001"), decimal.Decimal("-12345.6789")),
            cursor=True,
        ),
        TypeCase(
            "float64",
            "DOUBLE PRECISION",
            "double",
            (0.5, -1.25e300, 3.141592653589793),
        ),
        TypeCase(
            "text",
            "TEXT",
            "string",
            ("plain", "O'Brien; DROP TABLE--", "tab\tand 'quoted'"),
            cursor=True,
        ),
        TypeCase("char_padded", "CHAR(8)", "string", ("abc",)),
        # Postgres `timestamp` (no tz) is microsecond-precision — the
        # same wall-clock-naive semantics load_table pins for the
        # parquet fixtures.  `timestamptz` is NOT in the matrix on
        # purpose: Spark reads it as an instant and the watermark
        # comparison would depend on the server TimeZone GUC; the CDC
        # contract requires a zoneless cursor column.
        TypeCase(
            "timestamp_micros",
            "TIMESTAMP",
            "timestamp",
            (
                _ts("2026-01-01 00:00:00.123456"),
                _ts("1999-12-31 23:59:59.000001"),
            ),
            cursor=True,
        ),
        TypeCase(
            "date",
            "DATE",
            "date",
            (datetime.date(2026, 2, 28), datetime.date(1970, 1, 1)),
            cursor=True,
        ),
        TypeCase("boolean", "BOOLEAN", "boolean", (True, False)),
    ),
    quirks=(
        (
            "jsonb",
            "jsonb/json columns surface through JDBC as OTHER; Spark "
            "maps them to string only with stringtype=unspecified on "
            "the connection URL",
            "the envelope parser treats payload columns as JSON text "
            "and applies from_json Spark-side (queries/exprs.py "
            "q_json_extract is the tested path); conformance of the "
            "driver mapping itself needs a live server",
        ),
        (
            "snapshot-export",
            "pg_export_snapshot() lets N parallel bootstrap readers "
            "share one REPEATABLE READ snapshot",
            "cdc.parallel_bootstrap_options(snapshot_id=...) emits the "
            "partitioned-read options whose sessionInitStatement runs "
            "SET TRANSACTION SNAPSHOT on every partition connection; "
            "the per-connection execution guarantee is proven live on "
            "Derby (test_parallel_bootstrap_session_init), and the "
            "snapshot adoption itself runs LIVE on Postgres via the "
            "wire client (the native spark.read.format(\"pgshovel\") "
            "batch source with option snapshot; "
            "tests/test_pg_live.py MVCC bootstrap test)",
        ),
    ),
)

DIALECTS = {d.name: d for d in (DERBY, POSTGRES)}


def conformance_cases(dialect: Dialect):
    """Yield (TypeCase, pushdown subquery for each cursor sample) —
    the exact strings the pull loop would send.  Pure generation, so
    the Postgres matrix is checkable without a server and the Derby
    matrix feeds the live harness."""
    for t in dialect.types:
        subqueries = (
            tuple(
                cursor_subquery("t_conf", "cur", wm, dialect.literal_style)
                for wm in t.samples
            )
            if t.cursor
            else ()
        )
        yield t, subqueries


def literal_roundtrip_sql(dialect: Dialect, value) -> str:
    """SELECT comparing the rendered literal against a bound column —
    executed on live engines to prove sql_literal() parses AND equals
    the value the driver bound (rendering bugs that parse but compare
    unequal — e.g. second-truncated timestamps — fail here)."""
    return (
        "SELECT COUNT(*) FROM t_conf WHERE cur = "
        f"{sql_literal(value, dialect.literal_style)}"
    )
