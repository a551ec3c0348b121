"""Pure-Python PostgreSQL wire-protocol v3 client + scratch-server
manager — the engine's native path to a LIVE Postgres.

pgshovel is Postgres-native: capture, snapshot bootstrap, and
administration all speak to a live cluster (reconstructed from public
knowledge; SURVEY.md §2.A).  This container ships a full PostgreSQL 15
server but neither psycopg2 nor a JDBC driver jar, so the engine
carries its own minimal client: the v3 message flow over a UNIX
socket — startup + trust auth, the simple-query protocol, text-format
results — is a few hundred lines of public-spec framing (PostgreSQL
documentation, "Frontend/Backend Protocol"; the format has been wire
stable since 7.4).

Design constraints that matter at scale:

- picklable connection PARAMS (``PgParams``: socket dir, database,
  user), never a live socket: executors open their own connection per
  partition (``PgShovelBatchReader`` in pgdatasource.py), exactly how
  a partitioned JDBC read behaves on a cluster.
- text format everywhere, decoded by type OID into Python values that
  Arrow infers losslessly (int, float, Decimal, datetime, date, bool,
  bytes).  Binary format would save parse cost but puts endianness
  and per-type format variance on the hot path for no win at the row
  volumes a control plane moves; bulk data belongs to the parallel
  snapshot path, which amortizes text parsing across executors.
- the SIMPLE query protocol (one round trip, multiple statements and
  result sets per call) rather than the extended protocol: no
  prepared-statement state to leak across uses, and every
  capture/admin statement the engine issues is one-shot SQL rendered
  through sql_literal (sources/cdc.py) anyway.
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil
import socket
import struct
import subprocess
import time
import uuid
from dataclasses import dataclass, field

__all__ = [
    "PgError",
    "PgUnavailable",
    "SlotInvalidatedError",
    "PgParams",
    "PgConnection",
    "PgResult",
    "ScratchPostgres",
]


class PgError(Exception):
    """Server ErrorResponse, surfaced with severity/SQLSTATE/message."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        self.sqlstate = fields.get("C", "")
        super().__init__(
            f"{fields.get('S', 'ERROR')} {self.sqlstate}: "
            f"{fields.get('M', '(no message)')}"
        )


class PgUnavailable(RuntimeError):
    """A live server cannot be provisioned in this environment
    (binaries missing, cannot drop privileges, ...) — callers and
    tests treat this as a skip, like the Kafka-broker gate."""


class SlotInvalidatedError(PgError):
    """The replication slot was INVALIDATED by the server
    (``pg_replication_slots.wal_status = 'lost'`` — WAL the slot still
    needed was removed, typically because the consumer was down longer
    than ``max_slot_wal_keep_size`` allows).  The #1 operational
    failure of logical replication: the slot can never stream again
    and the only recovery is a re-bootstrap (new slot + exported
    snapshot scan + stream from the new consistent point —
    ``pgdatasource.rebootstrap_slot`` / ``cdc rebootstrap``).  Raised
    TYPED, naming the slot, instead of letting the server's generic
    55000 decode failure churn through retry loops."""

    def __init__(self, slot: str, fields: dict[str, str] | None = None):
        self.slot = slot
        f = dict(fields or {})
        f.setdefault("S", "ERROR")
        f.setdefault("C", "55000")
        f.setdefault(
            "M",
            f"replication slot {slot!r} was invalidated (wal_status="
            "'lost'): required WAL has been removed; re-bootstrap the "
            "shard (cdc rebootstrap) — the slot cannot resume",
        )
        super().__init__(f)


# ---------------------------------------------------------------------------
# text-format decoding, keyed by type OID (pg_type.dat is public)
# ---------------------------------------------------------------------------

def _dec_bool(s: str) -> bool:
    return s == "t"


def _dec_bytea(s: str) -> bytes:
    if s.startswith("\\x"):
        return bytes.fromhex(s[2:])
    return s.encode("latin-1")  # legacy escape format, not produced by 15


def _dec_ts(s: str) -> datetime.datetime:
    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in s else "%Y-%m-%d %H:%M:%S"
    return datetime.datetime.strptime(s, fmt)


def _dec_tstz(s: str) -> datetime.datetime:
    # 15 renders e.g. '2026-08-16 01:23:45.123456+00'; normalize the
    # offset to +HHMM for %z
    body, sign, off = s.rpartition("+") if "+" in s[10:] else s.rpartition("-")
    if ":" not in off:
        off = off + "00"
    off = off.replace(":", "")
    fmt = "%Y-%m-%d %H:%M:%S.%f%z" if "." in body else "%Y-%m-%d %H:%M:%S%z"
    return datetime.datetime.strptime(body + sign + off, fmt)


_DECODERS = {
    16: _dec_bool,
    17: _dec_bytea,
    20: int,
    21: int,
    23: int,
    26: int,  # oid
    700: float,
    701: float,
    1700: decimal.Decimal,
    1082: datetime.date.fromisoformat,
    1114: _dec_ts,
    1184: _dec_tstz,
    # 25 text / 1043 varchar / 18 char / 19 name / 2950 uuid / 3220
    # pg_lsn and everything else stay str
}


def decode_value(oid: int, text: str | None):
    if text is None:
        return None
    dec = _DECODERS.get(oid)
    return dec(text) if dec is not None else text


@dataclass(frozen=True)
class PgParams:
    """Picklable connection coordinates.

    Two transports: UNIX socket (``sockdir`` set, trust auth — the
    scratch-server default) or TCP (``host`` set — the production
    shape, authenticating with ``password`` via SCRAM-SHA-256, MD5 or
    cleartext, whichever the server requests).  Executors pickle the
    params and open their own connections either way."""

    sockdir: str = ""
    database: str = "postgres"
    user: str = "postgres"
    port: int = 5432
    host: str = ""
    password: str = ""
    #: TCP only: ``disable`` (plaintext), ``require`` (TLS, no cert
    #: verification — the self-signed-deployment posture), or
    #: ``verify-full`` (TLS + chain + hostname/IP-SAN check against
    #: ``sslrootcert``)
    sslmode: str = "disable"
    sslrootcert: str = ""

    @property
    def sockpath(self) -> str:
        return os.path.join(self.sockdir, f".s.PGSQL.{self.port}")

    def connect(self) -> "PgConnection":
        return PgConnection(self)


@dataclass
class PgResult:
    """One result set: column names, type OIDs, decoded rows, tag."""

    columns: list[str] = field(default_factory=list)
    type_oids: list[int] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    tag: str = ""


class _BufferedSock:
    """Read-buffered wrapper: one 64 KiB recv absorbs many protocol
    messages (a DataRow is tens of bytes — unbuffered per-message
    recvs made the capture path syscall-bound at ~6k rows/s; buffered
    it parses an order of magnitude faster)."""

    __slots__ = ("_sock", "_buf", "_pos")

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""
        self._pos = 0

    def read_exact(self, n: int) -> bytes:
        buf, pos = self._buf, self._pos
        if pos + n <= len(buf):
            self._pos = pos + n
            return bytes(buf[pos : pos + n])  # buf may be a bytearray
        # Accumulate INTO the instance buffer, not a local list: a
        # recv timeout mid-frame (the replication stream sets socket
        # deadlines) must leave the partial bytes buffered so the
        # retried call resumes exactly where it stopped — a local
        # accumulator would silently drop them and desync the framing.
        # A bytearray keeps the append amortized O(1) (bytes += would
        # copy the whole prefix per chunk: quadratic on multi-MB
        # frames), and recv asks for the full remainder each round.
        acc = bytearray(buf[pos:])
        self._buf = acc
        self._pos = 0
        while len(acc) < n:
            chunk = self._sock.recv(max(65536, n - len(acc)))
            if not chunk:
                raise ConnectionError("server closed the connection")
            acc += chunk
        self._pos = n
        return bytes(acc[:n])


def _cstrings(payload: bytes) -> list[str]:
    return [p.decode("utf-8") for p in payload.split(b"\x00")[:-1]]


class PgConnection:
    """Blocking v3 protocol connection; one session, simple queries.

    A connection left inside an open transaction (``BEGIN`` issued,
    no ``COMMIT``) holds its snapshot — ``pglogical.exported_snapshot``
    relies on exactly that to anchor parallel bootstrap reads.
    """

    def __init__(
        self,
        params: PgParams,
        extra_startup: tuple[tuple[str, str], ...] = (),
    ):
        self.params = params
        self.notices: list[dict[str, str]] = []
        if params.host:
            self._sock = socket.create_connection(
                (params.host, params.port), timeout=15
            )
            self._sock.settimeout(None)
            # small frames dominate the protocol: without TCP_NODELAY
            # every query pays Nagle+delayed-ack round trips
            self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            if params.sslmode != "disable":
                self._sock = self._tls_wrap(self._sock, params)
        else:
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self._sock.connect(params.sockpath)
        self._rd = _BufferedSock(self._sock)
        extras = b"".join(
            k.encode() + b"\x00" + v.encode() + b"\x00" for k, v in extra_startup
        )
        body = b"".join(
            [
                struct.pack("!i", 196608),  # protocol 3.0
                b"user\x00", params.user.encode(), b"\x00",
                b"database\x00", params.database.encode(), b"\x00",
                extras,
                b"\x00",
            ]
        )
        self._sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._drain_until_ready(startup=True)

    # -- framing ------------------------------------------------------------

    def _recv_msg(self, header_timeout: float | None = None) -> tuple[bytes, bytes]:
        """Read one framed message.  ``header_timeout`` bounds the wait
        for the 5-byte header only (TimeoutError propagates; the
        restartable read buffer keeps any partial bytes) — once a
        header arrives, the payload is read under a generous fixed
        deadline because the server sends messages whole; a payload
        stall is a genuinely broken connection, not an idle one."""
        if header_timeout is None:
            return self._parse_frame(self._rd.read_exact(5))
        self._sock.settimeout(header_timeout)
        try:
            try:
                head = self._rd.read_exact(5)
            except TimeoutError:
                raise  # idle poll: partial bytes stay buffered
            self._sock.settimeout(30.0)
            try:
                return self._parse_frame(head)
            except TimeoutError as e:
                # header consumed but payload stalled 30s: the session
                # is broken (the server sends frames whole) — resuming
                # would desync, so fail the connection loudly.
                raise ConnectionError(
                    "connection stalled mid-frame (payload timeout)"
                ) from e
        finally:
            # ALWAYS restore blocking mode — a leaked deadline would
            # make later plain _recv_msg calls time out unexpectedly
            self._sock.settimeout(None)

    def _parse_frame(self, head: bytes) -> tuple[bytes, bytes]:
        kind = head[:1]
        (length,) = struct.unpack("!i", head[1:])
        # A corrupt length word would silently desync the framing
        # (length < 4 would rewind the buffer) or allocate absurdly —
        # fail loudly.  Upper bound: PostgreSQL field VALUES go up to
        # 1 GiB, and the SQL-function CDC path ships a whole change
        # line as one DataRow field, so a near-limit TOAST value plus
        # row/framing overhead can legitimately exceed 2^30 — allow
        # 1 GiB + 64 MiB of overhead before calling it corrupt.
        if length < 4 or length > (1 << 30) + (64 << 20):
            raise ConnectionError(
                f"corrupt protocol frame: kind={kind!r} length={length}"
            )
        payload = self._rd.read_exact(length - 4) if length > 4 else b""
        return kind, payload

    @staticmethod
    def _error_fields(payload: bytes) -> dict[str, str]:
        fields: dict[str, str] = {}
        for part in payload.split(b"\x00"):
            if part:
                fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
        return fields

    @staticmethod
    def _tls_wrap(sock: socket.socket, params: PgParams) -> socket.socket:
        """Postgres TLS bootstrap: send SSLRequest (magic 80877103),
        the server answers one byte ('S' = proceed, 'N' = refused),
        then the standard TLS handshake runs INSIDE the connection —
        Postgres does not use a separate TLS port.  ``require`` skips
        certificate verification (self-signed deployments);
        ``verify-full`` checks the chain against ``sslrootcert`` AND
        the hostname/IP SAN."""
        import ssl

        sock.sendall(struct.pack("!ii", 8, 80877103))
        resp = sock.recv(1)
        if resp != b"S":
            raise PgError(
                {"S": "FATAL", "C": "08P01",
                 "M": f"server refused SSL (sslmode={params.sslmode})"}
            )
        if params.sslmode == "verify-full":
            ctx = ssl.create_default_context(cafile=params.sslrootcert)
        elif params.sslmode == "require":
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        else:
            raise ValueError(f"unknown sslmode {params.sslmode!r}")
        return ctx.wrap_socket(sock, server_hostname=params.host)

    # -- authentication (public protocol: cleartext / MD5 / SCRAM) ----------

    def _send_password_msg(self, body: bytes) -> None:
        self._sock.sendall(b"p" + struct.pack("!i", len(body) + 4) + body)

    def _auth_scram(self, payload: bytes) -> None:
        """SCRAM-SHA-256 (RFC 5802/7677), the modern Postgres default
        (``password_encryption = scram-sha-256`` since v14).  No
        channel binding (gs2 header ``n,,`` — this client never
        advertises SCRAM-SHA-256-PLUS, so even on the TLS transport
        (``_tls_wrap``) SCRAM itself adds no MITM detection).  Server
        AUTHENTICATION therefore comes only from the transport:
        ``sslmode=verify-full`` checks the chain + SAN; ``require``
        encrypts with CERT_NONE and authenticates nothing — the SCRAM
        server-signature check below proves the peer knows the
        password but a full relay-MITM defeats it without channel
        binding.  All stdlib: pbkdf2_hmac + hmac + sha256."""
        import base64
        import hashlib
        import hmac as hmac_mod
        import secrets

        mechs = [m for m in payload[4:].split(b"\x00") if m]
        if b"SCRAM-SHA-256" not in mechs:
            raise PgError(
                {"S": "FATAL", "C": "28000",
                 "M": f"no shared SASL mechanism in {mechs!r}"}
            )
        nonce = base64.b64encode(secrets.token_bytes(18)).decode()
        first_bare = f"n={self.params.user},r={nonce}"
        first = b"n,," + first_bare.encode()
        body = (
            b"SCRAM-SHA-256\x00" + struct.pack("!i", len(first)) + first
        )
        self._send_password_msg(body)
        kind, payload = self._recv_msg()
        if kind == b"E":
            raise PgError(self._error_fields(payload))
        (code,) = struct.unpack("!i", payload[:4])
        if kind != b"R" or code != 11:  # AuthenticationSASLContinue
            raise PgError(
                {"S": "FATAL", "C": "28000",
                 "M": f"expected SASLContinue, got {kind!r}/{code}"}
            )
        server_first = payload[4:].decode()
        parts = dict(p.split("=", 1) for p in server_first.split(","))
        full_nonce, salt, iters = parts["r"], parts["s"], int(parts["i"])
        if not full_nonce.startswith(nonce):
            raise PgError(
                {"S": "FATAL", "C": "28000",
                 "M": "SCRAM server nonce does not extend client nonce"}
            )
        salted = hashlib.pbkdf2_hmac(
            "sha256",
            self.params.password.encode(),
            base64.b64decode(salt),
            iters,
        )
        client_key = hmac_mod.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        final_wo_proof = f"c=biws,r={full_nonce}"  # biws = b64('n,,')
        auth_msg = ",".join([first_bare, server_first, final_wo_proof]).encode()
        client_sig = hmac_mod.new(stored_key, auth_msg, hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
        final = f"{final_wo_proof},p={base64.b64encode(proof).decode()}"
        self._send_password_msg(final.encode())
        kind, payload = self._recv_msg()
        if kind == b"E":
            raise PgError(self._error_fields(payload))
        (code,) = struct.unpack("!i", payload[:4])
        if kind != b"R" or code != 12:  # AuthenticationSASLFinal
            raise PgError(
                {"S": "FATAL", "C": "28000",
                 "M": f"expected SASLFinal, got {kind!r}/{code}"}
            )
        server_key = hmac_mod.new(salted, b"Server Key", hashlib.sha256).digest()
        expect_sig = hmac_mod.new(server_key, auth_msg, hashlib.sha256).digest()
        got = dict(
            p.split("=", 1) for p in payload[4:].decode().split(",")
        ).get("v", "")
        if base64.b64decode(got) != expect_sig:
            # a server that cannot prove knowledge of the password is
            # an impostor — fail BEFORE trusting anything it sends
            raise PgError(
                {"S": "FATAL", "C": "28000",
                 "M": "SCRAM server signature verification failed"}
            )

    def _authenticate(self, code: int, payload: bytes) -> None:
        import hashlib

        if code == 3:  # cleartext
            self._send_password_msg(self.params.password.encode() + b"\x00")
        elif code == 5:  # md5: 'md5' + md5(md5(password+user)+salt)
            salt = payload[4:8]
            inner = hashlib.md5(
                (self.params.password + self.params.user).encode()
            ).hexdigest()
            outer = hashlib.md5(inner.encode() + salt).hexdigest()
            self._send_password_msg(b"md5" + outer.encode() + b"\x00")
        elif code == 10:  # SASL
            self._auth_scram(payload)
        else:
            raise PgError(
                {"S": "FATAL", "C": "28000",
                 "M": f"unsupported auth method {code}"}
            )

    def _drain_until_ready(self, startup: bool = False) -> None:
        err: dict[str, str] | None = None
        while True:
            kind, payload = self._recv_msg()
            if kind == b"R":
                (code,) = struct.unpack("!i", payload[:4])
                if code != 0:
                    self._authenticate(code, payload)
            elif kind in (b"S", b"K"):  # ParameterStatus / BackendKeyData
                pass
            elif kind == b"N":
                self.notices.append(self._error_fields(payload))
            elif kind == b"E":
                err = self._error_fields(payload)
                if startup:
                    raise PgError(err)
            elif kind == b"Z":
                if err is not None:
                    raise PgError(err)
                return

    # -- public API ----------------------------------------------------------

    def query(self, sql: str) -> list[PgResult]:
        """Run one simple-query message (may hold several statements);
        return one PgResult per result-set-producing statement."""
        body = sql.encode("utf-8") + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        results: list[PgResult] = []
        current: PgResult | None = None
        err: dict[str, str] | None = None
        while True:
            kind, payload = self._recv_msg()
            if kind == b"T":
                current = PgResult()
                (nfields,) = struct.unpack("!h", payload[:2])
                off = 2
                for _ in range(nfields):
                    end = payload.index(b"\x00", off)
                    current.columns.append(payload[off:end].decode("utf-8"))
                    off = end + 1
                    (_tbl, _att, typoid, _len, _mod, _fmt) = struct.unpack(
                        "!ihihih", payload[off : off + 18]
                    )
                    current.type_oids.append(typoid)
                    off += 18
                results.append(current)
            elif kind == b"D":
                assert current is not None, "DataRow before RowDescription"
                (ncols,) = struct.unpack("!h", payload[:2])
                off = 2
                row = []
                for i in range(ncols):
                    (vlen,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if vlen == -1:
                        row.append(None)
                    else:
                        text = payload[off : off + vlen].decode("utf-8")
                        off += vlen
                        row.append(decode_value(current.type_oids[i], text))
                current.rows.append(tuple(row))
            elif kind == b"C":
                tag = payload[:-1].decode("utf-8")
                if current is None:
                    results.append(PgResult(tag=tag))
                else:
                    current.tag = tag
                current = None
            elif kind in (b"I", b"s"):  # EmptyQuery / PortalSuspended
                current = None
            elif kind == b"N":
                self.notices.append(self._error_fields(payload))
            elif kind == b"E":
                err = self._error_fields(payload)
                current = None
            elif kind == b"Z":
                if err is not None:
                    raise PgError(err)
                return results

    def one(self, sql: str):
        """First column of the first row of the only result set."""
        res = [r for r in self.query(sql) if r.columns]
        return res[0].rows[0][0]

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self._sock.close()

    def __enter__(self) -> "PgConnection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


# ---------------------------------------------------------------------------
# scratch server lifecycle (tests / tools)
# ---------------------------------------------------------------------------

def _pg_bin(name: str) -> str:
    p = shutil.which(name)
    if p is None:
        raise PgUnavailable(f"{name} not on PATH")
    return p


class ScratchPostgres:
    """A throwaway PostgreSQL instance under /tmp with
    ``wal_level=logical``, trust auth on a private UNIX socket, no TCP.

    PostgreSQL refuses to run as root, and this container runs as
    root, so initdb/pg_ctl execute via ``runuser -u postgres`` (the OS
    user Debian's packaging creates).  If neither the binaries nor the
    privilege drop are available the constructor raises
    ``PgUnavailable`` — the same honest env-gate the Kafka seam uses.
    """

    def __init__(self, root: str | None = None):
        initdb = _pg_bin("initdb")
        self._pg_ctl = _pg_bin("pg_ctl")
        self.root = root or f"/tmp/pgshovel_live/{uuid.uuid4().hex[:12]}"
        self.data = os.path.join(self.root, "data")
        self.params = PgParams(sockdir=self.root)
        os.makedirs(self.root, exist_ok=True)
        self._wrap: list[str] = []
        if os.geteuid() == 0:
            runuser = shutil.which("runuser")
            if runuser is None:
                raise PgUnavailable("running as root and runuser is absent")
            self._wrap = [runuser, "-u", "postgres", "--"]
            subprocess.run(
                ["chown", "postgres:postgres", self.root], check=True
            )
        r = self._run([initdb, "-D", self.data, "-E", "UTF8", "--no-sync"])
        if r.returncode != 0:
            raise PgUnavailable(f"initdb failed: {r.stderr[-400:]}")

    def _run(self, cmd: list[str]) -> subprocess.CompletedProcess:
        return subprocess.run(
            self._wrap + cmd, capture_output=True, text=True, cwd="/tmp"
        )

    @staticmethod
    def _free_port() -> int:
        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
        s.close()
        return port

    def start(
        self, tcp: bool = False, password: str = "", tls: bool = False
    ) -> PgParams:
        """Start the server.  ``tcp=True`` additionally listens on a
        free localhost port behind SCRAM-SHA-256 (pg_hba lines are
        PREPENDED — first match wins over initdb's trust defaults, and
        walsender sessions need their own ``replication`` line: the
        ``all`` database keyword never matches replication
        connections).  ``tls=True`` generates a self-signed cert with
        an IP SAN and uses ``hostssl`` hba lines, FORCING TLS on every
        TCP connection (``self.ssl_cert`` is the cert path for
        verify-full clients).  The UNIX socket stays trust-auth either
        way (it is the admin path that sets the password).  Returns
        the UNIX-socket params; :meth:`tcp_params` gives the TCP
        ones."""
        self._tcp = (tcp, password, tls)
        port = 5432
        listen = "''"
        ssl_opts = ""
        if tcp:
            # keep the SAME port across restart() (params in flight)
            port = getattr(self, "_tcp_port", None) or self._free_port()
            self._tcp_port = port
            kind = "host"
            if tls:
                crt = os.path.join(self.root, "server.crt")
                key = os.path.join(self.root, "server.key")
                if not os.path.exists(crt):
                    openssl = shutil.which("openssl")
                    if openssl is None:
                        raise PgUnavailable("tls=True but openssl absent")
                    r = subprocess.run(
                        [openssl, "req", "-x509", "-newkey", "rsa:2048",
                         "-keyout", key, "-out", crt, "-days", "2",
                         "-nodes", "-subj", "/CN=127.0.0.1", "-addext",
                         "subjectAltName=IP:127.0.0.1"],
                        capture_output=True, text=True,
                    )
                    if r.returncode != 0:
                        raise PgUnavailable(f"cert gen failed: {r.stderr[-300:]}")
                    # the server demands key ownership + 0600
                    if os.geteuid() == 0:
                        subprocess.run(
                            ["chown", "postgres:postgres", crt, key],
                            check=True,
                        )
                    os.chmod(key, 0o600)
                self.ssl_cert = crt
                ssl_opts = (
                    f" -c ssl=on -c ssl_cert_file={crt}"
                    f" -c ssl_key_file={key}"
                )
                kind = "hostssl"
            hba = os.path.join(self.data, "pg_hba.conf")
            lines = (
                f"{kind} all all 127.0.0.1/32 scram-sha-256\n"
                f"{kind} replication all 127.0.0.1/32 scram-sha-256\n"
            )
            if tls:
                # initdb's default trust 'host' lines would still admit
                # PLAINTEXT TCP after the hostssl lines don't match —
                # reject non-TLS explicitly (first match wins)
                lines += (
                    "hostnossl all all 127.0.0.1/32 reject\n"
                    "hostnossl replication all 127.0.0.1/32 reject\n"
                )
            content = open(hba).read()
            if lines not in content:
                open(hba, "w").write(lines + content)
            listen = "127.0.0.1"
        self.params = PgParams(sockdir=self.root, port=port)
        opts = (
            f"-c wal_level=logical -c listen_addresses={listen} "
            f"-c port={port}{ssl_opts} "
            f"-c unix_socket_directories={self.root} "
            # fsync=off keeps the scratch instance fast; synchronous_commit
            # must stay ON — logical decoding only streams up to the
            # FLUSHED lsn, so async commits make an immediate slot peek
            # race its own transaction (observed: empty decode).
            "-c fsync=off "
            # two-phase commit surface for the native upsert sink's
            # PREPARE TRANSACTION / COMMIT PREPARED protocol (default 0
            # disables it server-wide)
            "-c max_prepared_transactions=32"
        )
        r = self._run(
            [self._pg_ctl, "-D", self.data, "-o", opts,
             "-l", os.path.join(self.root, "log"), "-w", "start"]
        )
        if r.returncode != 0:
            raise PgUnavailable(f"pg_ctl start failed: {r.stderr[-400:]}")
        deadline = time.time() + 15
        while time.time() < deadline:
            try:
                with self.params.connect() as c:
                    c.query("select 1")
                if tcp and password:
                    with self.params.connect() as c:
                        # v15 default password_encryption is scram;
                        # quote-double: passwords are arbitrary text
                        pw = password.replace("'", "''")
                        c.query(f"alter user postgres password '{pw}'")
                return self.params
            except (OSError, ConnectionError):
                time.sleep(0.2)
        raise PgUnavailable("server did not accept connections in 15s")

    def tcp_params(self) -> PgParams:
        """TCP coordinates for the running ``tcp=True`` server
        (``sslmode=require`` when the server was started with TLS —
        pass sslmode='verify-full' + sslrootcert=self.ssl_cert for the
        verifying client)."""
        tcp, password, tls = getattr(self, "_tcp", (False, "", False))
        if not tcp:
            raise ValueError("server was not started with tcp=True")
        return PgParams(
            host="127.0.0.1",
            port=self.params.port,
            password=password,
            sslmode="require" if tls else "disable",
        )

    def restart(self) -> PgParams:
        """Crash-stop and restart the SAME data directory (slots,
        tables, prepared transactions survive) — the failover drill
        the native source's resume tests exercise.  ``-m immediate``
        is a simulated crash: no shutdown checkpoint, WAL replay on
        start, exactly what a real failover looks like."""
        self._run([self._pg_ctl, "-D", self.data, "-m", "immediate", "stop"])
        tcp, password, tls = getattr(self, "_tcp", (False, "", False))
        return self.start(tcp=tcp, password=password, tls=tls)

    def stop(self) -> None:
        self._run([self._pg_ctl, "-D", self.data, "-m", "immediate", "stop"])
        shutil.rmtree(self.root, ignore_errors=True)

    def __enter__(self) -> PgParams:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
