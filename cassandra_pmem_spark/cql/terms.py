"""Constant FUNCTION TERMS in write statements (grammar Parser.g term :=
function '(' terms ')'; cql3/functions/BytesConversionFcts.java:36,
TimeFcts.java). The reference evaluates pure function terms at prepare
time on the coordinator; the analog here is driver-side Python constant
folding — the resulting VALUE then rides the ordinary mutation path, so
nothing row-at-a-time ever reaches executors.

Covers the deterministic native functions over the engine's type model
(see functions/blob.py for the column-side pairs and the byte-layout
contract these must match):

- XAsBlob / blobAsX for text|ascii|varchar, bigint, int, smallint,
  tinyint, boolean, double, float (big-endian two's-complement /
  IEEE-754, exactly the marshal forms);
- toUnixTimestamp / toTimestamp / toDate over string literals;
- minTimeuuid / maxTimeuuid over string literals — the shadow-model
  timestamp bound (SURVEY §1.2; functions/timefcts.py).

The now()-family (now/currenttimeuuid/currenttimestamp/currentdate/
currenttime/uuid) folds from the SESSION'S COORDINATOR CLOCK when a
write session provides one (SessionClockFold below — deterministic per
statement, monotonic like ClientState.getTimestamp), mirroring the
reference's coordinator-side execution while keeping statement replays
byte-identical. Outside a session (bare SELECT compilation) those names
still reject with guidance.
"""

from __future__ import annotations

import datetime as _dtmod
from typing import Any

from cassandra_pmem_spark.cql.validator import InvalidRequest
from cassandra_pmem_spark.marshal import codec_of, marshal_of

_INT_WIDTHS = {"bigint": 8, "int": 4, "smallint": 2, "tinyint": 1}
_BLOB_WIDTHS = {**_INT_WIDTHS, "boolean": 1, "double": 8, "float": 4}
# CQL type -> its marshal codec, for the xAsBlob / blobAsX folds
# (BytesConversionFcts.java)
_BLOB_CODECS = {
    t: codec_of(marshal_of(t, None, False))
    for t in (*_BLOB_WIDTHS, "text", "varchar", "ascii")
}

# -- version-1 (time-based) UUID arithmetic (utils/UUIDGen.java) ---------------
# The v1 timestamp is 100ns ticks since the UUID epoch 1582-10-15;
# UUIDGen.java:52 START_EPOCH is that instant in unix milliseconds.
UUID_START_EPOCH_MS = -12219292800000
# UUIDGen.java:68-69 — the fake extremes' clockSeqAndNode. MIN has
# variant 2 as it should; MAX deliberately has variant 0 (the reference
# ignores the variant for these query-only values).
MIN_CLOCK_SEQ_AND_NODE = 0x8080808080808080
MAX_CLOCK_SEQ_AND_NODE = 0x7F7F7F7F7F7F7F7F
# clockSeqAndNode for now()-minted timeuuids: a FIXED, variant-correct,
# documented value — the engine derives now() from the session clock for
# replay determinism, so the host-derived node the reference uses
# (UUIDGen.makeNode) is deliberately not consulted.
SESSION_CLOCK_SEQ_AND_NODE = 0x8000000000000001


def ticks_from_unix_ms(ms: int, sub_ticks: int = 0) -> int:
    """UUIDGen.fromUnixTimestamp: unix millis -> v1 100ns ticks."""
    return (ms - UUID_START_EPOCH_MS) * 10000 + sub_ticks


def unix_ms_from_ticks(ticks: int) -> int:
    """UUIDGen.unixTimestamp: v1 ticks -> unix millis (floor)."""
    return ticks // 10000 + UUID_START_EPOCH_MS


def v1_uuid_text(ticks: int, clock_seq_and_node: int) -> str:
    """Canonical text of the version-1 UUID with the given 60-bit
    timestamp (UUIDGen.createTime:353 bit layout: time_low<<32 |
    time_mid>>16 | time_hi>>48 | version 1)."""
    import uuid as _uuid

    msb = (
        ((ticks & 0x00000000FFFFFFFF) << 32)
        | ((ticks & 0x0000FFFF00000000) >> 16)
        | ((ticks & 0xFFFF000000000000) >> 48)
        | 0x0000000000001000
    )
    return str(_uuid.UUID(int=(msb << 64) | clock_seq_and_node))


def ticks_of_uuid_text(u: str) -> int:
    """Embedded 60-bit timestamp of a v1 UUID's canonical text:
    time_hi(12) || time_mid(16) || time_low(32) — the inverse of
    v1_uuid_text, and what TimeUUIDType compares by first."""
    h = u.replace("-", "")
    if len(h) != 32:
        raise InvalidRequest(f"not a uuid: {u!r}")
    try:
        return int(h[13:16] + h[8:12] + h[0:8], 16)
    except ValueError as exc:
        # 32 chars but not hex — same InvalidRequest contract every other
        # malformed-literal path follows (never a raw ValueError)
        raise InvalidRequest(f"not a uuid: {u!r}") from exc


class SessionClockFold:
    """Folds the non-deterministic now()-family terms from the session's
    COORDINATOR CLOCK. The reference executes them coordinator-side when
    the statement executes (TimeFcts.java:39-57 now/current*,
    UuidFcts.java:29 uuid()); the analog instant here is EPOCH_MS + the
    statement's clock tick (the same counter that stamps writetime), so
    replays of one statement sequence reproduce byte-identical values —
    deterministic per statement and monotonic across the session like
    ClientState.getTimestamp. Each occurrence WITHIN a statement advances
    one 100ns uuid tick (distinct now() calls mint distinct timeuuids);
    statements sharing a BATCH tick share the same base instant
    (CASSANDRA-14361's consistent-batch direction)."""

    # 2024-01-01T00:00:00Z — the documented, arbitrary session epoch
    EPOCH_MS = 1704067200000

    def __init__(self, next_tick, alloc=None):
        self._next_tick = next_tick  # () -> int, the statement's tick
        # alloc(base_v1_ticks) -> occurrence offset: the SESSION-WIDE
        # monotonic mint allocator (writes.NowOccs — UUIDGen
        # lastTimestamp analog). Statements can share a fold tick (USING
        # TIMESTAMP never advances the clock; BATCH statements share the
        # batch tick), and two folds minting the same v1 tick would be
        # byte-identical timeuuids — LWW would silently absorb the
        # second write. Without an allocator (dry parses, bare folds) a
        # per-fold counter keeps occurrences local and consumes nothing
        # from the session.
        self._alloc = alloc
        self._occ = 0  # occurrences folded so far in this statement

    def fold(self, low: str):
        tick = int(self._next_tick())
        ms = self.EPOCH_MS + tick
        if self._alloc is not None:
            # the allocator speaks v1 TICK space (UUIDGen lastTimestamp
            # analog): occ = offset past this statement's base instant
            occ = self._alloc(ticks_from_unix_ms(ms))
        else:
            occ = self._occ
            self._occ += 1
        if low in ("now", "currenttimeuuid"):
            return v1_uuid_text(
                ticks_from_unix_ms(ms, occ), SESSION_CLOCK_SEQ_AND_NODE
            )
        if low == "uuid":
            # deterministic v4-shaped uuid: md5 of the (instant,
            # occurrence) pair with version/variant bits forced
            import hashlib
            import uuid as _uuid

            raw = bytearray(
                hashlib.md5(f"uuid:{ms}:{occ}".encode()).digest()
            )
            raw[6] = (raw[6] & 0x0F) | 0x40  # version 4
            raw[8] = (raw[8] & 0x3F) | 0x80  # variant 10
            return str(_uuid.UUID(bytes=bytes(raw)))
        inst = _dtmod.datetime.fromtimestamp(
            ms / 1000.0, tz=_dtmod.timezone.utc
        )
        if low == "currenttimestamp":
            return inst
        if low == "currentdate":
            return inst.date()
        if low == "currenttime":
            # CQL time = nanos since midnight (the engine stores time as
            # bigint nanos — ddl._NATIVE_TYPES). Integer field arithmetic:
            # total_seconds() is an inexact double and int() truncates
            # downward, landing on the wrong microsecond for ~2% of
            # millisecond-of-day values
            td = inst - inst.replace(hour=0, minute=0, second=0, microsecond=0)
            return (td.seconds * 1_000_000 + td.microseconds) * 1000
        raise InvalidRequest(f"unknown clock function {low!r}")  # pragma: no cover


def _as_blob(t: str, v: Any, name: str) -> bytes:
    """xAsBlob: the literal checks, then the type's marshal codec."""
    if t in _INT_WIDTHS:
        if not isinstance(v, int) or isinstance(v, bool):
            raise InvalidRequest(f"{name}() takes an integer literal, got {v!r}")
        half = 1 << (8 * _INT_WIDTHS[t] - 1)
        if not -half <= v < half:
            raise InvalidRequest(f"{name}({v}) out of range")
    elif t == "boolean":
        if not isinstance(v, bool):
            raise InvalidRequest(f"{name}() takes a boolean literal")
    elif t in ("double", "float"):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise InvalidRequest(f"{name}() takes a numeric literal")
    elif not isinstance(v, str):
        raise InvalidRequest(f"{name}() takes a string literal")
    elif t == "ascii" and not v.isascii():
        # AsciiType rejects code points above 0x7F
        raise InvalidRequest(f"{name}() takes an ASCII string literal")
    return _BLOB_CODECS[t].pack(v)


def _blob_as(t: str, v: Any, name: str) -> Any:
    """blobAsX: the blob checks, then the type's marshal codec."""
    width = _BLOB_WIDTHS.get(t)
    if not isinstance(v, (bytes, bytearray)) or width not in (None, len(v)):
        want = f"{width}-byte blob" if width else "blob"
        raise InvalidRequest(f"{name}() takes a {want}, got {v!r}")
    if t == "ascii" and any(b > 0x7F for b in v):
        # AsciiSerializer.validate rejects bytes above 0x7F
        raise InvalidRequest(f"{name}() takes an ASCII blob")
    try:
        return _BLOB_CODECS[t].unpack(v)
    except UnicodeDecodeError as exc:
        raise InvalidRequest(f"{name}(): invalid UTF-8 blob") from exc


class TimeuuidBound(_dtmod.datetime):
    """A min/maxTimeuuid fold: the exact instant, tagged with which
    extreme it is (TimeFcts.java:69,81 — the extremes compare strictly
    below/above every REAL timeuuid in the named millisecond). The
    engine's contract: on a DECLARED timeuuid column the extreme IS the
    reference's fake uuid — WRITE positions store uuid_text(), equality/
    IN compare it, and range contexts (SELECT relations, DELETE slice
    bounds, LWT conditions) translate per operator via edge_full(); on
    any other column type ranges reject the type mismatch at prepare and
    every other value position (equality, IN, CONTAINS, tuple relations)
    rejects with reject() — a clear error instead of a silently-divergent
    comparison against a value no real timeuuid equals. Plain-instant
    WRITE positions (timestamp columns) store instant()."""

    kind: str = ""

    @classmethod
    def make(cls, dt, kind: str) -> "TimeuuidBound":
        b = cls(
            dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second,
            dt.microsecond, tzinfo=dt.tzinfo,
        )
        b.kind = kind
        return b

    def instant(self) -> _dtmod.datetime:
        return _dtmod.datetime(
            self.year, self.month, self.day, self.hour, self.minute,
            self.second, self.microsecond, tzinfo=self.tzinfo,
        )

    def reject(self, where: str) -> None:
        raise InvalidRequest(
            f"{self.kind}Timeuuid() is a range bound (no real timeuuid "
            f"ever equals the extreme) and cannot be used with {where!r}; "
            "compare with </<=/>/>= or bind a timestamp value instead"
        )

    def _unix_ms(self) -> int:
        return round(self.instant().timestamp() * 1000)

    def uuid_text(self) -> str:
        """The fake extreme timeuuid the reference mints
        (UUIDGen.minTimeUUID:198 / maxTimeUUID:209) — what a
        min/maxTimeuuid fold STORES into a declared-timeuuid column."""
        if self.kind == "min":
            return v1_uuid_text(
                ticks_from_unix_ms(self._unix_ms()), MIN_CLOCK_SEQ_AND_NODE
            )
        return v1_uuid_text(
            ticks_from_unix_ms(self._unix_ms() + 1) - 1, MAX_CLOCK_SEQ_AND_NODE
        )

    def edge_ticks(self, op: str) -> tuple[str, int]:
        """(op, v1 ticks) for a RANGE comparison against a real
        timeuuid's embedded 60-bit timestamp, translated per operator in
        tick space: the min extreme sits strictly below
        and the max extreme strictly above every real timeuuid in the
        named millisecond (TimeUUIDType compares timestamps first, and
        MIN/MAX_CLOCK_SEQ_AND_NODE bracket every real clockSeqAndNode),
        so `> min(t)` ≡ ticks >= ticks(t) and `< max(t)` ≡
        ticks < ticks(t+1ms)."""
        edge_ms = self._unix_ms() + (1 if self.kind == "max" else 0)
        edge = ticks_from_unix_ms(edge_ms)
        if op in (">", ">="):
            return (">=", edge)
        if op in ("<", "<="):
            return ("<", edge)
        self.reject(op)

    def edge_full(self, op: str):
        """(op, v1 tick edge, fixup) — edge_ticks plus the boundary fixup
        that keeps the translation exact even against a STORED extreme
        uuid. The tick edge is exact for every REAL timeuuid (the extreme
        clockSeqAndNodes sit strictly outside every real one), but the
        extreme ITSELF shares the edge tick while TimeUUIDType orders it
        below (min) / above (max) everything real — a tick-only compare
        wrongly includes it in `> min(t)` / `< max(t)` and drops it from
        `<= min(t)` / `>= max(t)`. fixup is None when the tick edge is
        already exact, else ('exclude', text) — AND `col != text` — or
        ('include', text) — OR `col == text`."""
        op2, edge = self.edge_ticks(op)
        if self.kind == "min":
            if op == ">":
                return op2, edge, ("exclude", self.uuid_text())
            if op == "<=":
                return op2, edge, ("include", self.uuid_text())
        else:
            if op == "<":
                return op2, edge, ("exclude", self.uuid_text())
            if op == ">=":
                return op2, edge, ("include", self.uuid_text())
        return op2, edge, None


def evaluate_fn(name: str, args: list[Any], clock: "SessionClockFold | None" = None) -> Any:
    """Evaluate one constant function term; raises InvalidRequest for
    unknown names, non-deterministic functions, and arity/type errors.
    `clock` — set on write-statement parsers by CqlWriteSession — folds
    the now()-family from the coordinator clock; without one (bare
    SELECT compilation, no session) those names still reject."""
    low = name.lower()
    if low in ("now", "uuid", "currenttimestamp", "currentdate",
               "currenttime", "currenttimeuuid"):
        if clock is not None:
            if args:
                raise InvalidRequest(f"{name}() takes no arguments")
            return clock.fold(low)
        raise InvalidRequest(
            f"{name}() is non-deterministic and not supported as a write "
            "term in this engine (bind the value instead)"
        )
    if low not in _KNOWN_FNS:
        raise InvalidRequest(f"unknown function {name!r} in term")
    if len(args) != 1:
        # every supported term function is unary — validated BEFORE the
        # null shortcut so a misspelled name or wrong arity rejects at
        # prepare even when a bound value is None
        raise InvalidRequest(f"{name}() takes 1 argument, got {len(args)}")
    if args[0] is None:
        # the reference's native conversion/time functions are RETURNS
        # NULL ON NULL INPUT (NativeScalarFunction) — fn(null) is null,
        # not an error (a bound None must not reject the statement)
        return None

    def one() -> Any:
        return args[0]

    if low.endswith("asblob") and low[:-6] in _BLOB_CODECS:
        return _as_blob(low[:-6], one(), name)
    if low.startswith("blobas") and low[6:] in _BLOB_CODECS:
        return _blob_as(low[6:], one(), name)
    if low in ("totimestamp", "tounixtimestamp", "todate",
               "mintimeuuid", "maxtimeuuid"):
        # TimeFcts over string literals: 'YYYY-MM-DD[ hh:mm:ss]' — the
        # deterministic subset (the timeuuid/now forms are not terms here)
        import datetime as _dt

        v = one()
        if not isinstance(v, str):
            raise InvalidRequest(f"{name}() takes a date/timestamp string here")
        try:
            if len(v) == 10:
                dt = _dt.datetime.strptime(v, "%Y-%m-%d")
            elif "." in v:
                # fractional seconds (TimestampSerializer's dateStringPatterns
                # accept millisecond precision)
                dt = _dt.datetime.strptime(v, "%Y-%m-%d %H:%M:%S.%f")
            else:
                dt = _dt.datetime.strptime(v, "%Y-%m-%d %H:%M:%S")
        except ValueError as exc:
            raise InvalidRequest(f"{name}({v!r}): {exc}") from exc
        if low == "todate":
            return dt.date()
        # one UTC parse serves both functions (the engine session pins
        # spark.sql.session.timeZone=UTC — session.py — and an AWARE
        # datetime denotes the same instant under any session timezone,
        # so toTimestamp and toUnixTimestamp always agree)
        dt = dt.replace(tzinfo=_dt.timezone.utc)
        if low == "tounixtimestamp":
            return int(dt.timestamp() * 1000)
        # min/maxTimeuuid on the shadow model (SURVEY §1.2 — timeuuids
        # as (uuid, timestamp shadow) pairs): the fold is the EXACT
        # instant t, tagged with which extreme it is. A write position
        # stores t (the reference stores a fake timeuuid whose timestamp
        # IS t); relation compilation translates the extreme per
        # OPERATOR (TimeuuidBound.edge_full) — the reference extremes
        # sit strictly outside every real timeuuid in millisecond t, so
        # e.g. `> minTimeuuid(t)` means `>= t` and `< maxTimeuuid(t)`
        # means `< t + 1ms`.
        if low == "mintimeuuid":
            return TimeuuidBound.make(dt, "min")
        if low == "maxtimeuuid":
            return TimeuuidBound.make(dt, "max")
        return dt
    raise AssertionError(f"_KNOWN_FNS out of sync for {name!r}")  # pragma: no cover


_KNOWN_FNS = frozenset(
    [f"{t}asblob" for t in _BLOB_CODECS] + [f"blobas{t}" for t in _BLOB_CODECS]
    + ["totimestamp", "tounixtimestamp", "todate",
       "mintimeuuid", "maxtimeuuid"]
)
