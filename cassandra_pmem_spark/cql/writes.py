"""CQL write statements — INSERT / UPDATE / DELETE / BATCH parsed and
applied with mutation-log semantics (SURVEY §2.9).

References: ModificationStatement.java:66 (INSERT/UPDATE = upsert by key),
UpdateStatement.java (counter branch), DeleteStatement.java +
db/DeletionTime.java (row and cell tombstones shadow by timestamp),
Attributes.java / ModificationStatement.java:220,230 (USING TIMESTAMP/TTL),
BatchStatement.java:56 (BATCH grouping), grammar Parser.g:478,544,578.

Two tiers, mirroring the reference's two write paths:

- `CqlWriteSession` (this module) — the *statement* path: parses CQL text,
  accumulates mutations/tombstones driver-side (statement workloads are
  small by nature), and materializes visible state through the bulk
  path's LWW merge (upsert_lww_cells); cell, row and range tombstones
  then shadow the merged cells by timestamp in this module's own
  column expressions. This is what runs the reference's
  InsertTest/UpdateTest/DeleteTest/TTLTest-style corpus.
- bulk loading — operators/upsert.py directly over mutation-log
  DataFrames; fully distributed (the CqlBulkRecordWriter analog).

Timestamps: USING TIMESTAMP wins; otherwise a session-monotonic counter
stamps statement order (the reference stamps coordinator micros). A BATCH
takes ONE tick (or its batch-level USING TIMESTAMP) shared by every inner
statement, matching BatchStatement's single coordinator timestamp: batch
order confers no LWW precedence, and a tombstone wins against a live cell
at the equal timestamp. TTL is
modeled in the same unit as writetime: a cell written at t with TTL d is
visible while now <= t + d, matching read-time expiry semantics
(db/LivenessInfo.java); CQL's per-cell TTL granularity is preserved because
expiry rides with each mutation's cells.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import TableMeta
from cassandra_pmem_spark.cql.parser import _Parser, _tokenize
from cassandra_pmem_spark.cql.validator import (
    declared_timeuuid as _decl_timeuuid,
    InvalidRequest,
)
from cassandra_pmem_spark.operators.upsert import upsert_lww_cells
from cassandra_pmem_spark.plans.hints import unpersist_quietly


@dataclass(frozen=True)
class CollectionInfo:
    """Schema facts Spark's type system erases but the reference's mutation
    validation needs: the declared collection kind per column ('list' |
    'set' | 'map' — set<t> and list<t> are both ArrayType in Spark), which
    columns were declared frozen<...> (frozen collections only accept
    full-value writes; FrozenCollectionsTest.testInvalidOperations), and
    which were declared counter (counters fold, they are never set —
    cql3/Operation.java:169, UpdateStatement.java counter branch)."""

    kinds: dict
    frozen: frozenset
    counters: frozenset = frozenset()


# Attributes.java:47 — 20 years in seconds; TTLs beyond it are rejected,
# TTL 0 means "no expiry" (Attributes.getTimeToLive)
MAX_TTL = 20 * 365 * 24 * 60 * 60


@dataclass
class Mutation:
    key: tuple                 # full primary key values, in PK order
    cells: dict                # column -> value (absent = cell untouched)
    writetime: int
    ttl: int | None = None     # relative TTL for this mutation's cells
    counter_deltas: dict = field(default_factory=dict)
    # per-cell map mutations: col -> {map key -> value | None (tombstone)}
    # (Maps.SetterByKey / DiscarderByKey — each entry its own liveness)
    elem_cells: dict = field(default_factory=dict)
    # per-FIELD cells of non-frozen UDT columns: col -> {field -> value}
    # (UserTypes.SetterByField, cql3/UserTypes.java:371 — one cell per
    # field, each with its own liveness; values are never None — a null
    # field write is a CellTombstone on the synthetic "col#field" cell)
    udt_cells: dict = field(default_factory=dict)
    # primary-key liveness (db/LivenessInfo.java): INSERT stamps the row
    # itself alive; UPDATE does not — an UPDATE-built row is visible only
    # through its live cells, the reference's row-vs-cell liveness rule
    row_live: bool = True


@dataclass
class RowTombstone:
    key: tuple
    writetime: int


@dataclass
class CellTombstone:
    key: tuple
    columns: list[str]
    writetime: int


# List cell positions (Lists.java timeuuid cell names, CASSANDRA-style):
# fixed-width sortable STRING keys, UNIQUE per cell like the reference's
# timeuuids. Positions follow ISSUANCE order — the reference mints cell
# names from the coordinator's clock, NOT from USING TIMESTAMP — so the
# key carries the session's statement number (base rows are statement 0,
# the i-th buffered mutation is statement i+1):
#   full-write cell : "5" || stmt(9) || "0" || pos(9)
#   append fragment : "5" || stmt(9) || "1" || idx(9)
#   prepend fragment: "3" || rstmt(9)       || idx(9)
# Prepends (bucket 3) sort before every append/full-write cell
# (bucket 5); rstmt = MAX - stmt makes a LATER prepend statement sort
# earlier (the reference's reversed PrecisionTime) while idx keeps
# intra-statement order. Within one statement a full write's own cells
# (kind "0") precede its appends (kind "1"). USING TIMESTAMP only
# drives LIVENESS (reconcile + deletion shadowing), exactly like the
# reference: an append issued after a full write keeps its position
# after that write's cells even when its explicit timestamp is older.
_STMT_MAX = 10**9 - 1
PREPEND, APPEND = 3, 5


def _list_frag_key(bucket: int, stmt: int, idx: int) -> str:
    if bucket == PREPEND:
        return f"3{_STMT_MAX - stmt:09d}{idx:09d}"
    return f"5{stmt:09d}1{idx:09d}"

# sentinel: a scalar LWT condition (no [element] accessor); None can't
# serve — `IF m[null]`-style literals bind through the same slot
_NO_ELEM = object()


@dataclass
class RangeTombstoneStmt:
    """Clustering-range delete (db/RangeTombstone.java; DELETE ... WHERE
    pk = ? AND ck > ? AND ck <= ?): shadows whole rows in the range."""

    eq: dict
    ranges: dict  # col -> ((lo, incl) | None, (hi, incl) | None)
    writetime: int


def _in_relation_cols(d: dict) -> list[str]:
    """Key columns restricted by a (multi-valued) IN relation."""
    return [c for c, v in d.items() if isinstance(v, tuple) and v[:1] == ("__in__",)]


def _reject_in_with_conditions(key: dict, meta, kind: str) -> None:
    """ModificationStatement.java:502 — conditions cannot combine with a
    multi-valued IN; the message names the key part ('partition key' vs
    'clustering key columns') and the statement verb ('updates' vs
    'deletions')."""
    in_cols = _in_relation_cols(key)
    if not in_cols:
        return
    if any(c in set(meta.partition_key) for c in in_cols):
        raise InvalidRequest(
            f"IN on the partition key is not supported with conditional {kind}"
        )
    raise InvalidRequest(
        f"IN on the clustering key columns is not supported with conditional {kind}"
    )


from cassandra_pmem_spark.cql.terms import SessionClockFold, TimeuuidBound




class NowOccs:
    """Session-wide now()-mint monotonicity, the UUIDGen lastTimestamp
    analog: every minted v1 tick is strictly greater than the previous
    one. Statements can share a fold tick (USING TIMESTAMP never
    advances the clock; BATCH statements share the batch tick), and a
    repeated v1 tick would mint the SAME timeuuid — LWW would silently
    absorb the later write. Tracking the last ABSOLUTE v1 tick (not a
    per-tick occurrence count) also survives sub-tick overflow: 10,000+
    folds at one millisecond spill into the next millisecond's range,
    and the next tick's first fold starts ABOVE the spill instead of
    colliding with it. Shared across a CqlDatabase's table sessions like
    the clock. Allocations append to a JOURNAL so statement rollback
    (_snapshot/_restore) un-consumes in O(changes); memory is O(total
    folds), the same order as the mutation buffers themselves."""

    def __init__(self):
        self.last: int = -1  # last minted v1 tick, absolute
        self.journal: list[int] = []  # prior `last` per allocation

    def alloc(self, base_ticks: int) -> int:
        """OCCURRENCE (v1 sub-tick offset from base_ticks) for the next
        fold whose statement instant is base_ticks: 0 when the session
        has never minted at or past this instant, else just past the
        last mint."""
        v1 = max(base_ticks, self.last + 1)
        self.journal.append(self.last)
        self.last = v1
        return v1 - base_ticks

    def mark(self) -> int:
        return len(self.journal)

    def rewind(self, mark: int) -> None:
        # idempotent for same-mark repeats (a multi-table batch restores
        # every involved session against one shared store)
        while len(self.journal) > mark:
            self.last = self.journal.pop()


def _timeuuid_range_sides(col: str, v: Any):
    """(lhs, rhs) for a range comparison on a declared-timeuuid column.
    A datetime bound — a min/maxTimeuuid fold's millisecond edge from
    _key_relations_with_ranges — compares on the embedded v1 ticks alone
    (the extreme sits strictly outside every real timeuuid in its
    millisecond, so the ms tick edge is exact); a uuid-text bound
    compares (ticks, text) exactly like the read path's _cmp_key."""
    import datetime as _dt

    from cassandra_pmem_spark.cql.terms import (
        ticks_from_unix_ms,
        ticks_of_uuid_text,
    )
    from cassandra_pmem_spark.functions.timefcts import timeuuid_ticks

    if isinstance(v, _dt.datetime):
        ms = round(v.timestamp() * 1000) if v.tzinfo else round(
            v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000
        )
        return timeuuid_ticks(col), F.lit(int(ticks_from_unix_ms(ms)))
    if isinstance(v, str):
        return (
            F.struct(timeuuid_ticks(col).alias("t"), F.col(col).alias("u")),
            F.struct(
                F.lit(int(ticks_of_uuid_text(v))).alias("t"),
                F.lit(v).alias("u"),
            ),
        )
    raise InvalidRequest(
        f"cannot range-compare {type(v).__name__} against timeuuid column {col!r}"
    )


def _plain_value(v: Any) -> Any:
    """Downgrade a TimeuuidBound fold to its plain datetime instant for
    Spark row construction — createDataFrame's type verifier rejects
    datetime SUBCLASSES (`type(obj) not in acceptable_types`). A stored
    min/maxTimeuuid value IS the instant; the extreme tag only matters
    in comparisons."""
    return v.instant() if isinstance(v, TimeuuidBound) else v


_TS_LITERAL_FORMATS = (
    # TimestampSerializer.dateStringPatterns (TimestampSerializer.java:
    # 43-76) — the ISO subset with space or 'T' separator, optional
    # fractional seconds, optional zone (+0000 / +00:00 / Z via %z)
    "%Y-%m-%d %H:%M:%S.%f%z", "%Y-%m-%d %H:%M:%S%z", "%Y-%m-%d %H:%M%z",
    "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M",
    "%Y-%m-%d%z", "%Y-%m-%d",
)


def _parse_timestamp_text(v: str, label: str):
    """A string constant bound to a timestamp column parses at PREPARE
    time (the reference's TimestampSerializer; zoneless strings anchor
    to UTC like the rest of the engine — session.py pins the session
    zone). Parsing here, not at the Arrow boundary, keeps the Arrow
    fast path and the createDataFrame fallback on the same instant
    under ANY session timezone."""
    import datetime as _dt

    s = v.strip()
    if len(s) > 10 and s[10] == "T":
        s = s[:10] + " " + s[11:]
    for fmt in _TS_LITERAL_FORMATS:
        try:
            d = _dt.datetime.strptime(s, fmt)
            break
        except ValueError:
            continue
    else:
        raise InvalidRequest(
            f"Unable to coerce {v!r} to a formatted date for \"{label}\""
        )
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return d


def _tz_norm(cur: Any, val: Any) -> tuple[Any, Any]:
    """Make a collected cell and a condition value comparable when one is
    a NAIVE datetime and the other AWARE: Spark collects timestamps naive
    in the session timezone (the engine pins UTC — session.py), while a
    folded toTimestamp() term is an aware UTC instant (cql/terms.py) —
    comparing them raw is a silent False for == and a TypeError for
    ordering ops."""
    import datetime as _dt

    if isinstance(cur, _dt.datetime) and isinstance(val, _dt.datetime):
        if cur.tzinfo is None and val.tzinfo is not None:
            cur = cur.replace(tzinfo=_dt.timezone.utc)
        elif cur.tzinfo is not None and val.tzinfo is None:
            val = val.replace(tzinfo=_dt.timezone.utc)
    return cur, val


def _expand_in_keys(d: dict) -> list[dict]:
    """Cartesian expansion of IN-tagged key relations: UPDATE/DELETE with
    ``ck IN (…)`` apply once per clustering combination
    (StatementRestrictions / UpdateStatement addUpdateForKey loop)."""
    combos: list[dict] = [{}]
    for col, v in d.items():
        if isinstance(v, tuple) and v[:1] == ("__in__",):
            combos = [dict(c, **{col: x}) for c in combos for x in v[1]]
        else:
            combos = [dict(c, **{col: v}) for c in combos]
    return combos


class _WriteParser(_Parser):
    """Statement parsers for the write grammar (Parser.g:478,544,578)."""

    def value_term(self, params, cursor):
        """A term in a write VALUE position. A min/maxTimeuuid extreme
        stays TAGGED here: what it stores depends on the target column's
        declared type, which only _record sees — a declared timeuuid
        column stores the reference's fake extreme uuid
        (UUIDGen.min/maxTimeUUID), a timestamp column the plain instant.
        _record downgrades every bound, so the tagged subclass never
        reaches Spark row construction."""
        return self.term(params, cursor)

    def insert_statement(self, params: list[Any], cursor: list[int] | None = None):
        cursor = [0] if cursor is None else cursor
        self.expect_kw("insert")
        self.expect_kw("into")
        table = self._table_name()
        if self.accept_kw("json"):
            # INSERT ... JSON '<row>' (Parser.g:478 jsonInsertStatement;
            # cql3/Json.parseJson:281 — keys are column names)
            import json as _json

            # literal() serves strings AND both marker kinds (?, :name)
            raw = self.literal(params, cursor)
            if not isinstance(raw, str):
                raise InvalidRequest(
                    "INSERT JSON expects a JSON string literal or a bind marker"
                )
            try:
                cells = _json.loads(raw)
            except ValueError as exc:
                raise InvalidRequest(f"invalid JSON row: {exc}") from exc
            if not isinstance(cells, dict):
                raise InvalidRequest("INSERT JSON row must be a JSON object")
            # DEFAULT NULL | DEFAULT UNSET (Parser.g jsonInsertStatement;
            # CASSANDRA-11424, Json.java prepareAndCollectMarkers): the
            # reference DEFAULT is NULL — a regular column omitted from
            # the JSON map is written as null (i.e. expunged); UNSET
            # leaves omitted columns untouched.
            json_default = "null"
            if self.accept_kw("default"):
                if self.accept_kw("unset"):
                    json_default = "unset"
                elif self.accept_kw("null"):
                    json_default = "null"
                else:
                    raise InvalidRequest(
                        "INSERT JSON DEFAULT must be followed by NULL or UNSET"
                    )
            cond = self.if_clause(params, cursor)
            if cond is not None and cond[0] != "not_exists":
                raise InvalidRequest("INSERT supports only IF NOT EXISTS")
            using = self._using(params, cursor)
            self._end()
            return table, cells, using, cond, json_default
        self.expect_punct("(")
        cols = [self.ident()]
        while self.accept_punct(","):
            cols.append(self.ident())
        self.expect_punct(")")
        self.expect_kw("values")
        self.expect_punct("(")

        def value():
            p = self.peek()
            if p.kind == "punct" and p.text in "{[":
                # collection literal — tagged for kind-aware conversion
                # at execute time (the parser has no schema)
                return ("__coll__",) + self.collection_literal(params, cursor)
            return self.value_term(params, cursor)

        vals = [value()]
        while self.accept_punct(","):
            vals.append(value())
        self.expect_punct(")")
        if len(cols) != len(vals):
            raise InvalidRequest("INSERT column/value count mismatch")
        cond = self.if_clause(params, cursor)
        if cond is not None and cond[0] != "not_exists":
            raise InvalidRequest("INSERT supports only IF NOT EXISTS")
        using = self._using(params, cursor)
        self._end()
        return table, dict(zip(cols, vals)), using, cond, None

    def collection_literal(self, params: list[Any], cursor: list[int]):
        """``[a, b]`` list / ``{a, b}`` set / ``{k: v}`` map literal
        (Parser.g collectionLiteral). Returns (kind, value) with kind in
        'list' | 'set' | 'map' | 'empty' (bare ``{}`` — set or map, the
        column's declared type decides)."""
        t = self.next()
        if t.text == "[":
            vals = []
            if not self.accept_punct("]"):
                vals.append(self.literal(params, cursor))
                while self.accept_punct(","):
                    vals.append(self.literal(params, cursor))
                self.expect_punct("]")
            return ("list", vals)
        if self.accept_punct("}"):
            return ("empty", None)
        p = self.peek()
        if p.kind == "ident" and p.text.lower() not in ("true", "false", "null"):
            # {field: v, ...} with BARE identifier keys — a UDT literal
            # (Cql.g usertypeLiteral; cql3/UserTypes.java literal parse:
            # field names are identifiers, never quoted terms)
            m: dict = {}
            first_field = True
            while True:
                f = self.ident().lower()
                try:
                    self.expect_punct(":")
                except InvalidRequest:
                    if first_field:
                        # a malformed SET literal like {abc} lands here
                        # (bare identifier then no ':') — name the real
                        # problem instead of the misleading "expected :"
                        raise InvalidRequest(
                            f"invalid collection literal: bare identifier "
                            f"{f!r} is neither a UDT field (no ':' follows) "
                            "nor a set/list element (elements are literals "
                            "or bind markers)"
                        ) from None
                    raise
                first_field = False
                m[f] = self.literal(params, cursor)
                if not self.accept_punct(","):
                    break
            self.expect_punct("}")
            return ("udt", m)
        first = self.literal(params, cursor)
        if self.accept_punct(":"):
            m = {first: self.literal(params, cursor)}
            while self.accept_punct(","):
                k = self.literal(params, cursor)
                self.expect_punct(":")
                m[k] = self.literal(params, cursor)
            self.expect_punct("}")
            return ("map", m)
        vals = [first]
        while self.accept_punct(","):
            vals.append(self.literal(params, cursor))
        self.expect_punct("}")
        return ("set", vals)

    def update_statement(self, params: list[Any], cursor: list[int] | None = None):
        cursor = [0] if cursor is None else cursor
        self.expect_kw("update")
        table = self._table_name()
        using = self._using(params, cursor)
        self.expect_kw("set")
        sets, deltas, elem_ops = {}, {}, []
        while True:
            col = self.ident()
            if self.accept_punct("["):
                # SET col[key] = v — Lists.SetterByIndex / Maps.SetterByKey
                # syntax; validated by _validate_elem_ops, APPLIED for maps
                # (per-cell mutation with its own liveness)
                elem_key = self.literal(params, cursor)
                self.expect_punct("]")
                t = self.next()
                if t.kind != "op" or t.text != "=":
                    raise InvalidRequest(f"expected = in SET, got {t.text!r}")
                elem_val = self.value_term(params, cursor)
                elem_ops.append(("set_elem", col, elem_key, elem_val))
                if not self.accept_punct(","):
                    break
                continue
            if self.accept_punct("."):
                # SET u.f = v — UserTypes.SetterByField (grammar
                # Parser.g:1539 udtColumnOperation): one FIELD cell of a
                # non-frozen UDT column, its own liveness
                fname = self.ident()
                t = self.next()
                if t.kind != "op" or t.text != "=":
                    raise InvalidRequest(f"expected = in SET, got {t.text!r}")
                fval = self.value_term(params, cursor)
                elem_ops.append(("udt_set", col, fname, fval))
                if not self.accept_punct(","):
                    break
                continue
            t = self.next()
            if t.kind != "op" or t.text != "=":
                raise InvalidRequest(f"expected = in SET, got {t.text!r}")
            nxt = self.peek()
            if nxt.kind == "ident" and nxt.text == col:
                # SET c = c + x: a counter delta when x is numeric, a
                # collection add/discard when x is a {...}/[...] literal
                self.next()
                sign = self.next()
                if sign.text not in ("+", "-"):
                    raise InvalidRequest("counter update must be col = col +/- n")
                p = self.peek()
                if p.kind == "punct" and p.text in "{[":
                    lit = self.collection_literal(params, cursor)
                    elem_ops.append(("coll_delta", col, sign.text, lit))
                else:
                    n = self.literal(params, cursor)
                    deltas[col] = n if sign.text == "+" else -n
            elif nxt.kind == "punct" and nxt.text in "{[":
                lit = self.collection_literal(params, cursor)
                after = self.peek()
                if after.kind == "op" and after.text == "+":
                    # SET l = [x] + l — Lists.Prepender
                    self.next()
                    rhs = self.ident()
                    if rhs != col:
                        raise InvalidRequest(
                            "prepend must target the same column: "
                            f"SET {col} = [...] + {col}"
                        )
                    elem_ops.append(("coll_prepend", col, lit))
                else:
                    elem_ops.append(("coll_set", col, lit))
            else:
                sets[col] = self.value_term(params, cursor)
            if not self.accept_punct(","):
                break
        self.expect_kw("where")
        key = self._key_relations(params, cursor)
        cond = self.if_clause(params, cursor)
        self._end()
        return table, sets, deltas, key, using, cond, elem_ops

    def delete_statement(self, params: list[Any], cursor: list[int] | None = None):
        cursor = [0] if cursor is None else cursor
        self.expect_kw("delete")
        cols, elem_dels = [], []
        if not (self.peek().kind == "ident" and self.peek().text.lower() == "from"):
            while True:
                c = self.ident()
                if self.accept_punct("["):
                    # DELETE col[key] — element tombstone syntax, recorded
                    # for validation (sets reject it; see _validate_elem_ops)
                    k = self.literal(params, cursor)
                    self.expect_punct("]")
                    elem_dels.append(("del_elem", c, k))
                elif self.accept_punct("."):
                    # DELETE u.f — UserTypes.DeleterByField
                    # (Parser.g:1586): one field-cell tombstone
                    elem_dels.append(("udt_del", c, self.ident()))
                else:
                    cols.append(c)
                if not self.accept_punct(","):
                    break
        self.expect_kw("from")
        table = self._table_name()
        using = self._using(params, cursor)
        self.expect_kw("where")
        key, ranges = self._key_relations_with_ranges(params, cursor)
        cond = self.if_clause(params, cursor)
        self._end()
        return table, cols, key, ranges, using, cond, elem_dels

    def _table_name(self) -> str:
        t = self.ident()
        if self.accept_punct("."):
            t = self.ident()
        return t

    def if_clause(self, params, cursor):
        """LWT condition (Parser.g updateConditions; ColumnCondition.java:213):
        IF EXISTS | IF NOT EXISTS | IF col op lit [AND ...]."""
        if not self.accept_kw("if"):
            return None
        if self.accept_kw("exists"):
            return ("exists",)
        if self.accept_kw("not"):
            self.expect_kw("exists")
            return ("not_exists",)
        conds = []
        while True:
            col = self.ident()
            ekey = _NO_ELEM
            if self.accept_punct("["):
                # collection element condition (ColumnCondition.java:329
                # ElementAccessBound — IF m['k'] = v / IF l[i] = v)
                ekey = self.literal(params, cursor)
                self.expect_punct("]")
            elif self.accept_punct("."):
                # UDT field condition (Parser.g:1609
                # ColumnCondition.Raw.udtFieldCondition — IF u.f = v)
                ekey = ("__udtf__", self.ident())
            if self.accept_kw("in"):
                # IN condition (ColumnCondition.SimpleBound.isSatisfiedBy
                # — EQ against ANY listed value, per-element null rules)
                self.expect_punct("(")
                vals = [self.term(params, cursor)]
                while self.accept_punct(","):
                    vals.append(self.term(params, cursor))
                self.expect_punct(")")
                # TimeuuidBound elements resolve in _condition_holds,
                # where the column's declared type is known (a declared
                # timeuuid column compares against the fake extreme uuid)
                conds.append((col, ekey, "IN", vals))
            else:
                op = self.next()
                if op.kind != "op" or op.text not in ("=", "!=", "<", "<=", ">", ">="):
                    raise InvalidRequest(
                        f"unsupported LWT condition operator {op.text!r}"
                    )
                conds.append((col, ekey, op.text, self.term(params, cursor)))
            if not self.accept_kw("and"):
                break
        return ("conds", conds)

    def _in_values(self, params, cursor) -> tuple:
        """IN (v1, v2, …) on a key column (StatementRestrictions: UPDATE/
        DELETE multiply the operation across the clustering combinations).
        Tagged for expansion at execute time."""
        self.expect_punct("(")
        vals = [self.term(params, cursor)]
        while self.accept_punct(","):
            vals.append(self.term(params, cursor))
        self.expect_punct(")")
        # TimeuuidBound elements resolve at the apply site, where the
        # column's declared type is known (_resolve_tu_keys)
        if len(vals) == 1:
            # SingleColumnRelation.java:208 normalizes a one-element
            # literal IN to an EQ restriction at prepare time, so
            # `c IN (5) IF EXISTS` is accepted (only bind-marker `IN ?`
            # stays an IN restriction regardless of bound length).
            return vals[0]
        return ("__in__", vals)

    def _key_relations(self, params, cursor) -> dict:
        out = {}
        while True:
            col = self.ident()
            if self.accept_kw("in"):
                out[col] = self._in_values(params, cursor)
            else:
                t = self.next()
                if t.kind != "op" or t.text != "=":
                    raise InvalidRequest(
                        "write WHERE clauses support =/IN on key columns only"
                    )
                v = self.term(params, cursor)
                # a TimeuuidBound resolves at the apply site, where the
                # column's declared type is known (_resolve_tu_keys)
                out[col] = v
            if not self.accept_kw("and"):
                break
        return out

    def _key_relations_with_ranges(self, params, cursor):
        """DELETE WHERE clauses: EQ/IN on key columns plus optional range
        restrictions on a clustering column (range tombstones —
        db/RangeTombstone.java; DeleteStatement slice deletes)."""
        eq, ranges = {}, {}
        while True:
            col = self.ident()
            if self.accept_kw("in"):
                eq[col] = self._in_values(params, cursor)
                if not self.accept_kw("and"):
                    break
                continue
            t = self.next()
            if t.kind != "op":
                raise InvalidRequest("expected comparison in WHERE")
            if t.text == "=":
                eq[col] = self.term(params, cursor)
            elif t.text in ("<", "<=", ">", ">="):
                lo, hi = ranges.get(col, (None, None))
                v = self.term(params, cursor)
                op_txt = t.text
                # a TimeuuidBound stays RAW here (with its original op's
                # inclusivity) — the apply site gates the column's
                # declared type and compiles the same op-aware tick-edge
                # translation SELECT relations use, so a DELETE slice and
                # the SELECT that previews it bound identically
                if op_txt in (">", ">="):
                    lo = (v, op_txt == ">=")
                else:
                    hi = (v, op_txt == "<=")
                ranges[col] = (lo, hi)
            else:
                raise InvalidRequest(f"unsupported operator {t.text!r} in DELETE WHERE")
            if not self.accept_kw("and"):
                break
        return eq, ranges

    def _using(self, params, cursor) -> dict:
        def int_attr(name: str) -> int:
            v = self.literal(params, cursor)
            # Attributes.java: TIMESTAMP/TTL take integer constants; a
            # mis-typed literal is a prepare error, not a crash
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise InvalidRequest(
                    f"Invalid {type(v).__name__} constant ({v!r}) for USING {name}"
                )
            return int(v)

        out = {}
        if self.accept_kw("using"):
            while True:
                if self.accept_kw("timestamp"):
                    out["timestamp"] = int_attr("TIMESTAMP")
                elif self.accept_kw("ttl"):
                    out["ttl"] = int_attr("TTL")
                else:
                    raise InvalidRequest("USING supports TIMESTAMP and TTL")
                if not self.accept_kw("and"):
                    break
        return out

    def _end(self) -> None:
        if self.peek().kind != "eof":
            raise InvalidRequest(f"trailing input near {self.peek().text!r}")


import re as _re

# BEGIN [UNLOGGED|COUNTER] BATCH prefix, its optional USING clause (a
# literal, ? or :name per attribute) and the APPLY BATCH suffix; statement
# bodies in between are split on ';' *outside string literals*
_BATCH_OPEN_RE = _re.compile(r"^\s*begin\s+(?:(unlogged|counter)\s+)?batch\b", _re.I)
_BATCH_ATTR = r"(?:timestamp|ttl)\s+(?:\?|:[A-Za-z_]\w*|-?\d+)"
_BATCH_USING_RE = _re.compile(rf"\s*using\s+{_BATCH_ATTR}(?:\s+and\s+{_BATCH_ATTR})*", _re.I)
_APPLY_RE = _re.compile(r"^\s*apply\s+batch\s*;?\s*$", _re.I)


def _split_statements(s: str) -> list[str]:
    """Split on ';' respecting single-quoted literals (with '' escapes) —
    a literal containing ';' or the word 'apply' must not break the batch
    (BatchStatement bodies are full statements, not substrings)."""
    parts, cur, in_str = [], [], False
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if in_str:
            cur.append(c)
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == ";":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    parts.append("".join(cur))
    return parts


# memo_frame key of the visible frame (paged statements use their repr)
_VISIBLE = "visible"


class CqlWriteSession:
    """Mutable table state driven by CQL write statements.

    `table(now)` materializes the visible state, applying in order: TTL
    expiry (mutations expired at `now` leave the log before the merge) →
    cell-level LWW merge → counter folding → cell tombstones → row and
    range tombstones. `now` (same unit as writetime) is injectable for
    deterministic TTL tests (TTLTest.java style).

    The session also memoizes the frames reads compile over `table()`
    (`visible_frame`, `memo_frame`). They are valid for one version,
    (generation, shared clock): every statement, rollback, TRUNCATE,
    import and base or meta assignment bumps the generation, and the
    clock carries TTL visibility and every other table's writes.

    A BATCH statement runs through `execute_batch`, the one BATCH path,
    with every inner statement mapped to this session; CqlDatabase runs
    the same function with one session per target table."""

    def __init__(
        self,
        spark: SparkSession,
        meta: TableMeta,
        base: DataFrame | None = None,
        collection_info: CollectionInfo | None = None,
        clock: list[int] | None = None,
        default_ttl: int = 0,
        now_occs: "NowOccs | None" = None,
    ):
        self.spark = spark
        self._generation = 0
        self._meta = meta
        self.collection_info = collection_info
        # TableParams.defaultTimeToLive: applied when a write carries no
        # USING TTL; an EXPLICIT `USING TTL 0` means no expiry and the
        # default does NOT re-apply (Attributes.getTimeToLive:105-119)
        self.default_ttl = default_ttl
        self._mutations: list[Mutation] = []
        self._row_tombs: list[RowTombstone] = []
        self._cell_tombs: list[CellTombstone] = []
        self._range_tombs: list[RangeTombstoneStmt] = []
        # `clock` is a shared [counter] when a CqlDatabase coordinates
        # several table sessions — one coordinator timeline means a write
        # to table A always outranks an earlier write to table B, like the
        # reference's single coordinator clock
        self._clock_ref = clock if clock is not None else [0]
        # now()-fold occurrence store (NowOccs above): consumption rolls
        # back with the statement snapshot — a rejected statement's folds
        # were never written, so the next statement may re-mint them
        self._now_occs = now_occs if now_occs is not None else NowOccs()
        self._base = base
        # frames load_sstables persisted into _base: the session owns
        # their pins and releases them with the base (release_base)
        self._pinned: list[DataFrame] = []
        # frames compiled over table() at _frames_version: the visible
        # frame under _VISIBLE, each paged statement's frame under its repr
        self._frames: dict = {}
        self._frames_version: tuple | None = None
        # True iff the LAST statement (or any inner batch statement)
        # carried an IF clause — the coordinator's trigger hook reads it
        # to apply the CAS-path same-partition gate
        # (TriggerExecutor.validateForSinglePartition)
        self.last_conditional = False

    @property
    def meta(self) -> TableMeta:
        return self._meta

    @meta.setter
    def meta(self, meta: TableMeta) -> None:
        self._meta = meta
        self._generation += 1

    @property
    def base(self) -> DataFrame | None:
        """The table's history before the buffered statements (imported
        sstables, a fixture frame), merged under them at writetime 0."""
        return self._base

    @base.setter
    def base(self, df: DataFrame | None) -> None:
        self._base = df
        self._generation += 1

    def import_base(self, df: DataFrame) -> None:
        """Merge an imported, already-persisted frame into the base
        history; the session now owns its pin."""
        self._pinned.append(df)
        self.base = df if self._base is None else self._base.unionByName(df)

    def release_base(self) -> None:
        """Drop the base history and unpin every imported frame."""
        for df in self._pinned:
            unpersist_quietly(df)
        self._pinned.clear()
        self.base = None

    def release(self) -> None:
        """Unpin everything the session holds: memo frames and imports."""
        self.drop_frames()
        self.release_base()

    def drop_frames(self) -> None:
        """Unpin and forget every memo frame (the next read re-plans)."""
        for df in self._frames.values():
            unpersist_quietly(df)
        self._frames.clear()

    def memo_frame(self, key: str, build: Callable[[], DataFrame]) -> DataFrame:
        """`build()`'s frame, memoized under `key` while the version holds.
        Pinned only when the table has no base: state derived purely from
        the write buffer is bounded, while a persisted scan of a base
        would cache unbounded rows and block predicate pushdown."""
        version = (self._generation, self._clock_ref[0])
        if version != self._frames_version:
            self.drop_frames()
            self._frames_version = version
        df = self._frames.get(key)
        if df is None:
            df = build()
            if self._base is None:
                df = df.persist()
            self._frames[key] = df
        return df

    def visible_frame(self) -> DataFrame:
        """What a SELECT or a view reads: the visible state at the shared
        clock with its liveness shadows, memoized (memo_frame), so a
        pager's later pages read the merged rows instead of re-merging."""

        def build() -> DataFrame:
            df = self.table(now=self._clock_ref[0], with_shadows=True)
            # the merge ran at spark.sql.shuffle.partitions width; a pinned
            # frame keeps one partition so later page/SELECT jobs do not
            # drag many tiny cached partitions along. A large ingest keeps
            # its parallel layout.
            if self._base is None and len(self._mutations) <= 100_000:
                df = df.coalesce(1)
            return df

        return self.memo_frame(_VISIBLE, build)

    # -- statement entry (ModificationStatement.execute analog) ---------------

    def execute(self, cql: str, params: list[Any] | None = None) -> bool:
        """Apply one statement. Returns the LWT [applied] flag — True for
        unconditional writes, the condition outcome for IF statements.

        A REJECTED statement applies nothing: apply paths may buffer a
        complex-deletion tombstone or a partial mutation before a later
        validation raises (e.g. a mis-typed field in a decomposed UDT
        write), so the whole statement rolls back to the entry snapshot
        on any error — the reference validates before any mutation ever
        forms; this restores the same all-or-nothing contract."""
        snap = self._snapshot()
        self.last_conditional = False
        try:
            return self._execute(
                cql, params if params is not None else [], cursor=[0], forced_ts=None
            )
        except Exception:
            self._restore(snap)
            raise

    def _execute(self, cql: str, params: list[Any], cursor: list[int], forced_ts: int | None, fold_ts: int | None = None) -> bool:
        self._generation += 1
        head = cql.strip().split(None, 1)[0].lower()
        if head == "begin":
            return execute_batch(cql, params, cursor, lambda _s: self)
        if head == "truncate":
            # TRUNCATE (cql3/statements/TruncateStatement.java): drop all
            # data — mutations, tombstones, and the base table
            self._mutations.clear()
            self._row_tombs.clear()
            self._cell_tombs.clear()
            self._range_tombs.clear()
            self.release_base()
            return True
        if head not in ("insert", "update", "delete"):
            raise InvalidRequest(f"unsupported write statement {head!r}")
        counters = self.collection_info.counters if self.collection_info else frozenset()
        p = _WriteParser(_tokenize(cql))
        # now()-family terms fold from THIS statement's coordinator tick
        # (TimeFcts.java:39-57 execute coordinator-side): fold_ts inside a
        # BATCH (all inner statements share one clock-derived fold
        # instant, even when the batch WRITE timestamp is an explicit user
        # value), else the next clock value (a rejected statement rewinds
        # the clock via _restore, so the peek stays replay-deterministic)
        p.clock_fold = SessionClockFold(
            lambda: fold_ts if fold_ts is not None else self._clock_ref[0] + 1,
            alloc=self._alloc_now_occ,
        )
        if head == "insert":
            _, cells, using, cond, json_default = p.insert_statement(params, cursor)
            self.last_conditional |= cond is not None
            if json_default == "null":
                # INSERT JSON without DEFAULT UNSET: every declared regular
                # column absent from the JSON map is written as null
                # (UpdateStatement.ParsedInsertJson / Json.java — the
                # reference default), which the null-cell path below turns
                # into a cell deletion at the statement timestamp.
                for f in self.meta.schema.fields:
                    if f.name not in cells and f.name not in self.meta.primary_key:
                        cells[f.name] = None
            cells = {
                c: self._convert_coll(c, v)
                if isinstance(v, tuple) and v[:1] == ("__coll__",)
                else self._downgrade_bound(c, v)
                for c, v in cells.items()
            }
            if counters:
                # UpdateStatement.java:145
                raise InvalidRequest(
                    "INSERT statements are not allowed on counter tables, use UPDATE instead"
                )
            if cond is not None and "timestamp" in using:
                # ModificationStatement.java:261
                raise InvalidRequest("Cannot provide custom timestamp for conditional updates")
            self._check_ttl(using)
            if not self._condition_holds(cond, self._key_of(cells)):
                return False
            # an explicitly-null cell is a DELETE of that cell
            # (Constants.Setter / Operation.java null handling) — the row
            # liveness the INSERT stamps still applies
            null_cols = [
                c
                for c, v in cells.items()
                if v is None and c not in self.meta.primary_key
            ]
            bad_key = [
                c for c in self.meta.primary_key if c in cells and cells[c] is None
            ]
            if bad_key:
                raise InvalidRequest(
                    f"Invalid null value for PRIMARY KEY part {bad_key[0]}"
                )
            if "timestamp" in using:
                wt = using["timestamp"]
            elif forced_ts is not None:
                wt = forced_ts
            else:
                wt = self._tick()
            # non-frozen UDT values decompose into per-FIELD cells at wt
            # plus a complex deletion at wt-1 (UserTypes.Setter — the same
            # model full map writes use); frozen UDTs stay one cell
            live_cells = {c: v for c, v in cells.items() if c not in null_cols}
            udt_cells: dict = {}
            for c in self._nonfrozen_udt_cols():
                if c in live_cells:
                    v = live_cells.pop(c)
                    if not isinstance(v, dict):
                        raise InvalidRequest(
                            f"Invalid {type(v).__name__} constant for UDT "
                            f"column {c!r}"
                        )
                    udt_cells[c] = {f: x for f, x in v.items() if x is not None}
                    self._cell_tombs.append(
                        CellTombstone(
                            self._key_of(cells),
                            [f"{c}#{f}" for f in self._udt_fields(c)],
                            wt - 1,
                        )
                    )
            self._record(
                live_cells,
                using,
                forced_ts=forced_ts,
                udt_cells=udt_cells,
                wt=wt,
            )
            if null_cols:
                self._cell_tombs.append(
                    CellTombstone(
                        self._key_of(cells),
                        self._expand_udt_tomb_cols(null_cols),
                        wt,
                    )
                )
        elif head == "update":
            _, sets, deltas, key, using, cond, elem_ops = p.update_statement(params, cursor)
            self.last_conditional |= cond is not None
            self._validate_elem_ops(elem_ops)
            # counter-column rules (Operation.java:169,309; ModificationStatement
            # .java:114,262-263) — enforceable when the DDL declared counters
            bad_ctr = set(sets) & counters
            if bad_ctr:
                raise InvalidRequest(
                    f"Cannot set the value of counter column {sorted(bad_ctr)[0]} "
                    "(counters can only be incremented/decremented, not set)"
                )
            if counters:
                non_ctr = set(deltas) - counters
                if non_ctr:
                    raise InvalidRequest(
                        f"Invalid operation for non counter column {sorted(non_ctr)[0]}"
                    )
            if deltas:
                if cond is not None:
                    raise InvalidRequest(
                        "Conditional updates are not supported on counter tables"
                    )
                if "timestamp" in using:
                    raise InvalidRequest("Cannot provide custom timestamp for counter updates")
                if "ttl" in using:
                    raise InvalidRequest("Cannot provide custom TTL for counter updates")
            if cond is not None and "timestamp" in using:
                raise InvalidRequest("Cannot provide custom timestamp for conditional updates")
            self._check_ttl(using)
            # PK columns cannot appear in SET (UpdateStatement.java checks;
            # the reference raises InvalidRequest — silently upserting a
            # different key would corrupt the partition)
            bad_pk = set(self.meta.primary_key) & (set(sets) | set(deltas))
            if bad_pk:
                raise InvalidRequest(
                    f"PRIMARY KEY part {sorted(bad_pk)} found in SET part"
                )
            combos = _expand_in_keys(self._resolve_tu_keys(key))
            if cond is not None:
                _reject_in_with_conditions(key, self.meta, "updates")
            if not self._condition_holds(cond, self._key_of(combos[0])):
                return False
            if len(combos) > 1 and forced_ts is None and "timestamp" not in using:
                forced_ts = self._tick()  # ONE statement timestamp for all rows
            for ckey in combos:
                self._apply_update_row(
                    ckey, dict(sets), deltas, elem_ops, using, forced_ts
                )
        elif head == "delete":
            _, cols, key, ranges, using, cond, elem_dels = p.delete_statement(params, cursor)
            self.last_conditional |= cond is not None
            self._validate_elem_ops(elem_dels)
            if "ttl" in using:
                # grammar: usingClauseDelete carries TIMESTAMP only (Parser.g)
                raise InvalidRequest("Cannot provide TTL for DELETE statements")
            if cond is not None and "timestamp" in using:
                raise InvalidRequest("Cannot provide custom timestamp for conditional updates")
            # NB: don't use dict.get(default) here — it would evaluate
            # _tick() eagerly and advance the coordinator clock even for
            # explicit-timestamp deletes
            if "timestamp" in using:
                wt = using["timestamp"]
            elif forced_ts is not None:
                wt = forced_ts
            else:
                wt = self._tick()
            if ranges:
                # range tombstone: partition key fully EQ, no LWT, no columns
                if cond is not None:
                    raise InvalidRequest("IF conditions are not supported on range deletes")
                if cols:
                    raise InvalidRequest("column deletes cannot carry clustering ranges")
                missing = [k for k in self.meta.partition_key if k not in key]
                if missing:
                    raise InvalidRequest(
                        f"range delete requires the full partition key; missing {missing}"
                    )
                bad = [c for c in ranges if c not in {c.name for c in self.meta.clustering}]
                if bad:
                    raise InvalidRequest(f"range delete only on clustering columns; got {bad}")
                self._gate_tu_ranges(ranges)
                for ckey in _expand_in_keys(self._resolve_tu_keys(key)):
                    self._range_tombs.append(
                        RangeTombstoneStmt(dict(ckey), dict(ranges), wt)
                    )
                return True
            combos = _expand_in_keys(self._resolve_tu_keys(key))
            if cond is not None:
                _reject_in_with_conditions(key, self.meta, "deletions")
            if not self._condition_holds(cond, self._key_of(combos[0])):
                return False
            for key in combos:  # one tombstone set per clustering combination
                self._apply_delete_row(key, cols, elem_dels, wt)
        return True

    def _apply_delete_row(self, key: dict, cols: list, elem_dels: list, wt: int) -> None:
            if elem_dels:
                # DELETE m['k'] — per-cell tombstone: a cell-level delete
                # mutation shadows only that map entry (Maps.DiscarderByKey
                # semantics; the entry's own liveness decides the merge).
                # DELETE l[i] resolves the index by reading the row
                # (Lists.DiscarderByIndex) and rewrites the shifted list.
                elem_cells: dict = {}
                cell_cache: dict = {}
                udt_tomb_cols: list = []
                for dop, ecol, ekey in elem_dels:
                    kind, _frozen = self._collection_kind(ecol)
                    if dop == "udt_del":
                        # UserTypes.DeleterByField (cql3/UserTypes.java:398):
                        # one field-cell tombstone, siblings untouched
                        udt_tomb_cols.append(f"{ecol}#{ekey}")
                        continue
                    if kind == "map":
                        elem_cells.setdefault(ecol, {})[ekey] = None
                        continue
                    # Lists.DiscarderByIndex: the read resolves the index
                    # to a cell POSITION; the delete is a cell tombstone
                    # there — sibling cells keep their own liveness
                    if ecol not in cell_cache:
                        cell_cache[ecol] = self._list_cells(self._key_of(key), ecol)
                    cur = cell_cache[ecol]
                    if not isinstance(ekey, int) or ekey < 0 or ekey >= len(cur):
                        raise InvalidRequest(
                            f"List index {ekey} out of bound, list has size {len(cur)}"
                        )
                    elem_cells.setdefault(ecol, {})[cur[ekey][0]] = None
                if elem_cells:
                    self._mutations.append(
                        Mutation(
                            self._key_of(key), dict(key), wt,
                            elem_cells=elem_cells, row_live=False,
                        )
                    )
                if udt_tomb_cols:
                    self._cell_tombs.append(
                        CellTombstone(self._key_of(key), udt_tomb_cols, wt)
                    )
            if cols:
                self._cell_tombs.append(
                    CellTombstone(
                        self._key_of(key), self._expand_udt_tomb_cols(cols), wt
                    )
                )
            elif not elem_dels:
                self._row_tombs.append(RowTombstone(self._key_of(key), wt))

    def _check_ttl(self, using: dict) -> None:
        """Attributes.getTimeToLive bounds (Attributes.java:105-134,
        CASSANDRA-14092): negative rejected, beyond MAX_TTL rejected,
        TTL 0 unsets (no expiry). No TTL at all → the table's
        default_time_to_live; explicit 0 suppresses the default."""
        ttl = using.get("ttl")
        if ttl is None:
            if self.default_ttl:
                using["ttl"] = self.default_ttl
            return
        if ttl < 0:
            raise InvalidRequest(f"A TTL must be greater or equal to 0, but was {ttl}")
        if ttl > MAX_TTL:
            raise InvalidRequest(f"ttl is too large. requested ({ttl}) maximum ({MAX_TTL})")
        if ttl == 0:
            del using["ttl"]

    def _apply_update_row(
        self, key: dict, sets: dict, deltas: dict, elem_ops: list,
        using: dict, forced_ts: int | None,
    ) -> None:
        """One expanded-key UPDATE application, at the reference's cell
        granularity (cql3/Lists.java:408-574, Sets.java:322-377,
        Maps.java:270-330):

        - set add/discard, map put/key-discard, and list append/prepend
          are PURE CELL WRITES — no read, exactly like the reference's
          Adder/Discarder/Putter/Appender/Prepender — recorded as
          per-cell fragments so every element keeps its own
          (writetime, ttl);
        - list index set/delete and discard-by-value read the row first
          to resolve the target CELL POSITIONS (Lists.SetterByIndex /
          DiscarderByIndex / Discarder read-before-write), then write or
          tombstone those cells in place — surviving cells keep their
          original liveness;
        - full-value assignment stays a whole-column write (complex
          deletion + fresh cells at the statement timestamp)."""
        elem_cells: dict = {}
        # the statement timestamp, hoisted so list cell positions embed
        # it; _record reuses it (one tick per statement, same order)
        if "timestamp" in using:
            wt = using["timestamp"]
        elif forced_ts is not None:
            wt = forced_ts
        else:
            wt = self._tick()
        cell_cache: dict = {}

        def current_cells(c):
            if c not in cell_cache:
                cell_cache[c] = self._list_cells(self._key_of(key), c)
            return cell_cache[c]

        # statement number for cell keys: the mutation-buffer length is
        # monotonic per session and distinct per statement (each statement
        # appends exactly one Mutation; +1 keeps base rows at statement
        # 0), so cells from different statements get DISTINCT keys in
        # issuance order like the reference's timeuuids
        stmt_no = len(self._mutations) + 1
        seq = [0]

        udt_cells: dict = {}
        udt_null_fields: dict = {}
        for op in elem_ops:
            kind, _frozen = self._collection_kind(op[1])
            if op[0] == "udt_set":
                # UserTypes.SetterByField: ONE field cell at the statement
                # timestamp; SET u.f = null is that field-cell's tombstone
                _, ecol, fname, fval = op
                if fval is None:
                    if fname not in udt_null_fields.setdefault(ecol, []):
                        udt_null_fields[ecol].append(fname)
                    udt_cells.get(ecol, {}).pop(fname, None)
                else:
                    udt_cells.setdefault(ecol, {})[fname] = fval
                    if fname in udt_null_fields.get(ecol, []):
                        udt_null_fields[ecol].remove(fname)
            elif op[0] == "coll_set" and kind == "udt":
                _, ecol, (_lk, val) = op
                if _frozen:
                    # frozen UDT: one whole-value cell
                    sets[ecol] = dict(val or {})
                else:
                    # full write of a multi-cell UDT = complex deletion at
                    # wt-1 + one cell per non-null field at wt (the exact
                    # model maps use; UserTypes.Setter → ComplexColumnData
                    # deletion). An older surviving field cell (higher wt
                    # than the deletion) still merges in.
                    self._cell_tombs.append(
                        CellTombstone(
                            self._key_of(key),
                            [f"{ecol}#{f}" for f in self._udt_fields(ecol)],
                            wt - 1,
                        )
                    )
                    udt_cells[ecol] = {
                        f: v for f, v in (val or {}).items() if v is not None
                    }
                    udt_null_fields.pop(ecol, None)
            elif op[0] == "set_elem" and kind == "map":
                _, ecol, ekey, eval_ = op
                elem_cells.setdefault(ecol, {})[ekey] = eval_
            elif op[0] == "set_elem":
                # Lists.SetterByIndex: read resolves the index to a cell
                # position; the write replaces that cell's VALUE at the
                # statement timestamp, keeping its position
                _, ecol, idx, eval_ = op
                cur = current_cells(ecol)
                if not isinstance(idx, int) or idx < 0 or idx >= len(cur):
                    raise InvalidRequest(
                        f"List index {idx} out of bound, list has size {len(cur)}"
                    )
                elem_cells.setdefault(ecol, {})[cur[idx][0]] = eval_
            elif op[0] == "coll_set":
                _, ecol, (_lk, val) = op
                if kind == "set":
                    sets[ecol] = sorted(set(val or []))
                elif kind == "map":
                    sets[ecol] = dict(val or {})
                else:
                    sets[ecol] = list(val or [])
            elif op[0] == "coll_prepend":
                # Lists.Prepender: fresh cells positioned BEFORE every
                # existing cell; a later prepend statement sorts before
                # an earlier one, order within one statement preserved
                _, ecol, (_lk, val) = op
                frag = elem_cells.setdefault(ecol, {})
                for v in list(val or []):
                    frag[_list_frag_key(PREPEND, stmt_no, seq[0])] = v
                    seq[0] += 1
            elif op[0] == "coll_delta":
                _, ecol, sign, (_lk, val) = op
                if kind == "set":
                    # Sets.Adder/Discarder: cell key = element, no read
                    frag = elem_cells.setdefault(ecol, {})
                    for v in sorted(set(val or [])):
                        frag[v] = v if sign == "+" else None
                elif kind == "list":
                    frag = elem_cells.setdefault(ecol, {})
                    if sign == "+":
                        # Lists.Appender: cells after every existing one
                        for v in list(val or []):
                            frag[_list_frag_key(APPEND, stmt_no, seq[0])] = v
                            seq[0] += 1
                    else:
                        # Lists.Discarder: read, tombstone EVERY cell
                        # whose value matches (all occurrences)
                        vs = set(val or [])
                        for pos, v in current_cells(ecol):
                            if v in vs:
                                frag[pos] = None
                else:
                    # Maps.Putter / DiscarderByKey: per-entry cells, no
                    # read — other entries keep their own liveness
                    frag = elem_cells.setdefault(ecol, {})
                    if sign == "+":
                        for mk, mv in (val or {}).items():
                            frag[mk] = mv
                    else:
                        for mk in val or []:
                            frag[mk] = None
        # a BOUND whole-UDT value (SET u = ?) arrives as a plain dict in
        # `sets` — decompose it exactly like the parsed {…} literal path
        # (complex deletion at wt-1 + field cells); a non-dict bind on a
        # UDT column is a type error at prepare
        for ecol in self._nonfrozen_udt_cols():
            if ecol in sets and sets[ecol] is not None:
                v = sets.pop(ecol)
                if not isinstance(v, dict):
                    raise InvalidRequest(
                        f"Invalid {type(v).__name__} constant for UDT "
                        f"column {ecol!r}"
                    )
                self._cell_tombs.append(
                    CellTombstone(
                        self._key_of(key),
                        [f"{ecol}#{f}" for f in self._udt_fields(ecol)],
                        wt - 1,
                    )
                )
                udt_cells[ecol] = {
                    f: x for f, x in v.items() if x is not None
                }
                udt_null_fields.pop(ecol, None)
        # SET col = null is a cell DELETE (Constants.Setter null handling);
        # for a non-frozen UDT that means every FIELD cell dies
        null_sets = [c for c, v in sets.items() if v is None]
        cells = dict(key)
        cells.update({c: v for c, v in sets.items() if c not in null_sets})
        self._record(
            cells, using, deltas=deltas, forced_ts=forced_ts,
            elem_cells=elem_cells, udt_cells=udt_cells,
            row_live=bool(deltas), wt=wt,
        )
        tomb_cols = self._expand_udt_tomb_cols(null_sets)
        for ecol, fnames in udt_null_fields.items():
            tomb_cols.extend(f"{ecol}#{f}" for f in fnames)
        if tomb_cols:
            self._cell_tombs.append(
                CellTombstone(self._key_of(cells), tomb_cols, wt)
            )

    def _expand_udt_tomb_cols(self, cols: list) -> list:
        """Column-delete targets with non-frozen UDT columns expanded to
        their per-field cells (deleting the column = deleting every field
        cell; UserTypes.java full-column DeleterByField loop)."""
        nonfrozen = set(self._nonfrozen_udt_cols())
        out: list = []
        for c in cols:
            if c in nonfrozen:
                out.extend(f"{c}#{f}" for f in self._udt_fields(c))
            else:
                out.append(c)
        return out

    def _convert_coll(self, col: str, tagged: tuple):
        """Kind-aware conversion of a parsed collection literal (INSERT
        values): shape-checked against the declared column, set invariant
        normalized. Full-value writes are legal on frozen collections."""
        _, lk, val = tagged
        kind, _frozen = self._collection_kind(col)
        if kind is None:
            raise InvalidRequest(
                f"invalid collection literal for non-collection column {col!r}"
            )
        allowed = {"list": ("list",), "set": ("set", "empty"),
                   "map": ("map", "empty"), "udt": ("udt", "empty")}[kind]
        if lk not in allowed:
            raise InvalidRequest(f"invalid {lk} literal for {kind} column {col!r}")
        if kind == "udt":
            declared = self._udt_fields(col)
            unknown = sorted(set(val or {}) - set(declared))
            if unknown:
                raise InvalidRequest(
                    f"Unknown field {unknown[0]!r} in value of user defined "
                    f"type for column {col!r}"
                )
            return dict(val or {})
        if kind == "set":
            return sorted(set(val or []))
        if kind == "map":
            return dict(val or {})
        return list(val or [])

    def _udt_fields(self, col: str) -> list[str]:
        """Declared field names, in DECLARATION order, of a UDT column
        (UserType.java fieldNames — field position IS the cell path)."""
        dt = {f.name: f.dataType for f in self.meta.schema.fields}.get(col)
        if not isinstance(dt, T.StructType):
            raise InvalidRequest(f"column {col!r} is not a user type")
        return [f.name for f in dt.fields]

    def _nonfrozen_udt_cols(self) -> list[str]:
        """Columns declared as NON-frozen user types — the multi-cell
        ones (UserType.java:52-63 isMultiCell)."""
        info = self.collection_info
        if not info:
            return []
        return [
            c for c, k in info.kinds.items()
            if k == "udt" and c not in info.frozen
        ]

    def _collection_kind(self, col: str) -> tuple[str | None, bool]:
        """(declared collection kind | None, frozen?) for a column."""
        by_name = {f.name: f.dataType for f in self.meta.schema.fields}
        dt = by_name.get(col)
        if dt is None:
            raise InvalidRequest(f"undefined column {col!r}")
        info = self.collection_info
        kind = (info.kinds.get(col) if info else None) or (
            "map"
            if isinstance(dt, T.MapType)
            else "list" if isinstance(dt, T.ArrayType) else None
        )
        return kind, bool(info and col in info.frozen)

    def _validate_elem_ops(self, elem_ops: list) -> None:
        """Reference rejection rules for textual collection mutations
        (CollectionsTest / FrozenCollectionsTest ports):

        - frozen collections accept only full-value writes (coll_set) —
          element assignment, element delete, add/discard, prepend raise;
        - sets have no element assignment and no element delete (remove is
          ``s = s - {...}``; Sets.java defines no SetterByIndex/ByKey);
        - prepend is list-only; add/discard literals must shape-match the
          column (a map takes ``m + {k: v}`` and ``m - {keys}``);
        - element ops on a non-collection column are invalid.

        Everything legal is APPLIED at the reference's cell granularity:
        map put/key-discard, set add/discard, and list append/prepend are
        pure cell writes (Maps.Putter, Sets.Adder/Discarder,
        Lists.Appender/Prepender — no read, each element keeps its own
        writetime/ttl); list index set/delete and discard-by-value read
        the row first to resolve cell positions, exactly like
        Lists.SetterByIndex/DiscarderByIndex/Discarder.
        """
        if not elem_ops:
            return
        for op, col, *rest in elem_ops:
            kind, frozen = self._collection_kind(col)
            if op in ("udt_set", "udt_del"):
                # UserTypes.SetterByField / DeleterByField: field mutations
                # exist only for NON-frozen user types
                # (UpdateStatement/DeleteStatement checkContainsUDT)
                if kind != "udt":
                    raise InvalidRequest(
                        f"Invalid field selection: {col!r} is not a user type"
                    )
                if frozen:
                    raise InvalidRequest(
                        f"Invalid operation on frozen UDT column {col!r}: "
                        "frozen user types only support full-value writes"
                    )
                if rest[0] not in self._udt_fields(col):
                    raise InvalidRequest(
                        f"UDT column {col!r} does not have a field {rest[0]!r}"
                    )
                continue
            if kind is None:
                raise InvalidRequest(
                    f"invalid element operation on non-collection column {col!r}"
                )
            if kind == "udt":
                if op == "coll_set":
                    lk = rest[0][0]
                    if lk not in ("udt", "empty"):
                        raise InvalidRequest(
                            f"invalid {lk} literal for UDT column {col!r}"
                        )
                    declared = set(self._udt_fields(col))
                    unknown = sorted(set(rest[0][1] or {}) - declared)
                    if unknown:
                        raise InvalidRequest(
                            f"Unknown field {unknown[0]!r} in value of user "
                            f"defined type for column {col!r}"
                        )
                    continue
                raise InvalidRequest(
                    f"invalid collection operation on UDT column {col!r}"
                )
            if op == "coll_set":
                lk = rest[0][0]
                # bare {} is ambiguous set-or-map; [] only parses as list
                allowed = {"list": ("list",), "set": ("set", "empty"),
                           "map": ("map", "empty")}[kind]
                if lk not in allowed:
                    raise InvalidRequest(
                        f"invalid {lk} literal for {kind} column {col!r}"
                    )
                continue  # full-value writes are legal even on frozen
            if frozen:
                raise InvalidRequest(
                    f"invalid operation on frozen collection column {col!r}: "
                    "frozen collections only support full-value writes"
                )
            if kind == "set" and op == "set_elem":
                raise InvalidRequest(
                    f"invalid operation on set column {col!r}: sets have no "
                    "element assignment (use s = s + {...} / s = s - {...})"
                )
            if kind == "set" and op == "del_elem":
                raise InvalidRequest(
                    f"invalid deletion operation on set column {col!r}: "
                    "remove elements with s = s - {...}"
                )
            if op == "coll_prepend" and kind != "list":
                raise InvalidRequest(
                    f"prepend is only defined for lists, not {kind} column {col!r}"
                )
            if op == "coll_delta":
                sign, (lk, _v) = rest[0], rest[1]
                if kind == "list" and lk not in ("list", "empty"):
                    raise InvalidRequest(
                        f"list add/discard on {col!r} takes a [...] literal"
                    )
                if kind == "set" and lk not in ("set", "empty"):
                    raise InvalidRequest(
                        f"set add/discard on {col!r} takes a {{...}} literal"
                    )
                if kind == "map" and sign == "+" and lk not in ("map", "empty"):
                    raise InvalidRequest(
                        f"map put on {col!r} takes a {{k: v}} literal"
                    )
                if kind == "map" and sign == "-" and lk not in ("set", "empty"):
                    raise InvalidRequest(
                        f"map key removal on {col!r} takes a {{keys}} literal"
                    )

    def _condition_holds(self, cond, key: tuple) -> bool:
        """LWT condition evaluation (ColumnCondition.Bound.appliesTo:228;
        ModificationStatement.executeWithCondition:480): read the current
        visible row for the key, decide applied/not-applied. The Paxos
        machinery itself is consensus plumbing with no analytics analog —
        only the compare semantics carry over."""
        if cond is None:
            return True
        row = self._read_visible_rows(key)
        if cond[0] == "exists":
            return bool(row)
        if cond[0] == "not_exists":
            return not row
        import operator

        ops = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
               "<=": operator.le, ">": operator.gt, ">=": operator.ge}
        # a missing row reads every column as null — the reference's
        # null-cell comparison rules apply unchanged (a CAS with
        # `IF v = null` on a nonexistent row APPLIES)
        r = row[0].asDict() if row else {}
        known = {f.name for f in self.meta.schema.fields}
        # prepare-time validation over the WHOLE clause first: a typo'd
        # guard must ERROR even when an earlier condition already failed
        # or a cell reads null — PREPARE errors are never data-dependent.
        # min/maxTimeuuid extremes resolve here: on a declared timeuuid
        # column =/!=/IN compare the fake extreme uuid and ranges keep
        # the bound for the op-aware eval below; on any other column the
        # type mismatch rejects exactly like the SELECT gate.
        normalized = []
        for col, ekey, op, val in cond[1]:
            if col not in known:
                raise InvalidRequest(f"Undefined column name {col}")
            decl_tu = _decl_timeuuid(self.meta, col)
            if isinstance(val, TimeuuidBound):
                if not decl_tu:
                    if op in ("<", "<=", ">", ">="):
                        raise InvalidRequest(
                            f"{val.kind}Timeuuid() can only be compared "
                            f"to a timeuuid column; {col!r} is not "
                            "declared timeuuid"
                        )
                    val.reject(op)
                if op in ("=", "!="):
                    val = val.uuid_text()
            elif op == "IN" and isinstance(val, list):
                val = [
                    (
                        x.uuid_text()
                        if decl_tu
                        else x.reject("IN")
                    )
                    if isinstance(x, TimeuuidBound)
                    else x
                    for x in val
                ]
            # udtFieldCondition / ElementAccessBound shape validation is
            # part of the SAME prepare pass — a typo'd field, a null
            # element key, or element syntax on a scalar must ERROR even
            # when an earlier condition already failed or a cell is null
            if isinstance(ekey, tuple) and ekey[:1] == ("__udtf__",):
                kind, _fz = self._collection_kind(col)
                if kind != "udt":
                    raise InvalidRequest(
                        f"Invalid field access for column {col!r}: "
                        "not a user type"
                    )
                if ekey[1] not in self._udt_fields(col):
                    raise InvalidRequest(
                        f"UDT column {col!r} does not have a field "
                        f"{ekey[1]!r}"
                    )
            elif ekey is not _NO_ELEM:
                kind, _fz = self._collection_kind(col)
                if ekey is None:
                    raise InvalidRequest(
                        "Invalid null value for "
                        f"{'map' if kind == 'map' else 'list'} element access"
                    )
                if kind not in ("map", "list"):
                    raise InvalidRequest(
                        f"Invalid element access syntax for column {col!r} "
                        "(element conditions apply to lists and maps only)"
                    )
            if val is None and op not in ("=", "!=", "IN"):
                # ColumnCondition null rules: a null condition VALUE is
                # legal for =/!= only — a literal/bound null with a range
                # op rejects regardless of row data
                raise InvalidRequest(
                    f'Invalid comparison with null for operator "{op}"'
                )
            normalized.append((col, ekey, op, val))
        for col, ekey, op, val in normalized:
            cur = r.get(col)
            if isinstance(ekey, tuple) and ekey[:1] == ("__udtf__",):
                # one FIELD of a UDT column; a missing column (or dead
                # field cell) reads null
                cur = None if cur is None else cur[ekey[1]]
            elif ekey is not _NO_ELEM:
                # resolve the element; a missing map key or out-of-bounds
                # list index reads null
                kind, _fz = self._collection_kind(col)
                if kind == "map":
                    cur = (cur or {}).get(ekey)
                else:
                    lst = cur or []
                    ok_idx = isinstance(ekey, int) and 0 <= ekey < len(lst)
                    cur = lst[ekey] if ok_idx else None
            # null comparison rules (ColumnCondition.java:241-258):
            # a null CONDITION VALUE is legal for =/!= only; a null CELL
            # satisfies only != against a non-null value
            if op == "IN":
                # EQ against any listed value; a null list element
                # matches a null cell (per-element compareWithOperator).
                # min/maxTimeuuid elements resolved in the prepare pass.
                ok = any(
                    (x is None and cur is None)
                    or (
                        x is not None
                        and cur is not None
                        and operator.eq(*_tz_norm(cur, x))
                    )
                    for x in val
                )
            elif val is None:
                # only =/!= reach here — range-vs-null rejected at prepare
                ok = (cur is None) if op == "=" else (cur is not None)
            elif cur is None:
                ok = op == "!="
            else:
                if isinstance(val, TimeuuidBound):
                    # only RANGE ops on declared timeuuid columns survive
                    # the prepare pass: compare the cell's embedded v1
                    # ticks against the bound's tick edge with the
                    # stored-extreme fixup (TimeuuidBound.edge_full —
                    # TimeUUIDType order)
                    from cassandra_pmem_spark.cql.terms import (
                        ticks_of_uuid_text,
                    )

                    op2, edge, fix = val.edge_full(op)
                    if fix is not None and cur == fix[1]:
                        ok = fix[0] == "include"
                    else:
                        ok = ops[op2](ticks_of_uuid_text(cur), edge)
                elif (
                    op in ("<", "<=", ">", ">=")
                    and _decl_timeuuid(self.meta, col)
                    and isinstance(cur, str)
                    and isinstance(val, str)
                ):
                    # plain timeuuid range condition: TimeUUIDType
                    # compares embedded timestamps first, text breaking
                    # ties (the engine's documented tie order)
                    from cassandra_pmem_spark.cql.terms import (
                        ticks_of_uuid_text,
                    )

                    ok = ops[op](
                        (ticks_of_uuid_text(cur), cur),
                        (ticks_of_uuid_text(val), val),
                    )
                else:
                    ok = ops[op](*_tz_norm(cur, val))
            if not ok:
                return False
        return True

    def _read_visible_rows(self, key: tuple) -> list:
        """Point read of the current visible row for a full primary key —
        the reference's read-before-write (LWT conditions, list index
        resolution). Bounded: one key, limit 1. Reads at the session
        clock so TTL-expired cells are dead to conditions, matching the
        reference's nowInSec read (StorageProxy.cas reads at the
        request's nowInSeconds; an expired cell never satisfies IF)."""
        current = self.table(now=self._clock_ref[0])
        flt = F.lit(True)
        for kc, kv in zip(self.meta.primary_key, key):
            flt = flt & (F.col(kc) == F.lit(kv))
        # NO .limit(1): the full-pk filter already yields <=1 row, and a
        # LIMIT above this shuffle plan would run CollectLimit's
        # incremental multi-job execution (measured 537ms vs 78ms for
        # the plain collect on a 6-row buffer table)
        return current.filter(flt).collect()

    def _read_visible(self, key: tuple) -> dict | None:
        row = self._read_visible_rows(key)
        return row[0].asDict() if row else None

    def _list_cells(self, key: tuple, col: str) -> list[tuple[str, Any]]:
        """Position-ordered (cell key, value) pairs of one visible list —
        the read-before-write Lists.SetterByIndex/DiscarderByIndex/
        Discarder perform. When the column is already cell-tracked the
        positions ALWAYS come from the real per-cell merge — the read
        forces the column through it (force_elem), so tie-breaks and TTL
        expiry match what a later merge will produce exactly; no
        synthesized keys. Bounded: one key, limit 1."""
        df = self.table(
            now=self._clock_ref[0], with_shadows=True, force_elem={col}
        )
        flt = F.lit(True)
        for kc, kv in zip(self.meta.primary_key, key):
            flt = flt & (F.col(kc) == F.lit(kv))
        # no .limit(1) — full-pk filter yields <=1 row; see
        # _read_visible_rows on CollectLimit's multi-job cost
        rows = df.filter(flt).collect()
        if not rows:
            return []
        row = rows[0].asDict()
        vals = row.get(col) or []
        cellwt = row.get(f"_cellwt_{col}") or {}
        return list(zip(sorted(cellwt.keys()), vals))

    def _snapshot(self) -> tuple:
        """Buffer watermark for batch rollback. Inner batch statements only
        APPEND to the four buffers (TRUNCATE, which clears them, is
        rejected inside BATCH), so restoring = truncating back to the
        recorded lengths and rewinding the shared coordinator clock."""
        return (
            len(self._mutations),
            len(self._row_tombs),
            len(self._cell_tombs),
            len(self._range_tombs),
            self._clock_ref[0],
            # now()-fold occurrences roll back with the clock: a REJECTED
            # (or condition-false) statement's folds were never written,
            # so the next statement may re-mint them — "a rejected
            # statement leaves no trace" stays exact (journal watermark,
            # O(1); the store is shared and rewinds IN PLACE)
            self._now_occs.mark(),
        )

    def _restore(self, snap: tuple) -> None:
        self._generation += 1
        n_mut, n_row, n_cell, n_rng, clock, occ_mark = snap
        del self._mutations[n_mut:]
        del self._row_tombs[n_row:]
        del self._cell_tombs[n_cell:]
        del self._range_tombs[n_rng:]
        self._clock_ref[0] = clock
        self._now_occs.rewind(occ_mark)

    def _tick(self) -> int:
        self._clock_ref[0] += 1
        return self._clock_ref[0]

    def _alloc_now_occ(self, base_v1_ticks: int) -> int:
        """Occurrence offset for the next now()-family mint whose
        statement instant is `base_v1_ticks` (100ns v1 tick space, NOT a
        session-clock tick — SessionClockFold converts) — the shared
        NowOccs allocator keeps every minted v1 tick globally unique."""
        return self._now_occs.alloc(base_v1_ticks)

    def _downgrade_bound(self, col: str, val):
        """A min/maxTimeuuid fold lands per the target column's declared
        type: a timeuuid column stores the reference's fake extreme uuid
        (UUIDGen.minTimeUUID:198/maxTimeUUID:209), a timestamp column the
        plain instant (the r9 shadow contract). Applied EARLY in the
        INSERT path so key extraction and tombstone addressing never see
        a datetime subclass."""
        if isinstance(val, TimeuuidBound):
            if _decl_timeuuid(self.meta, col):
                return val.uuid_text()
            return val.instant()
        return val

    def _resolve_tu_keys(self, key: dict) -> dict:
        """min/maxTimeuuid folds in WHERE =/IN key positions: on a
        declared timeuuid column the extreme IS a value — the reference's
        fake uuid — so the predicate that SELECTs a stored extreme
        addresses it in UPDATE/DELETE too; elsewhere it equals nothing
        real and rejects with guidance (parser parity)."""

        def one(col, v, where):
            if not isinstance(v, TimeuuidBound):
                return v
            if _decl_timeuuid(self.meta, col):
                return v.uuid_text()
            v.reject(where)

        out = {}
        for col, v in key.items():
            if isinstance(v, tuple) and v[:1] == ("__in__",):
                out[col] = ("__in__", [one(col, x, "IN") for x in v[1]])
            else:
                out[col] = one(col, v, "=")
        return out

    def _gate_tu_ranges(self, ranges: dict) -> None:
        """DELETE slice bounds: a min/maxTimeuuid extreme requires a
        DECLARED timeuuid column — the same prepare-time gate SELECT
        relations apply (the reference rejects the timeuuid/timestamp
        type mismatch; without the gate the fold would silently compile
        a ±1ms edge against a plain timestamp column a user cannot
        SELECT-preview)."""
        for col, (lo, hi) in ranges.items():
            for bound in (lo, hi):
                if bound is not None and isinstance(bound[0], TimeuuidBound):
                    if not _decl_timeuuid(self.meta, col):
                        raise InvalidRequest(
                            f"{bound[0].kind}Timeuuid() can only be "
                            f"compared to a timeuuid column; {col!r} is "
                            "not declared timeuuid"
                        )

    def _key_of(self, cells: dict) -> tuple:
        missing = [k for k in self.meta.primary_key if k not in cells]
        if missing:
            raise InvalidRequest(f"primary key columns {missing} must be specified")
        return tuple(cells[k] for k in self.meta.primary_key)

    def _record(
        self,
        cells: dict,
        using: dict,
        deltas: dict | None = None,
        forced_ts: int | None = None,
        elem_cells: dict | None = None,
        udt_cells: dict | None = None,
        row_live: bool = True,
        wt: int | None = None,
    ) -> None:
        known = {f.name for f in self.meta.schema.fields}
        unknown = (
            set(cells) | set(deltas or {}) | set(elem_cells or {})
            | set(udt_cells or {})
        ) - known
        if unknown:
            raise InvalidRequest(f"unknown columns {sorted(unknown)}")
        # bind/literal TYPE validation at prepare time (the reference
        # rejects mis-typed constants before any execution; without this
        # a string bound to a bigint key surfaces as a Spark cast error
        # deep inside the read plan)
        by_name = {f.name: f.dataType for f in self.meta.schema.fields}

        def checked(val, dt, label):
            """Prepare-time constant/bind type validation (the reference
            rejects mis-typed constants before any execution). Returns
            the value, int→float widened for floating targets like CQL."""
            ok = True
            if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
                ok = isinstance(val, int) and not isinstance(val, bool)
            elif isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
                import decimal as _dec

                ok = isinstance(
                    val, (int, float, _dec.Decimal)
                ) and not isinstance(val, bool)
                if ok and isinstance(val, int) and isinstance(
                    dt, (T.DoubleType, T.FloatType)
                ):
                    return float(val)  # int literal widens, like CQL
                if ok and isinstance(dt, T.DecimalType) and not isinstance(
                    val, _dec.Decimal
                ):
                    # decimal/varint targets take the EXACT literal text
                    # value (createDataFrame rejects raw float for
                    # DecimalType; str() round-trips the parsed literal).
                    # A widened local context: the default 28-digit
                    # precision makes quantize raise for legal in-range
                    # values (11 integer digits + scale 18 = 29 digits);
                    # anything that still won't fit is a prepare error,
                    # never a raw decimal.InvalidOperation.
                    try:
                        with _dec.localcontext() as ctx:
                            ctx.prec = dt.precision + dt.scale + 4
                            d = _dec.Decimal(str(val))
                            if dt.scale == 0 and d % 1 != 0:
                                # varint: CQL rejects non-integer
                                # constants at prepare — never round
                                raise InvalidRequest(
                                    f"Invalid non-integer constant "
                                    f"({val!r}) for \"{label}\" of type "
                                    "varint"
                                )
                            d = d.quantize(_dec.Decimal(1).scaleb(-dt.scale))
                    except _dec.InvalidOperation as exc:
                        raise InvalidRequest(
                            f"Constant {val!r} is out of range for "
                            f'"{label}" of type {dt.simpleString()}'
                        ) from exc
                    if d.adjusted() >= dt.precision - dt.scale:
                        raise InvalidRequest(
                            f"Constant {val!r} is out of range for "
                            f'"{label}" of type {dt.simpleString()}'
                        )
                    return d
            elif isinstance(dt, T.StringType):
                ok = isinstance(val, str)
            elif isinstance(dt, T.BooleanType):
                ok = isinstance(val, bool)
            elif isinstance(dt, T.TimestampType):
                import datetime as _dtm

                if isinstance(val, str):
                    return _parse_timestamp_text(val, label)
                if isinstance(val, int) and not isinstance(val, bool):
                    # integer constants are epoch millis
                    # (TimestampSerializer / CQL timestamp literals)
                    return (_dtm.datetime(1970, 1, 1,
                                          tzinfo=_dtm.timezone.utc)
                            + _dtm.timedelta(milliseconds=val))
                ok = isinstance(val, _dtm.datetime)
            elif isinstance(dt, T.DateType):
                import datetime as _dtm

                if isinstance(val, str):
                    try:
                        return _dtm.date.fromisoformat(val)
                    except ValueError as exc:
                        raise InvalidRequest(
                            f"Unable to coerce {val!r} to a formatted "
                            f"date for \"{label}\""
                        ) from exc
                ok = isinstance(val, _dtm.date)
            elif isinstance(dt, T.ArrayType):
                ok = isinstance(val, (list, tuple))
            elif isinstance(dt, T.MapType):
                ok = isinstance(val, dict)
            elif isinstance(dt, T.StructType):
                ok = isinstance(val, dict)
                if ok:
                    # frozen-UDT whole values validate PER FIELD too —
                    # same prepare-time rules as the multi-cell path
                    ftypes = {f.name: f.dataType for f in dt.fields}
                    unknown = sorted(set(val) - set(ftypes))
                    if unknown:
                        raise InvalidRequest(
                            f"Unknown field {unknown[0]!r} in value of "
                            f"user defined type for \"{label}\""
                        )
                    return {
                        f: (
                            None
                            if v is None
                            else checked(v, ftypes[f], f"{label}.{f}")
                        )
                        for f, v in val.items()
                    }
            if not ok:
                raise InvalidRequest(
                    f"Invalid {type(val).__name__} constant ({val!r}) for "
                    f'"{label}" of type {dt.simpleString()}'
                )
            return val

        cells = dict(cells)
        for col, val in cells.items():
            # bound folds land per the declared type (the INSERT handler
            # already downgraded; UPDATE SET values resolve here), BEFORE
            # checked() so no datetime subclass survives to Spark row
            # construction
            val = self._downgrade_bound(col, val)
            cells[col] = val
            if val is None:
                continue
            cells[col] = checked(val, by_name[col], col)
        udt_cells = {c: dict(m) for c, m in (udt_cells or {}).items()}
        for col, fcells in udt_cells.items():
            dt = by_name[col]
            if not isinstance(dt, T.StructType):
                raise InvalidRequest(f"column {col!r} is not a user type")
            ftypes = {f.name: f.dataType for f in dt.fields}
            for fname, val in list(fcells.items()):
                if fname not in ftypes:
                    raise InvalidRequest(
                        f"UDT column {col!r} does not have a field {fname!r}"
                    )
                # field-level declared types aren't tracked: a bound
                # inside a UDT keeps the r9 instant contract
                fcells[fname] = checked(_plain_value(val), ftypes[fname], f"{col}.{fname}")
        if wt is not None:
            pass  # caller pre-computed the statement timestamp
        elif "timestamp" in using:
            wt = using["timestamp"]
        elif forced_ts is not None:
            wt = forced_ts  # batch: one shared coordinator timestamp
        else:
            wt = self._tick()
        # collection-element values keep the r9 instant contract for
        # bounds (element-level declared types aren't tracked)
        elem_cells = {
            c: {k: _plain_value(v) for k, v in m.items()}
            for c, m in (elem_cells or {}).items()
        }
        self._mutations.append(
            Mutation(
                self._key_of(cells),
                cells,
                wt,
                ttl=using.get("ttl"),
                counter_deltas=deltas or {},
                elem_cells=elem_cells,
                udt_cells=udt_cells,
                row_live=row_live,
            )
        )

    # -- read path ------------------------------------------------------------

    def _log_frame(self, rows: list, log_schema: T.StructType) -> DataFrame:
        """Mutation-log DataFrame. Arrow-backed when the values convert
        (pyarrow table → JVM LocalTableScan): a tuple-list createDataFrame
        produces a `Scan ExistingRDD` whose EVERY job round-trips the
        pickled rows through Python workers — measured 579ms vs 213ms
        per fresh statement-path plan+collect on a 10-row buffer. The
        RDD path remains the fallback for any value shape pyarrow can't
        take (it is the semantic reference; the 203-query oracle gate
        covers both).

        The fast path is gated on spark.sql.session.timeZone == UTC:
        pa.array interprets naive datetimes as UTC, while createDataFrame
        localizes them to the session zone — under a non-UTC session the
        two paths would silently disagree on timestamp cells (get_spark
        pins UTC, so the gate only matters for foreign sessions)."""
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            from cassandra_pmem_spark.session import session_tz_is_utc

            if (not session_tz_is_utc(self.spark)
                    and "timestamp" in log_schema.simpleString()):
                raise ValueError("non-UTC session timezone")
            aschema = to_arrow_schema(log_schema)
            cols = list(zip(*rows))
            arrays = [
                pa.array(list(c), type=f.type)
                for c, f in zip(cols, aschema)
            ]
            return self.spark.createDataFrame(
                pa.Table.from_arrays(arrays, schema=aschema)
            )
        except Exception:
            return self.spark.createDataFrame(rows, log_schema)

    def table(
        self,
        now: int | None = None,
        with_shadows: bool = False,
        force_elem: set | None = None,
    ) -> DataFrame:
        """Visible state — what a SELECT over this table reads.

        with_shadows=True keeps each value column's liveness alongside it:
        ``_writetime_{col}`` (the WRITETIME(col) selector's source) and
        ``_ttl_{col}`` = remaining time at ``now`` (the TTL(col) selector;
        NULL for cells written without TTL), both in the session's
        logical-clock unit.

        force_elem routes the named collection columns through the
        per-cell merge even without element mutations — the
        read-before-write path uses it to see the EXACT cell keys a
        later merge will produce (ties, TTL expiry and all), instead of
        synthesizing them."""
        meta = self.meta
        fields = [f.name for f in meta.schema.fields]
        by_name = {f.name: f for f in meta.schema.fields}
        key_cols = list(meta.primary_key)
        value_cols = [c for c in fields if c not in key_cols]
        # collection columns with per-cell mutations merge cell-by-cell
        # (maps keyed by entry key, sets by element, lists by position
        # string); every other column keeps the atomic cell-LWW path
        # every non-frozen collection column with a DECLARED kind merges
        # per cell, matching the reference's multi-cell columns — tied
        # full writes keep both cell sets (each complex deletion at wt-1
        # shadows neither), which a whole-value LWW cannot express.
        # Sessions without CollectionInfo (bare API metas) keep the
        # scalar path for their collections.
        auto_elem: set = set()
        if self.collection_info:
            for c in value_cols:
                k = self.collection_info.kinds.get(c)
                if k and k != "udt" and c not in self.collection_info.frozen:
                    auto_elem.add(c)
        elem_cols = sorted(
            {c for m in self._mutations for c in m.elem_cells}
            | (force_elem or set())
            | auto_elem
        )
        # non-frozen UDT columns merge per FIELD cell: each field becomes
        # a synthetic scalar column "col#field" with its own liveness
        # (UserType.java:52-63 multi-cell; the field index is the cell
        # path), reassembled into the struct after the merge
        udt_cols = [c for c in value_cols if c in set(self._nonfrozen_udt_cols())]
        udt_syn: dict[str, list[tuple[str, str, T.DataType]]] = {}
        for c in udt_cols:
            udt_syn[c] = [
                (f"{c}#{f.name}", f.name, f.dataType)
                for f in by_name[c].dataType.fields
            ]
        syn_names = [s for c in udt_cols for (s, _f, _t) in udt_syn[c]]
        scalar_cols = [
            c for c in value_cols if c not in elem_cols and c not in udt_cols
        ] + syn_names

        # mutation log rows: values + per-mutation writetime/expiry shadows;
        # per elem col, the fragment map (__frag) and the full-write flag
        # (__full — a full map value is a complex deletion + cells)
        extra_fields = [
            T.StructField("__writetime", T.LongType()),
            T.StructField("__expiry", T.LongType()),
            T.StructField("__row_live_wt", T.LongType()),
            # issuance order (base = 0, i-th mutation = i+1): drives list
            # cell POSITIONS, while __writetime drives liveness
            T.StructField("__stmt", T.LongType()),
        ]
        for c in elem_cols:
            extra_fields.append(
                T.StructField(f"__frag_{c}", self._cell_map_type(c, by_name[c].dataType))
            )
            extra_fields.append(T.StructField(f"__full_{c}", T.BooleanType()))
        for c in udt_cols:
            for syn, _f, ftype in udt_syn[c]:
                extra_fields.append(T.StructField(syn, ftype))
        log_schema = T.StructType(list(meta.schema.fields) + extra_fields)
        rows = []
        for i, m in enumerate(self._mutations, start=1):
            row = dict.fromkeys(fields)
            row.update(m.cells)
            expiry = (m.writetime + m.ttl) if m.ttl is not None else None
            extras: list = [
                m.writetime,
                expiry,
                m.writetime if m.row_live else None,
                i,
            ]
            for c in elem_cols:
                extras.append(m.elem_cells.get(c))
                extras.append(c in m.cells and m.cells[c] is not None)
            for c in udt_cols:
                fcells = m.udt_cells.get(c, {})
                extras.extend(fcells.get(f) for (_s, f, _t) in udt_syn[c])
            rows.append(
                tuple(_plain_value(row[c]) for c in fields)
                + tuple(_plain_value(x) for x in extras)
            )

        log = self._log_frame(rows, log_schema) if rows else None
        if self._base is not None:
            base = (
                self._base.select(*fields)
                .withColumn("__writetime", F.lit(0).cast("long"))
                .withColumn("__expiry", F.lit(None).cast("long"))
                .withColumn("__row_live_wt", F.lit(0).cast("long"))
                .withColumn("__stmt", F.lit(0).cast("long"))
            )
            for c in elem_cols:
                base = base.withColumn(
                    f"__frag_{c}",
                    F.lit(None).cast(self._cell_map_type(c, by_name[c].dataType)),
                ).withColumn(f"__full_{c}", F.col(c).isNotNull())
            for c in udt_cols:
                # base struct decomposes into field cells written at t=0;
                # a field ADDed by ALTER TYPE after the base was captured
                # back-fills null (AlterTypeStatement ADD semantics)
                base_dt = self._base.schema[c].dataType
                have = (
                    {f.name for f in base_dt.fields}
                    if isinstance(base_dt, T.StructType)
                    else set()
                )
                for syn, f, ftype in udt_syn[c]:
                    base = base.withColumn(
                        syn,
                        F.col(c).getField(f)
                        if f in have
                        else F.lit(None).cast(ftype),
                    )
                # the struct column itself is dead weight post-
                # decomposition (reassembly rebuilds it) — null it at the
                # DECLARED type so unionByName can't clash when the base
                # was captured under a pre-ALTER TYPE shape
                base = base.withColumn(c, F.lit(None).cast(by_name[c].dataType))
            log = base.unionByName(log) if log is not None else base
        if log is None:
            # empty session: the zero-row frame still needs the shadow
            # columns when asked for them — a writetime()/ttl() SELECT
            # over an empty table must return 0 rows, not fail to resolve
            schema_fields = list(meta.schema.fields)
            if with_shadows:
                for c in value_cols:
                    schema_fields.append(T.StructField(f"_writetime_{c}", T.LongType()))
                    schema_fields.append(T.StructField(f"_ttl_{c}", T.LongType()))
                for c in elem_cols:
                    kt = self._cell_map_type(c, by_name[c].dataType).keyType
                    schema_fields.append(
                        T.StructField(f"_cellwt_{c}", T.MapType(kt, T.LongType()))
                    )
                    schema_fields.append(
                        T.StructField(f"_cellttl_{c}", T.MapType(kt, T.LongType()))
                    )
                for c in udt_cols:
                    schema_fields.append(
                        T.StructField(f"_cellwt_{c}", T.MapType(T.StringType(), T.LongType()))
                    )
                    schema_fields.append(
                        T.StructField(f"_cellttl_{c}", T.MapType(T.StringType(), T.LongType()))
                    )
            return self.spark.createDataFrame([], T.StructType(schema_fields))

        # complex deletions never expire — compute them BEFORE the TTL
        # purge (a full map write at wt shadows older cells at wt-1,
        # CompactionIterator / ComplexColumnData deletion semantics)
        log_all = log

        # TTL expiry is per-cell at read time: expired mutations simply
        # vanish from the log before the merge (PurgeFunction analog)
        if now is not None:
            log = log.filter(F.col("__expiry").isNull() | (F.col("__expiry") > F.lit(now)))

        if scalar_cols:
            merged = upsert_lww_cells(
                log,
                key=key_cols,
                value_cols=scalar_cols,
                writetime_col="__writetime",
                expiry_col="__expiry",
            )
        else:  # every value column is per-cell: pk universe only
            merged = log.select(*key_cols).distinct()
        liveness = log.groupBy(*key_cols).agg(
            F.max("__row_live_wt").alias("__rlwt")
        )
        merged = merged.join(liveness, key_cols, "left")
        for c in elem_cols:
            merged = merged.join(
                self._merge_elem_col(log, log_all, key_cols, c), key_cols, "left"
            ).withColumn(
                f"_writetime_{c}",
                F.when(
                    F.size(F.map_values(F.col(f"_cellwt_{c}"))) > 0,
                    F.array_max(F.map_values(F.col(f"_cellwt_{c}"))),
                ),
            ).withColumn(
                f"_expiry_{c}",
                F.when(
                    F.size(F.map_values(F.col(f"_cellexp_{c}"))) > 0,
                    F.array_max(F.map_values(F.col(f"_cellexp_{c}"))),
                ),
            )

        # counter folding (CounterMutation.java:49): deltas replayed on top
        for m in self._mutations:
            for col, d in m.counter_deltas.items():
                cond = F.lit(True)
                for kc, kv in zip(key_cols, m.key):
                    cond = cond & (F.col(kc) == F.lit(kv))
                merged = merged.withColumn(
                    col,
                    F.when(cond, F.coalesce(F.col(col), F.lit(0)) + F.lit(d)).otherwise(
                        F.col(col)
                    ),
                )

        # cell tombstones: null out cells whose surviving writetime <= delete ts
        # (their liveness shadows go with them — a deleted cell has no
        # writetime/ttl to SELECT). For per-cell map columns the shadow is
        # cell-granular: only entries written at or before the delete die.
        for ct in self._cell_tombs:
            cond = F.lit(True)
            for kc, kv in zip(key_cols, ct.key):
                cond = cond & (F.col(kc) == F.lit(kv))
            for col in ct.columns:
                if col in elem_cols:
                    merged = self._shadow_elem_cells(merged, col, cond, ct.writetime)
                    continue
                dead = cond & (
                    F.col(f"_writetime_{col}").isNull()
                    | (F.col(f"_writetime_{col}") <= F.lit(ct.writetime))
                )
                merged = merged.withColumn(
                    col, F.when(dead, F.lit(None)).otherwise(F.col(col))
                )
                for sh in (f"_writetime_{col}", f"_expiry_{col}"):
                    merged = merged.withColumn(
                        sh, F.when(dead, F.lit(None)).otherwise(F.col(sh))
                    )

        # row + range tombstones (db/DeletionTime.java, RangeTombstone.java):
        # a delete at t shadows every matching cell with writetime <= t — so
        # delete-then-reinsert keeps only the newer cells. Rows whose cells
        # are all shadowed disappear.
        shadow_preds = []
        for rt in self._row_tombs:
            cond = F.lit(True)
            for kc, kv in zip(key_cols, rt.key):
                cond = cond & (F.col(kc) == F.lit(kv))
            shadow_preds.append((cond, rt.writetime))
        for rg in self._range_tombs:
            cond = F.lit(True)
            for kc, kv in rg.eq.items():
                cond = cond & (F.col(kc) == F.lit(kv))
            for col, (lo, hi) in rg.ranges.items():
                for bound, is_lo in ((lo, True), (hi, False)):
                    if bound is None:
                        continue
                    v, incl = bound
                    if isinstance(v, TimeuuidBound):
                        # min/maxTimeuuid slice bound (declared timeuuid —
                        # gated at the statement): the SAME op-aware
                        # tick-edge + extreme fixup the SELECT preview
                        # compiles (TimeuuidBound.edge_full)
                        from cassandra_pmem_spark.functions.timefcts import (
                            timeuuid_ticks,
                        )

                        op = (">" if is_lo else "<") + ("=" if incl else "")
                        op2, edge, fix = v.edge_full(op)
                        lhs = timeuuid_ticks(col)
                        sub = (
                            (lhs >= F.lit(int(edge)))
                            if op2 == ">="
                            else (lhs < F.lit(int(edge)))
                        )
                        if fix is not None:
                            mode, text = fix
                            if mode == "exclude":
                                sub = sub & (F.col(col) != F.lit(text))
                            else:
                                sub = sub | (F.col(col) == F.lit(text))
                        cond = cond & sub
                        continue
                    lhs, rv = F.col(col), v
                    if _decl_timeuuid(meta, col):
                        # declared timeuuid: compare in TimeUUIDType's
                        # order, not text order. A datetime bound compares
                        # on the embedded ticks alone; a uuid-text bound on
                        # (ticks, text) like the read path's _cmp_key.
                        lhs, rv = _timeuuid_range_sides(col, v)
                    if is_lo:
                        cond = cond & ((lhs >= rv) if incl else (lhs > rv))
                    else:
                        cond = cond & ((lhs <= rv) if incl else (lhs < rv))
            shadow_preds.append((cond, rg.writetime))
        if shadow_preds:
            any_key_cond = F.lit(False)
            for cond, wt in shadow_preds:
                any_key_cond = any_key_cond | cond
                merged = merged.withColumn(
                    "__rlwt",
                    F.when(
                        cond & (F.col("__rlwt") <= F.lit(wt)), F.lit(None)
                    ).otherwise(F.col("__rlwt")),
                )
                for col in elem_cols:
                    merged = self._shadow_elem_cells(merged, col, cond, wt)
                for col in scalar_cols:
                    # Materialize deadness FIRST: the chained withColumns
                    # below mutate columns that `dead` references, and a
                    # lazily-bound expression would re-evaluate against
                    # the already-nulled column (wrong answer).
                    merged = merged.withColumn(
                        f"__dead_{col}",
                        cond
                        & (
                            F.col(f"_writetime_{col}").isNull()
                            | (F.col(f"_writetime_{col}") <= F.lit(wt))
                        ),
                    )
                    dead = F.col(f"__dead_{col}")
                    merged = merged.withColumn(
                        col, F.when(dead, F.lit(None)).otherwise(F.col(col))
                    ).withColumn(
                        f"_writetime_{col}",
                        F.when(dead, F.lit(None)).otherwise(F.col(f"_writetime_{col}")),
                    ).withColumn(
                        f"_expiry_{col}",
                        F.when(dead, F.lit(None)).otherwise(F.col(f"_expiry_{col}")),
                    ).drop(f"__dead_{col}")
        # non-frozen empty collections are a COMPLEX DELETION, not a
        # value: writing {} / [] stores no cells, so the column is dead —
        # value NULL and no liveness (WRITETIME must be NULL, and an
        # UPDATE-created row whose only column is an empty collection is
        # not visible at all). Runs BEFORE the row-visibility filter so
        # the dead column cannot keep the row alive. Frozen collections
        # are single cells and keep their empty value.
        info = self.collection_info
        for col in value_cols:
            dt = by_name[col].dataType
            if not isinstance(dt, (T.ArrayType, T.MapType)):
                continue
            if info and col in info.frozen:
                continue
            if col in elem_cols:
                continue  # per-cell path already stores no cells for {}
            sz = F.size(
                F.map_keys(F.col(col)) if isinstance(dt, T.MapType) else F.col(col)
            )
            # `sz == 0` references `col`, which the first withColumn
            # nulls; materialize deadness in a temp column so the shadow
            # columns see the PRE-mutation value (a lazily-bound `dead`
            # would re-evaluate size(NULL) and never clear the shadows).
            merged = merged.withColumn(f"__dead_{col}", sz == 0)
            dead = F.col(f"__dead_{col}")
            merged = merged.withColumn(
                col, F.when(dead, F.lit(None)).otherwise(F.col(col))
            ).withColumn(
                f"_writetime_{col}",
                F.when(dead, F.lit(None)).otherwise(F.col(f"_writetime_{col}")),
            ).withColumn(
                f"_expiry_{col}",
                F.when(dead, F.lit(None)).otherwise(F.col(f"_expiry_{col}")),
            ).drop(f"__dead_{col}")

        # reassemble non-frozen UDT structs from their surviving field
        # cells; the column is NULL iff no field cell is live (a UDT with
        # every field deleted reads as NULL, UserTypesTest shapes), and
        # its column-level writetime/expiry are the per-cell maxima —
        # matching what elem_cols expose post-merge
        for c in udt_cols:
            wts = [F.col(f"_writetime_{s}") for s, _f, _t in udt_syn[c]]
            exps = [F.col(f"_expiry_{s}") for s, _f, _t in udt_syn[c]]
            merged = merged.withColumn(
                f"_writetime_{c}", F.greatest(*wts) if len(wts) > 1 else wts[0]
            ).withColumn(
                f"_expiry_{c}", F.greatest(*exps) if len(exps) > 1 else exps[0]
            ).withColumn(
                c,
                F.when(
                    F.col(f"_writetime_{c}").isNotNull(),
                    F.struct(*[F.col(s).alias(f) for s, f, _t in udt_syn[c]]),
                ).otherwise(F.lit(None).cast(by_name[c].dataType)),
            )

        visible = F.col("__rlwt").isNotNull()
        for col in value_cols:
            visible = visible | F.col(f"_writetime_{col}").isNotNull()
        merged = merged.filter(visible)

        if not with_shadows:
            return merged.select(*fields)
        # TTL(col): remaining liveness at `now` (defaults to the session's
        # current logical clock); NULL for cells written without TTL
        now_eff = self._clock_ref[0] if now is None else now
        shadows = []
        for col in value_cols:
            shadows.append(F.col(f"_writetime_{col}"))
            shadows.append(
                (F.col(f"_expiry_{col}") - F.lit(now_eff)).alias(f"_ttl_{col}")
            )
        for col in elem_cols:
            # per-cell liveness maps: WRITETIME(m['k']) / TTL(m['k'])
            shadows.append(F.col(f"_cellwt_{col}"))
            shadows.append(
                F.transform_values(
                    F.col(f"_cellexp_{col}"), lambda _k, v: v - F.lit(now_eff)
                ).alias(f"_cellttl_{col}")
            )
        for col in udt_cols:
            # field-cell liveness maps: WRITETIME(u.f) / TTL(u.f) and the
            # WRITETIME(u) per-cell list (field-name keyed; live cells only)
            names = F.array(*[F.lit(f) for _s, f, _t in udt_syn[col]])
            wts = F.array(*[F.col(f"_writetime_{s}") for s, _f, _t in udt_syn[col]])
            ttls = F.array(
                *[F.col(f"_expiry_{s}") - F.lit(now_eff) for s, _f, _t in udt_syn[col]]
            )
            shadows.append(
                F.map_filter(
                    F.map_from_arrays(names, wts), lambda _k, v: v.isNotNull()
                ).alias(f"_cellwt_{col}")
            )
            shadows.append(
                F.map_filter(
                    F.map_from_arrays(names, ttls), lambda _k, v: v.isNotNull()
                ).alias(f"_cellttl_{col}")
            )
        return merged.select(*fields, *shadows)

    def _collection_kind_of(self, col: str) -> str:
        """Declared collection kind for a cell-tracked column (mutations
        with elem_cells only exist for columns the validator resolved a
        kind for)."""
        info = self.collection_info
        return (info.kinds.get(col) if info else None) or "map"

    def _cell_map_type(self, col: str, dt: T.DataType) -> T.MapType:
        """Cell-fragment map type for one collection column: maps keep
        (key → value), sets key cells by ELEMENT (Sets.java — the cell
        name is the element, the value empty), lists by POSITION string
        (Lists.java timeuuid cell names → the key encodings documented
        at `_list_frag_key`; full-write cells build
        "5" || stmt(9) || "0" || pos(9) in the merge itself)."""
        kind = self._collection_kind_of(col)
        if isinstance(dt, T.MapType):
            return T.MapType(dt.keyType, dt.valueType, True)
        if kind == "set":
            return T.MapType(dt.elementType, dt.elementType, True)
        return T.MapType(T.StringType(), dt.elementType, True)

    def _merge_elem_col(self, log, log_all, key_cols, col):
        """Per-cell merge of one collection column (db/rows/
        Cells.reconcile at cell granularity — map entries, set elements,
        list positions): full-value writes contribute a complex deletion
        at wt-1 plus their cells (db/rows/ComplexColumnData.java deletion
        semantics — the write's own cells at wt survive their own
        deletion); fragments contribute their cells, a None value being a
        cell tombstone (Maps.DiscarderByKey, Sets.Discarder,
        Lists.DiscarderByIndex). Reconcile per cell key by (writetime,
        tombstone-wins, value); survivors reassemble into the declared
        collection shape plus per-cell writetime/expiry shadow maps."""
        kind = self._collection_kind_of(col)
        sel = [
            F.col("__writetime").alias("__wt"),
            F.col("__expiry").alias("__exp"),
        ]
        full = log.filter(F.col(f"__full_{col}") & F.col(col).isNotNull())
        if kind == "map":
            full_cells = full.select(
                *key_cols, *sel, F.explode(col).alias("__k", "__v")
            )
        elif kind == "set":
            full_cells = full.select(
                *key_cols, *sel, F.explode(col).alias("__k")
            ).withColumn("__v", F.col("__k"))
        else:  # list: positions from the write's own (statement, index)
            full_cells = full.select(
                *key_cols, *sel, F.col("__stmt"), F.posexplode(col).alias("__pos", "__v")
            ).select(
                *key_cols,
                "__wt",
                "__exp",
                F.concat(
                    F.lit("5"),
                    F.lpad(F.col("__stmt").cast("string"), 9, "0"),
                    F.lit("0"),
                    F.lpad(F.col("__pos").cast("string"), 9, "0"),
                ).alias("__k"),
                "__v",
            )
        frag_cells = (
            log.filter(F.col(f"__frag_{col}").isNotNull())
            .select(*key_cols, *sel, F.explode(f"__frag_{col}").alias("__k", "__v"))
        )
        cells = full_cells.select(*key_cols, "__wt", "__exp", "__k", "__v").unionByName(
            frag_cells.select(*key_cols, "__wt", "__exp", "__k", "__v")
        )
        packed = F.struct(
            F.col("__wt").alias("wt"),
            F.col("__v").isNull().cast("int").alias("tomb"),
            F.col("__v").alias("v"),
            F.col("__exp").alias("exp"),
        )
        newest = cells.groupBy(*key_cols, "__k").agg(F.max(packed).alias("__c"))
        # complex deletions from log_all: a TTL-expired full write still
        # shadows (deletions do not expire)
        dels = (
            log_all.filter(F.col(f"__full_{col}"))
            .groupBy(*key_cols)
            .agg((F.max("__writetime") - 1).alias("__del"))
        )
        live = newest.join(dels, key_cols, "left").filter(
            (F.col("__del").isNull() | (F.col("__c.wt") > F.col("__del")))
            & F.col("__c.v").isNotNull()
        )

        def ent(val):
            return F.array_sort(
                F.collect_list(F.struct(F.col("__k").alias("k"), val.alias("v")))
            )

        if kind == "map":
            value = F.map_from_entries(ent(F.col("__c.v"))).alias(col)
        elif kind == "set":
            value = F.array_sort(F.collect_list("__k")).alias(col)
        else:  # list: values in position order
            value = F.transform(ent(F.col("__c.v")), lambda e: e["v"]).alias(col)
        return live.groupBy(*key_cols).agg(
            value,
            F.map_from_entries(ent(F.col("__c.wt"))).alias(f"_cellwt_{col}"),
            F.map_from_entries(ent(F.col("__c.exp"))).alias(f"_cellexp_{col}"),
        )

    def _shadow_elem_cells(self, merged, col, cond, wt):
        """Tombstone shadowing at cell granularity: under `cond`, drop
        every cell whose own writetime <= the delete timestamp, then
        recompute the column-level liveness from the survivors. The
        value rewrite follows the collection shape — map entries by key,
        set elements by themselves, list values by their position in the
        key-sorted cell order."""
        kind = self._collection_kind_of(col)
        cwt = F.col(f"_cellwt_{col}")
        survivors = F.map_filter(cwt, lambda _k, w: w > F.lit(wt))
        if kind == "map":
            new_val = F.map_filter(
                F.col(col), lambda k, _v: cwt[k] > F.lit(wt)
            )
        elif kind == "set":
            new_val = F.filter(F.col(col), lambda x: cwt[x] > F.lit(wt))
        else:
            # i-th list value ↔ i-th key-sorted cell: zip, filter, project
            ks = F.array_sort(F.map_keys(cwt))
            new_val = F.transform(
                F.filter(
                    F.arrays_zip(ks.alias("k"), F.col(col).alias("v")),
                    lambda e: cwt[e["k"]] > F.lit(wt),
                ),
                lambda e: e["v"],
            )
        keep = lambda m: F.map_filter(  # noqa: E731
            m, lambda k, _v: cwt[k] > F.lit(wt)
        )
        merged = (
            merged.withColumn(
                col, F.when(cond, new_val).otherwise(F.col(col))
            )
            .withColumn(
                f"_cellexp_{col}",
                F.when(cond, keep(F.col(f"_cellexp_{col}"))).otherwise(
                    F.col(f"_cellexp_{col}")
                ),
            )
            .withColumn(
                f"_cellwt_{col}",
                F.when(cond, survivors).otherwise(F.col(f"_cellwt_{col}")),
            )
        )
        alive = F.size(F.map_values(F.col(f"_cellwt_{col}"))) > 0
        return merged.withColumn(
            f"_writetime_{col}",
            F.when(alive, F.array_max(F.map_values(F.col(f"_cellwt_{col}")))),
        ).withColumn(
            f"_expiry_{col}",
            F.when(alive, F.array_max(F.map_values(F.col(f"_cellexp_{col}")))),
        )


def validate_batch_pieces(
    kind: str | None,
    has_batch_ts: bool,
    pieces: list[str],
    params: list,
    cursor: list,
    multi_table: bool,
    clock: list[int] | None,
) -> None:
    """BatchStatement.verifyBatchType/attrs validation
    (BatchStatement.java:170-234), run as a DRY PARSE over the inner
    statements (stripped, each an INSERT, UPDATE or DELETE) BEFORE any of
    them mutates session state — a rejected batch must apply nothing.
    The dry pass reads params through a cloned cursor so the real pass
    binds identically. With multi_table=True the cross-table condition
    rule (BatchStatement.java:234) also applies."""
    kind = (kind or "logged").lower()
    dry = [cursor[0]]
    has_counter = has_non_counter = any_cond = any_ts = False
    for stmt in pieces:
        head = stmt.split(None, 1)[0].lower()
        p = _WriteParser(_tokenize(stmt))
        # the dry parse discards values, but now()-family terms must
        # still fold (a batch containing now() is valid) — a throwaway
        # per-statement clock keeps the real pass's folds untouched
        p.clock_fold = SessionClockFold(lambda: clock[0] + 1)
        if head == "insert":
            _, _, using, cond, _ = p.insert_statement(params, dry)
            is_ctr = False
        elif head == "update":
            _, _, deltas, _, using, cond, _ = p.update_statement(params, dry)
            is_ctr = bool(deltas)
        else:
            _, _, _, _, using, cond, _ = p.delete_statement(params, dry)
            is_ctr = False
        has_counter |= is_ctr
        has_non_counter |= not is_ctr
        any_cond |= cond is not None
        any_ts |= "timestamp" in using
    # reference raise order (BatchStatement.java:174-234)
    if has_batch_ts and any_cond:
        raise InvalidRequest("Cannot provide custom timestamp for conditional BATCH")
    if has_batch_ts and kind == "counter":
        raise InvalidRequest("Cannot provide custom timestamp for counter BATCH")
    if has_batch_ts and any_ts:
        raise InvalidRequest("Timestamp must be set either on BATCH or individual statements")
    if has_batch_ts and has_counter:
        raise InvalidRequest("Cannot provide custom timestamp for a BATCH containing counters")
    if kind == "counter" and has_non_counter:
        raise InvalidRequest("Cannot include non-counter statement in a counter batch")
    if has_counter and has_non_counter:
        raise InvalidRequest("Counter and non-counter mutations cannot exist in the same batch")
    if kind == "logged" and has_counter:
        raise InvalidRequest("Cannot include a counter statement in a logged batch")
    if multi_table and any_cond:
        raise InvalidRequest("Batch with conditions cannot span multiple tables")


def execute_batch(
    cql: str,
    params: list[Any],
    cursor: list[int],
    session_for: Callable[[str], "CqlWriteSession"],
) -> bool:
    """BEGIN [UNLOGGED|COUNTER] BATCH [USING TIMESTAMP t] stmt; ...;
    APPLY BATCH (BatchStatement.java:56) — the one BATCH path, for a
    standalone session (every statement maps to it) and for CqlDatabase
    (`session_for` resolves each inner statement's table session).

    One coordinator timestamp stamps every inner statement — intra-batch
    order does NOT create LWW ordering, and at the shared timestamp a
    tombstone beats a live cell (the merge's `<=` shadowing), so
    insert-then-delete in one batch deletes. `?` markers bind through
    ONE shared cursor across the header and the inner statements.
    Returns the LWT [applied] flag; a rejected or condition-false batch
    applies nothing in any session."""
    m = _BATCH_OPEN_RE.match(cql)
    if not m:
        raise InvalidRequest("malformed BATCH: expected BEGIN [UNLOGGED|COUNTER] BATCH")
    pieces = _split_statements(cql[m.end():])
    batch_ts: int | None = None
    mu = _BATCH_USING_RE.match(pieces[0])
    if mu:
        if _re.search(r"(?:using|and)\s+ttl\b", mu.group(0), _re.I):
            # BatchStatement.java:172, checked before anything binds
            raise InvalidRequest("Global TTL on the BATCH statement is not supported.")
        batch_ts = _WriteParser(_tokenize(mu.group(0)))._using(params, cursor)["timestamp"]
        pieces[0] = pieces[0][mu.end():]
    if not _APPLY_RE.match(pieces[-1]):
        raise InvalidRequest("BATCH must end with APPLY BATCH")
    inner = [s.strip() for s in pieces[:-1] if s.strip()]
    # BatchStatement accepts only modification statements — checked
    # before any target resolves (a nested BEGIN BATCH has none)
    for stmt in inner:
        if stmt.split(None, 1)[0].lower() not in ("insert", "update", "delete"):
            raise InvalidRequest("Only INSERT, UPDATE and DELETE are allowed in BATCH")
    targets = [session_for(stmt) for stmt in inner]
    sessions = list(dict.fromkeys(targets))
    # every session shares one coordinator clock (None: empty batch)
    clock = sessions[0]._clock_ref if sessions else None
    validate_batch_pieces(
        m.group(1), batch_ts is not None, inner, params, cursor,
        multi_table=len(sessions) > 1, clock=clock,
    )
    if not sessions:
        return True  # empty batch is a no-op
    # prepare-then-apply atomicity (BatchStatement.java executes only
    # after every inner statement validated): the dry pass above covers
    # the batch matrix, but per-statement semantic checks (TTL bounds,
    # PK-in-SET, counter rules, unknown columns) fire during the real
    # pass — snapshot every involved session so a late rejection rolls
    # back the earlier statements' writes, and a failed LWT condition
    # applies nothing at all.
    snaps = [(s, s._snapshot()) for s in sessions]
    if batch_ts is None:
        clock[0] += 1
        batch_ts = batch_fold = clock[0]
    else:
        # EXPLICIT batch timestamps are arbitrary user values (epoch
        # micros by convention) — the now()-family fold instant must
        # stay on the session-clock timeline, so the inner statements
        # fold from the clock peek instead (the reference's now() is
        # wall-clock, independent of USING TIMESTAMP)
        batch_fold = clock[0] + 1
    applied = True
    try:
        for sess, stmt in zip(targets, inner):
            applied &= sess._execute(stmt, params, cursor, batch_ts, batch_fold)
    except Exception:
        for sess, snap in snaps:
            sess._restore(snap)
        raise
    if not applied:
        for sess, snap in snaps:
            sess._restore(snap)
    return applied
