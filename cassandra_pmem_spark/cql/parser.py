"""CQL SELECT parser + executor — the QueryProcessor.process analog
(cql3/QueryProcessor.java:236 parse → :250 prepare → execute; grammar
src/antlr/Parser.g selectStatement at :264-290).

Covers the SELECT grammar the reference accepts (the driver tables carry no
UDTs, so collection/UDT literals are limited to what predicates need):

  SELECT [JSON] [DISTINCT] selector [, ...] FROM table
    [WHERE relation [AND relation]*]
    [GROUP BY col [, ...]]
    [ORDER BY col [ASC|DESC] [, ...]]
    [PER PARTITION LIMIT n] [LIMIT n]
    [ALLOW FILTERING]

  selector := * | col [AS alias] | count(*) | count|sum|min|max|avg(col)
              | writetime(col) | ttl(col) | token(col [, ...]) | cast(col as t)
  relation := col op literal | col IN (lit [, ...])
              | (col, ...) op (lit, ...) | token(col [, ...]) op literal
              | col CONTAINS [KEY] literal
  op       := = | < | <= | > | >= | != | LIKE
  literal  := number | 'string' | true | false | null | ? (bind marker)

Prepared statements (QueryProcessor.prepare:402): `?` bind markers;
`execute(..., params=[...])` binds positionally like ExecuteMessage.

Statements compile onto CqlTable (strict mode by default — the same
prepare-time gates the reference applies), so the physical plan is the
ordinary declarative DataFrame plan; nothing here executes row-at-a-time.
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_pmem_spark.cql.table import CqlTable, cql_table
from cassandra_pmem_spark.cql.validator import (
    InvalidRequest,
    Op,
    declared_timeuuid,
    validate_group_by,
    validate_limits,
)
from cassandra_pmem_spark.functions.token import token_column
from cassandra_pmem_spark.marshal import floor_millis


def _bound_value(v: Any) -> Any:
    """A bind value as the protocol carries it: a timestamp is epoch
    millis, so a datetime, also one inside a collection, is floored to
    the millisecond (TimestampSerializer). A write, a read and a delete
    bound the same datetime then address the same key. Reads floor too,
    so a table read through CQL must hold millisecond timestamps, as
    every table written through CQL does: over a DataFrame loaded with
    sub-millisecond timestamps, ``WHERE ts = ?`` bound with such a value
    matches no row."""
    if type(v) is _dt.datetime:
        return floor_millis(v)
    if type(v) in (list, tuple, set, frozenset):
        return type(v)(_bound_value(x) for x in v)
    if type(v) is dict:
        return {_bound_value(k): _bound_value(x) for k, x in v.items()}
    return v


# `+`/`-` ops serve counter updates, `;` separates BATCH inner statements
# (write grammar), and `{}:[]` serve DDL map options / collection types
# (ddl grammar); all harmless for SELECTs, so the ONE shared tokenizer
# carries them — other modules must not monkey-patch this
# (import-order-dependent behavior otherwise)
_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<number>-?\d+\.\d+|-?\d+)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<op><=|>=|!=|=|<|>|\+|-)
      | (?P<punct>[(),.*?;{}:\[\]])
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "json", "distinct", "from", "where", "and", "group", "order",
    "by", "per", "partition", "limit", "allow", "filtering", "asc", "desc",
    "in", "contains", "key", "as", "like", "token", "writetime", "ttl",
    "count", "sum", "min", "max", "avg", "cast", "true", "false", "null",
}

_AGG_FNS = {"count", "sum", "min", "max", "avg"}


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(s: str) -> list[_Tok]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m:
            if s[pos:].strip() == "":
                break
            raise InvalidRequest(f"CQL syntax error near: {s[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("string", "number", "ident", "op", "punct"):
            text = m.group(kind)
            if text is not None:
                out.append(_Tok(kind, text))
                break
    out.append(_Tok("eof", ""))
    return out


@dataclass
class Selector:
    kind: str          # star | col | agg | writetime | ttl | token | cast | term | field
    args: list[str] = field(default_factory=list)
    alias: str | None = None
    fn: str | None = None
    # aggregate over a nested selectable (Selectable.WithFunction —
    # max(writetime(v)), avg(cast(x as int)), sum(u.f)); None = args[0]
    # is a plain column name
    inner: "Selector | None" = None


@dataclass
class Relation:
    kind: str          # simple | in | tuple | token | contains | contains_key
    columns: list[str]
    op: Op | None
    values: list[Any]


@dataclass
class _TokenRhs:
    """token(<key literals>) on a relation's RIGHT side, awaiting the
    table meta to fold (TokenRelation.java / TokenFct.java:61). A private
    marker CLASS, not a tagged tuple — a user-bound tuple value can never
    collide with it."""

    args: tuple


@dataclass
class SelectStatement:
    """IR #2 analog — the annotated logical statement
    (cql3/statements/SelectStatement.java)."""

    table: str
    selectors: list[Selector]
    json: bool = False
    distinct: bool = False
    relations: list[Relation] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    per_partition_limit: int | None = None
    limit: int | None = None
    allow_filtering: bool = False


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0
        # set by CqlWriteSession before parsing a write statement: folds
        # now()/uuid()/current* terms from the coordinator clock
        # (cql/terms.py SessionClockFold); None ⇒ those names reject
        self.clock_fold = None

    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> bool:
        t = self.peek()
        if t.kind == "ident" and t.text.lower() in kws:
            self.next()
            return True
        return False

    def expect_kw(self, kw: str) -> None:
        if not self.accept_kw(kw):
            raise InvalidRequest(f"expected {kw.upper()}, got {self.peek().text!r}")

    def accept_punct(self, p: str) -> bool:
        t = self.peek()
        if t.kind == "punct" and t.text == p:
            self.next()
            return True
        return False

    def expect_punct(self, p: str) -> None:
        if not self.accept_punct(p):
            raise InvalidRequest(f"expected {p!r}, got {self.peek().text!r}")

    def ident(self) -> str:
        t = self.next()
        if t.kind != "ident":
            raise InvalidRequest(f"expected identifier, got {t.text!r}")
        return t.text

    # -- literals -------------------------------------------------------------

    def literal(self, params: list[Any], cursor: list[int]) -> Any:
        t = self.next()
        if t.kind == "punct" and t.text == "?":
            if isinstance(params, dict):
                raise InvalidRequest(
                    "positional ? markers cannot bind named parameters "
                    "(use :name markers with a dict)"
                )
            idx = cursor[0]
            cursor[0] += 1
            if idx >= len(params):
                raise InvalidRequest("not enough bind values for ? markers")
            return _bound_value(params[idx])
        if (
            t.kind == "punct"
            and t.text == ":"
            and self.peek().kind == "ident"
        ):
            # named bind marker :name (Parser.g marker rule / QueryOptions
            # named values): repeated names bind the SAME value, no cursor
            name = self.next().text
            if not isinstance(params, dict):
                raise InvalidRequest(
                    f"named bind marker :{name} needs named parameters "
                    "(pass a dict)"
                )
            if name not in params:
                raise InvalidRequest(f"no bind value for marker :{name}")
            return _bound_value(params[name])
        if t.kind == "string":
            return t.text[1:-1].replace("''", "'")
        if t.kind == "number":
            return float(t.text) if "." in t.text else int(t.text)
        if t.kind == "ident" and t.text.lower() in ("true", "false"):
            return t.text.lower() == "true"
        if t.kind == "ident" and t.text.lower() == "null":
            return None
        raise InvalidRequest(f"expected literal, got {t.text!r}")

    def term(self, params: list[Any], cursor: list[int]) -> Any:
        """literal | function '(' term [, ...] ')' (Parser.g term rule):
        constant function terms — blobAsX/XAsBlob, toDate/toTimestamp/
        toUnixTimestamp — fold driver-side at prepare (cql/terms.py),
        exactly like the reference's pure-function execution on the
        coordinator. Serves relation values and write values alike."""
        p = self.peek()
        if (
            p.kind == "ident"
            and p.text.lower() not in ("true", "false", "null")
            and self.toks[self.i + 1].kind == "punct"
            and self.toks[self.i + 1].text == "("
        ):
            from cassandra_pmem_spark.cql.terms import evaluate_fn

            name = self.ident()
            self.expect_punct("(")
            args: list[Any] = []
            if not self.accept_punct(")"):
                while True:
                    args.append(self.term(params, cursor))
                    if not self.accept_punct(","):
                        break
                self.expect_punct(")")
            return evaluate_fn(name, args, clock=self.clock_fold)
        return self.literal(params, cursor)

    # -- selectors ------------------------------------------------------------

    def selector(self) -> Selector:
        if self.accept_punct("*"):
            return Selector("star")
        t = self.next()
        if t.kind in ("number", "string"):
            # constant in selection clause (CASSANDRA-9243;
            # cql3/selection/Selectable.WithTerm) — named by its literal
            # text like the reference names constant columns
            if t.kind == "number":
                val = float(t.text) if "." in t.text else int(t.text)
            else:
                val = t.text[1:-1].replace("''", "'")
            sel = Selector("term", [val], alias=t.text if t.kind == "number" else val)
            if self.accept_kw("as"):
                sel.alias = self.ident()
            return sel
        if t.kind != "ident":
            raise InvalidRequest(f"bad selector near {t.text!r}")
        name = t.text
        low = name.lower()
        if self.accept_punct("("):
            if low in _AGG_FNS:
                if low == "count" and self.accept_punct("*"):
                    self.expect_punct(")")
                    sel = Selector("agg", ["*"], fn="count")
                else:
                    # the argument is a SELECTABLE (Selectable.
                    # WithFunction nests): a column, a UDT field path,
                    # CAST(col AS t), or WRITETIME/TTL(col)
                    p2 = self.peek()
                    low2 = p2.text.lower() if p2.kind == "ident" else ""
                    inner: Selector | None = None
                    if low2 == "cast":
                        self.next()
                        self.expect_punct("(")
                        c = self.ident()
                        self.expect_kw("as")
                        typ = self.ident()
                        self.expect_punct(")")
                        inner = Selector("cast", [c, typ])
                        col = c
                    elif low2 in ("writetime", "ttl"):
                        self.next()
                        self.expect_punct("(")
                        c = self.ident()
                        self.expect_punct(")")
                        inner = Selector(low2, [c])
                        col = c
                    else:
                        col = self.ident()
                        if self.peek().kind == "punct" and self.peek().text == ".":
                            path = [col]
                            while self.accept_punct("."):
                                path.append(self.ident())
                            inner = Selector("field", path)
                    self.expect_punct(")")
                    sel = Selector("agg", [col], fn=low, inner=inner)
            elif low in ("writetime", "ttl"):
                col = self.ident()
                if self.accept_punct("["):
                    # WRITETIME(m['k']) / TTL(m['k']) — one map cell's
                    # liveness (cql3/selection/WritetimeOrTTLSelector over
                    # an element selection; cells carry it per entry)
                    t2 = self.next()
                    if t2.kind == "string":
                        ekey = t2.text[1:-1].replace("''", "'")
                    elif t2.kind == "number":
                        ekey = float(t2.text) if "." in t2.text else int(t2.text)
                    else:
                        raise InvalidRequest(
                            f"{low} element key must be a literal, got {t2.text!r}"
                        )
                    self.expect_punct("]")
                    self.expect_punct(")")
                    sel = Selector(f"{low}_elem", [col, ekey])
                elif self.accept_punct("."):
                    # WRITETIME(u.f) / TTL(u.f) — one FIELD cell's
                    # liveness of a non-frozen UDT column
                    # (Selectable.WithFieldSelection under
                    # WritetimeOrTTLSelector)
                    fname = self.ident()
                    self.expect_punct(")")
                    sel = Selector(f"{low}_elem", [col, fname])
                else:
                    self.expect_punct(")")
                    sel = Selector(low, [col])
            elif low == "token":
                cols = [self.ident()]
                while self.accept_punct(","):
                    cols.append(self.ident())
                self.expect_punct(")")
                sel = Selector("token", cols)
            elif low == "cast":
                col = self.ident()
                self.expect_kw("as")
                typ = self.ident()
                self.expect_punct(")")
                sel = Selector("cast", [col, typ])
            elif low in (
                "dateof",
                "unixtimestampof",
                "totimestamp",
                "todate",
                "tounixtimestamp",
            ):
                # native temporal conversions over a COLUMN
                # (TimeFcts.java:97,115,149,170,191) — for a declared
                # timeuuid column they read the v1-embedded timestamp
                col = self.ident()
                self.expect_punct(")")
                sel = Selector("timefct", [low, col])
            else:
                # user-defined scalar function or aggregate call
                # (Selectable.WithFunction) — args are column names or
                # literals; resolution against the schema's function
                # registry happens at compile time (prepare analog)
                call_args: list[tuple[str, Any]] = []
                if not self.accept_punct(")"):
                    while True:
                        tok = self.peek()
                        if tok.kind == "ident":
                            call_args.append(("col", self.ident()))
                        elif tok.kind in ("number", "string"):
                            call_args.append(("lit", self.next().text))
                        else:
                            raise InvalidRequest(
                                f"bad argument near {tok.text!r} in call to {name!r}"
                            )
                        if not self.accept_punct(","):
                            break
                    self.expect_punct(")")
                sel = Selector("call", [name, call_args])
        else:
            if self.peek().kind == "punct" and self.peek().text == ".":
                # UDT field access a.b[.c…] (Selectable.WithFieldSelection,
                # cql3/selection/Selectable.java) — struct field path
                path = [name]
                while self.accept_punct("."):
                    path.append(self.ident())
                sel = Selector("field", path)
            else:
                sel = Selector("col", [name])
        if self.accept_kw("as"):
            sel.alias = self.ident()
        return sel

    # -- relations ------------------------------------------------------------

    def relation(self, params: list[Any], cursor: list[int]) -> Relation:
        if self.accept_punct("("):  # tuple relation
            cols = [self.ident()]
            while self.accept_punct(","):
                cols.append(self.ident())
            self.expect_punct(")")
            if self.accept_kw("in"):
                # (a, b) IN ((1, 2), (3, 4)) — Parser.g:443 tupleOfTupleOfIdentifiers;
                # MultiColumnRestriction.InRestrictionWithValues
                self.expect_punct("(")
                tuples = [self._tuple_literal(params, cursor, len(cols))]
                while self.accept_punct(","):
                    tuples.append(self._tuple_literal(params, cursor, len(cols)))
                self.expect_punct(")")
                return Relation("tuple", cols, Op.IN, tuples)
            op = self._op()
            vals = self._tuple_literal(params, cursor, len(cols))
            return Relation("tuple", cols, op, vals)
        t = self.peek()
        if t.kind == "ident" and t.text.lower() == "token":
            self.next()
            self.expect_punct("(")
            cols = [self.ident()]
            while self.accept_punct(","):
                cols.append(self.ident())
            self.expect_punct(")")
            op = self._op()
            p = self.peek()
            if (
                p.kind == "ident"
                and p.text.lower() == "token"
                and self.toks[self.i + 1].kind == "punct"
                and self.toks[self.i + 1].text == "("
            ):
                # token(pk) > token(v1 [, v2 ...]) — the RHS is the
                # partitioner token OF A KEY LITERAL (TokenFct.java:61;
                # TokenRelation.java), folded driver-side with the same
                # bit-exact Murmur3 the column side uses. Parsed here
                # because the key's TYPES live on the table meta, which
                # the generic term fold can't see.
                self.next()
                self.expect_punct("(")
                args = [self.term(params, cursor)]
                while self.accept_punct(","):
                    args.append(self.term(params, cursor))
                self.expect_punct(")")
                return Relation("token", cols, op, [_TokenRhs(tuple(args))])
            return Relation("token", cols, op, [self.term(params, cursor)])
        col = self.ident()
        if self.accept_punct("["):
            # map-entry relation m[k] = v (Parser.g relation: cident '['
            # term ']'; SingleColumnRelation.onMapEntry — EQ only)
            key = self.term(params, cursor)
            self.expect_punct("]")
            op = self._op()
            if op is not Op.EQ:
                raise InvalidRequest(
                    "Only EQ relations are supported on map entries"
                )
            return Relation("entry", [col], Op.EQ,
                            [key, self.term(params, cursor)])
        if self.accept_kw("in"):
            self.expect_punct("(")
            vals = [self.term(params, cursor)]
            while self.accept_punct(","):
                vals.append(self.term(params, cursor))
            self.expect_punct(")")
            return Relation("in", [col], Op.IN, vals)
        if self.accept_kw("contains"):
            if self.accept_kw("key"):
                return Relation("contains_key", [col], Op.CONTAINS_KEY,
                                [self.term(params, cursor)])
            return Relation("contains", [col], Op.CONTAINS,
                            [self.term(params, cursor)])
        if self.accept_kw("like"):
            return Relation("simple", [col], Op.LIKE, [self.term(params, cursor)])
        op = self._op()
        nxt = self.peek()
        if nxt.kind == "punct" and nxt.text in ("[", "{"):
            # frozen-collection literal RHS (c = [1, 2] — equality on a
            # frozen column, full() index territory). EQ only, like the
            # reference's collection comparison support.
            if op is not Op.EQ:
                raise InvalidRequest(
                    "Collection literals are only supported with = relations"
                )
            return Relation("simple", [col], op,
                            [self._collection_rhs(params, cursor)])
        return Relation("simple", [col], op, [self.term(params, cursor)])

    def _collection_rhs(self, params: list[Any], cursor: list[int]):
        """[...] / {...} literal on a relation's right side: a Python
        list, set, or dict of folded terms (SELECT relations only — write
        statements parse collection VALUES through value_term)."""
        if self.accept_punct("["):
            out: list = []
            if not self.accept_punct("]"):
                while True:
                    out.append(self.term(params, cursor))
                    if not self.accept_punct(","):
                        break
                self.expect_punct("]")
            return out
        self.expect_punct("{")
        if self.accept_punct("}"):
            return set()
        first = self.term(params, cursor)
        if self.accept_punct(":"):
            m = {first: self.term(params, cursor)}
            while self.accept_punct(","):
                k = self.term(params, cursor)
                self.expect_punct(":")
                m[k] = self.term(params, cursor)
            self.expect_punct("}")
            return m
        s = {first}
        while self.accept_punct(","):
            s.add(self.term(params, cursor))
        self.expect_punct("}")
        return s

    def _tuple_literal(self, params: list[Any], cursor: list[int], arity: int) -> tuple:
        """One parenthesized literal tuple ``(v1, …, vN)``; arity must match
        the relation's column count (the reference rejects mismatched tuple
        sizes — MultiColumnRestriction 'Expected N elements')."""
        self.expect_punct("(")
        vals = [self.term(params, cursor)]
        while self.accept_punct(","):
            vals.append(self.term(params, cursor))
        self.expect_punct(")")
        if len(vals) != arity:
            raise InvalidRequest(
                f"Expected {arity} elements in value tuple, but got {len(vals)}"
            )
        return tuple(vals)

    def _op(self) -> Op:
        t = self.next()
        if t.kind != "op":
            raise InvalidRequest(f"expected comparison operator, got {t.text!r}")
        return Op(t.text)

    # -- statement ------------------------------------------------------------

    def select_statement(self, params: list[Any]) -> SelectStatement:
        cursor = [0]
        self.expect_kw("select")
        json = self.accept_kw("json")
        distinct = self.accept_kw("distinct")
        selectors = [self.selector()]
        while self.accept_punct(","):
            selectors.append(self.selector())
        self.expect_kw("from")
        table = self.ident()
        if self.accept_punct("."):  # keyspace.table — keep both parts so
            # the database layer can resolve the keyspace-scoped key
            table = f"{table}.{self.ident()}"
        st = SelectStatement(table, selectors, json=json, distinct=distinct)
        if self.accept_kw("where"):
            st.relations.append(self.relation(params, cursor))
            while self.accept_kw("and"):
                st.relations.append(self.relation(params, cursor))
        if self.accept_kw("group"):
            self.expect_kw("by")
            st.group_by.append(self.ident())
            while self.accept_punct(","):
                st.group_by.append(self.ident())
        if self.accept_kw("order"):
            self.expect_kw("by")
            while True:
                col = self.ident()
                asc = True
                if self.accept_kw("desc"):
                    asc = False
                else:
                    self.accept_kw("asc")
                st.order_by.append((col, asc))
                if not self.accept_punct(","):
                    break
        if self.accept_kw("per"):
            self.expect_kw("partition")
            self.expect_kw("limit")
            st.per_partition_limit = int(self.literal(params, cursor))
        if self.accept_kw("limit"):
            st.limit = int(self.literal(params, cursor))
        if self.accept_kw("allow"):
            self.expect_kw("filtering")
            st.allow_filtering = True
        if self.peek().kind != "eof":
            raise InvalidRequest(f"trailing input near {self.peek().text!r}")
        return st


def parse_select(cql: str, params: list[Any] | None = None) -> SelectStatement:
    return _Parser(_tokenize(cql)).select_statement(params if params is not None else [])


_CAST_TYPES = {
    "tinyint": "tinyint", "smallint": "smallint", "int": "int",
    "bigint": "long", "float": "float", "double": "double",
    "decimal": "decimal(38,18)", "varint": "decimal(38,0)", "text": "string",
    "ascii": "string", "varchar": "string", "date": "date",
    "timestamp": "timestamp",
}


def _cast_expr(c, tl: str):
    """cast(x AS <tl>) with CQL semantics: varint (decimal scale 0)
    truncates fractional sources toward zero (CastFcts goes through
    BigDecimal.toBigInteger) where Spark's decimal cast would round."""
    if tl == "varint":
        c = c - (c % F.lit(1))
    return c.cast(_CAST_TYPES[tl])


def _integral_avg_source(s, meta, df_columns) -> tuple[str, str] | None:
    """(SQL fragment, SQL type) of an avg() argument when it is INTEGRAL
    — the cases where CQL's AvgFunction divides in integer arithmetic.
    None for fractional/unknown sources (F.avg is correct there)."""
    from pyspark.sql import types as _T

    def integral(dt) -> str | None:
        # varint (DecimalType(38,0)) is integral too: AvgFunction divides
        # BigIntegers — truncating integer division, not BigDecimal
        # fractional — in every position (column, cast, UDT field)
        if isinstance(dt, _T.DecimalType) and dt.scale == 0:
            return "decimal(38,0)"
        return {
            _T.ByteType: "tinyint", _T.ShortType: "smallint",
            _T.IntegerType: "int", _T.LongType: "bigint",
        }.get(type(dt))

    by_name = {f.name: f.dataType for f in meta.schema.fields}
    inner = s.inner
    if inner is None:
        c = s.args[0]
        if c == "*":
            return None
        st = integral(by_name.get(c))
        return (c, st) if st else None
    if inner.kind == "cast":
        c, typ = inner.args
        tl = typ.lower()
        if tl in ("tinyint", "smallint", "int", "bigint"):
            return (f"cast({c} as {tl})", tl)
        if tl == "varint":
            # truncate-toward-zero BEFORE the decimal cast (which rounds)
            return (f"cast({c} - ({c} % 1) as decimal(38,0))", "decimal(38,0)")
        return None
    if inner.kind == "field":
        dt = by_name.get(inner.args[0])
        for part in inner.args[1:]:
            if not isinstance(dt, _T.StructType) or part not in dt.fieldNames():
                return None
            dt = dt[part].dataType
        st = integral(dt)
        return (".".join(inner.args), st) if st else None
    # writetime/ttl shadows are bigint
    shadow = f"_{inner.kind}_{inner.args[0]}"
    return (shadow, "bigint") if shadow in df_columns else None


def _is_tu_bound(v) -> bool:
    from cassandra_pmem_spark.cql.terms import TimeuuidBound

    return isinstance(v, TimeuuidBound)


def _timefct_column(s, meta):
    """Compile a native temporal conversion selector (TimeFcts.java):
    dateof/unixtimestampof take a timeuuid (the v1-embedded timestamp,
    via the codegen extraction in functions/timefcts.py);
    totimestamp/todate/tounixtimestamp additionally accept the
    date/timestamp pairs the reference declares. Wrong source types
    reject at prepare, like the reference's assignment testing."""
    from pyspark.sql import types as _T

    from cassandra_pmem_spark.functions.timefcts import timeuuid_unix_ms

    fn, c = s.args
    dt = {f.name: f.dataType for f in meta.schema.fields}.get(c)
    if dt is None:
        raise InvalidRequest(f"unknown column {c!r} in {fn}()")
    alias = s.alias or f"{fn}_{c}"
    is_tu = declared_timeuuid(meta, c)
    if is_tu:
        ms = timeuuid_unix_ms(c)
    elif isinstance(dt, _T.TimestampType):
        ms = F.unix_millis(F.col(c))
    elif isinstance(dt, _T.DateType):
        ms = F.unix_millis(F.col(c).cast("timestamp"))
    else:
        raise InvalidRequest(
            f"{fn}() takes a timeuuid/timestamp/date column, got {c!r}"
        )
    if fn in ("dateof", "unixtimestampof") and not is_tu:
        # deprecated timeuuid-only forms (TimeFcts.java:97,115)
        raise InvalidRequest(f"{fn}() takes a timeuuid column, got {c!r}")
    if fn in ("dateof", "totimestamp"):
        return F.timestamp_millis(ms).alias(alias)
    if fn == "todate":
        return F.to_date(F.timestamp_millis(ms)).alias(alias)
    # unixtimestampof | tounixtimestamp — epoch millis (bigint)
    return ms.alias(alias)


def _scalar_token(meta, values: tuple) -> int:
    """token(<key literals>) folded driver-side: the same marshal codecs
    and Murmur3 the column side hashes with (marshal.pack_key +
    murmur3_token_bytes_py), so the scalar compares bit-exactly against
    where_token's column expression. Each component's codec comes from
    the table's declared cql_types, exactly like token_column."""
    from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py
    from cassandra_pmem_spark.marshal import (
        _MARSHAL,
        codec_of,
        marshal_of,
        pack_key,
    )

    if len(values) != len(meta.partition_key):
        raise InvalidRequest(
            f"token() takes the full partition key "
            f"({len(meta.partition_key)} values), got {len(values)}"
        )
    by_name = {f.name: f.dataType for f in meta.schema.fields}

    def _coerce(v, m):
        # date/timestamp keys arrive as string literals in CQL text —
        # convert to the Python value the codec packs (the same
        # conversion the write path's typed validation applies)
        from cassandra_pmem_spark.cql.terms import evaluate_fn

        if isinstance(v, str) and m == _MARSHAL + "SimpleDateType":
            # evaluate_fn raises InvalidRequest on a malformed literal —
            # the same rejection the write path's typed validation gives.
            # SimpleDateType rejects a time component; toDate's lenient
            # timestamp parse must not silently truncate one
            if len(v.strip()) != 10:
                raise InvalidRequest(
                    f"Invalid date literal {v!r} for a date partition key"
                )
            return evaluate_fn("toDate", [v])
        if isinstance(v, str) and m == _MARSHAL + "TimestampType":
            return evaluate_fn("toTimestamp", [v])
        return v

    try:
        marshals = [
            marshal_of(meta.cql_type(c), by_name[c], frozen=True)
            for c in meta.partition_key
        ]
        values = [_coerce(v, m) for v, m in zip(values, marshals)]
        key = pack_key([codec_of(m) for m in marshals], values)
    except (TypeError, ValueError) as exc:
        raise InvalidRequest(f"token() literal does not fit the key: {exc}") from exc
    return murmur3_token_bytes_py(key)


def _call_sql(s, registry, current_keyspace) -> tuple[str, str]:
    """Resolve a Selector('call') against the schema registry's
    statement-created functions: returns ('agg'|'fn', assembled SQL).
    Aggregates shadow scalar functions of the same name, mirroring the
    reference's separate FunctionName spaces."""
    name, args = s.args
    actuals = [a[1] if a[0] == "col" else str(a[1]) for a in args]
    if registry is not None:
        ak = registry.aggregates.resolve(
            name, current=current_keyspace, missing_ok=True
        )
        if ak is not None:
            ad = registry.aggregates[ak]
            if len(actuals) != 1:
                raise InvalidRequest(
                    f"aggregate {name} takes 1 argument, got {len(actuals)}"
                )
            # SFUNC/FINALFUNC were resolved and key-bound at CREATE
            # AGGREGATE time (UDAggregate holds function references, not
            # names) — never re-resolve against the CALLER's keyspace, or
            # a same-named function there would hijack the fold
            sfn = registry.functions[
                ad.sfunc_key
                or registry.functions.resolve(ad.sfunc, current=current_keyspace)
            ]
            ffn = None
            if ad.finalfunc is not None:
                ffn = registry.functions[
                    ad.finalfunc_key
                    or registry.functions.resolve(ad.finalfunc, current=current_keyspace)
                ]
            return "agg", ad.expand(sfn, ffn, actuals[0])
        fk = registry.functions.resolve(
            name, current=current_keyspace, missing_ok=True
        )
        if fk is not None:
            return "fn", registry.functions[fk].expand(actuals)
    raise InvalidRequest(f"Unknown function '{name}' in selection")


def _compile(
    t: CqlTable,
    st: SelectStatement,
    registry=None,
    current_keyspace: str | None = None,
) -> DataFrame:
    meta = t.meta
    # resolve user-defined calls up front: an aggregate call joins the
    # has_agg group-by path, a scalar call compiles into the projection
    calls: dict[int, tuple[str, str]] = {}
    for s in st.selectors:
        if s.kind == "call":
            calls[id(s)] = _call_sql(s, registry, current_keyspace)
    for r in st.relations:
        if r.kind == "tuple":
            flat = r.values if r.op is Op.IN else [r.values]
            for tup in flat:
                for v in tup:
                    if _is_tu_bound(v):
                        v.reject("a tuple relation")
            t = t.where_tuple(r.columns, r.op, r.values)
        elif r.kind == "token":
            if tuple(r.columns) != tuple(meta.partition_key):
                raise InvalidRequest(
                    f"token() requires the full partition key {meta.partition_key}"
                )
            val = r.values[0]
            if isinstance(val, _TokenRhs):
                val = _scalar_token(meta, val.args)
            t = t.where_token(r.op, val)
        elif r.kind == "entry":
            # m[k] = v — element path equality (entries() index territory)
            k, v = r.values
            if _is_tu_bound(k):
                k.reject("a map key")
            if _is_tu_bound(v):
                v.reject("a map entry value")
            t = t.where_entry(r.columns[0], k, v)
        elif r.kind == "in":
            decl_tu = declared_timeuuid(meta, r.columns[0])
            vals = []
            for v in r.values:
                if _is_tu_bound(v):
                    # on a declared timeuuid column the extreme IS a
                    # value — the reference's fake uuid
                    # (UUIDGen.min/maxTimeUUID); a row stores it only if
                    # written via the same fold, exactly like the
                    # reference. Elsewhere the extreme equals nothing
                    # real: reject with guidance.
                    if not decl_tu:
                        v.reject("IN")
                    v = v.uuid_text()
                vals.append(v)
            t = t.where(r.columns[0], Op.IN, vals)
        else:
            val = r.values[0]
            if _is_tu_bound(val):
                # min/maxTimeuuid extreme: a RANGE bound — translate per
                # operator (non-range operators reject with guidance).
                # The compared column must be DECLARED timeuuid: the
                # reference rejects the timeuuid/timestamp mismatch at
                # prepare (assignment testing — a maxTimeuuid bound is
                # not assignment-compatible with a timestamp column), and
                # without this gate the fold would silently compile
                # `ts < t+1ms` against a plain timestamp column. For a
                # timeuuid column the comparison runs on the v1-embedded
                # timestamp (TimeuuidBound.edge_ticks — the extremes sit
                # strictly outside every real timeuuid in the named
                # millisecond, exactly TimeUUIDType's timestamp-first
                # order)
                if not declared_timeuuid(meta, r.columns[0]):
                    raise InvalidRequest(
                        f"{val.kind}Timeuuid() can only be compared to a "
                        f"timeuuid column; {r.columns[0]!r} is not declared "
                        "timeuuid"
                    )
                if r.op is Op.EQ:
                    # equality against the extreme matches only a row
                    # storing the fake uuid itself (the reference's
                    # behavior — usually empty, not an error)
                    t = t.where(r.columns[0], Op.EQ, val.uuid_text())
                    continue
                op2, edge, fixup = val.edge_full(r.op.value)
                t = t.where_timeuuid_ticks(r.columns[0], Op(op2), edge, fixup)
                continue
            t = t.where(r.columns[0], r.op, val)
    if st.allow_filtering:
        t = t.allow_filtering()
    if st.order_by:
        t = t.order_by(*st.order_by)
    if st.per_partition_limit is not None:
        t = t.per_partition_limit(st.per_partition_limit)

    has_agg = any(
        s.kind == "agg" or calls.get(id(s), ("", ""))[0] == "agg"
        for s in st.selectors
    )
    if t.strict:
        validate_limits(st.limit, st.per_partition_limit, st.distinct, has_agg)
        if st.distinct and any(
            g in {c.name for c in meta.clustering} for g in st.group_by
        ):
            # SelectGroupByTest.java: DISTINCT reads one row per partition —
            # clustering-grained groups contradict that
            raise InvalidRequest(
                "Grouping on clustering columns is not allowed for SELECT DISTINCT queries"
            )
    # LIMIT counts RESULT rows: for aggregates that means groups
    # (DataLimits.groupByLimits:105), so it must apply AFTER the
    # aggregation, not to the scanned input
    if st.limit is not None and not has_agg:
        t = t.limit(st.limit)
    if st.distinct:
        cols = [s.args[0] for s in st.selectors if s.kind == "col"]
        t = t.distinct(*cols)
        return t.df()

    if has_agg:
        if any(
            s.kind not in ("agg", "col")
            and calls.get(id(s), ("", ""))[0] != "agg"
            for s in st.selectors
        ):
            raise InvalidRequest("aggregates mix only with GROUP BY columns")
        group_cols = st.group_by
        plain = [s.args[0] for s in st.selectors if s.kind == "col"]
        if set(plain) - set(group_cols):
            raise InvalidRequest(
                f"non-aggregate selectors {sorted(set(plain) - set(group_cols))} "
                "must appear in GROUP BY"
            )
        if group_cols and t.strict:
            validate_group_by(meta, group_cols)
        df = t.df()
        aggs = []
        for s in st.selectors:
            if s.kind == "call":
                aggs.append(F.expr(calls[id(s)][1]).alias(s.alias or s.args[0]))
                continue
            if s.kind != "agg":
                continue
            inner = s.inner
            if inner is None:
                name = s.alias or (
                    f"{s.fn}_{s.args[0]}" if s.args[0] != "*" else "count"
                )
                col = (
                    F.count(F.lit(1))
                    if s.args[0] == "*"
                    else getattr(F, s.fn)(s.args[0])
                )
            else:
                # nested selectable under the aggregate
                if inner.kind == "cast":
                    c, typ = inner.args
                    if typ.lower() not in _CAST_TYPES:
                        raise InvalidRequest(f"unsupported cast target {typ!r}")
                    expr = _cast_expr(F.col(c), typ.lower())
                    label = f"cast_{c}"
                elif inner.kind == "field":
                    expr = F.col(".".join(inner.args))
                    label = "_".join(inner.args)
                else:  # writetime | ttl
                    c = inner.args[0]
                    if c in meta.primary_key:
                        raise InvalidRequest(
                            f"Cannot use selection function {inner.kind} on "
                            f"PRIMARY KEY part {c}"
                        )
                    shadow = f"_{inner.kind}_{c}"
                    if f"_cellwt_{c}" in t._df.columns:
                        raise InvalidRequest(
                            f"{inner.kind}() of a multi-cell column cannot "
                            "be aggregated (it is a per-cell list)"
                        )
                    if shadow not in t._df.columns:
                        raise InvalidRequest(
                            f"{inner.kind}() is only available on table "
                            "sessions (no liveness shadows here)"
                        )
                    expr = F.col(shadow)
                    label = f"{inner.kind}_{c}"
                name = s.alias or f"{s.fn}_{label}"
                col = getattr(F, s.fn)(expr)
            # CQL's avg over an integral type divides in integer
            # arithmetic (AvgFunction uses BigInteger sum / count —
            # truncation toward zero, which Spark's `div` matches);
            # Spark's F.avg would return a double instead
            # CQL's sum and avg return 0 for empty (or all-null) input,
            # not null (AggregateFcts.java — every numeric sum/avg fold
            # starts from a zero state and returns it untouched when no
            # live value arrives); Spark's sum/avg return NULL instead.
            # Each zero is cast to the branch's own output dtype BEFORE
            # coalesce so type promotion can't widen the aggregate.
            if s.fn == "avg":
                src = _integral_avg_source(s, meta, t._df.columns)
                if src is not None:
                    src_sql, src_type = src
                    if src_type.startswith("decimal"):
                        # decimal operands must NOT go through `div`:
                        # Spark's IntegralDivide wraps to 64 bits, silently
                        # corrupting 20+-digit varint sums. (sum - sum%cnt)
                        # / cnt is the exact truncating-toward-zero
                        # BigInteger division (Spark's mod follows the
                        # dividend's sign, like Java), and the division is
                        # then exact so the decimal cast never rounds.
                        sm, cn = f"sum({src_sql})", f"count({src_sql})"
                        q = f"({sm} - mod({sm}, {cn})) / {cn}"
                        col = F.coalesce(F.expr(q), F.lit(0)).cast(src_type)
                    else:
                        col = F.coalesce(
                            F.expr(f"sum({src_sql}) div count({src_sql})"),
                            F.lit(0),
                        ).cast(src_type)
                else:
                    # an INT zero literal: the least-common-type rules
                    # keep the avg's own dtype (double stays double,
                    # float stays float, decimal stays decimal — an
                    # explicit cast("double") here would silently widen
                    # avg(decimal) to double for ALL inputs, losing
                    # precision on every non-empty group)
                    col = F.coalesce(col, F.lit(0))
            elif s.fn == "sum":
                col = F.coalesce(col, F.lit(0).cast("long"))
            aggs.append(col.alias(name))
        out = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
        return out.limit(st.limit) if st.limit is not None else out

    projection = []
    for s in st.selectors:
        if s.kind == "star":
            # project the DECLARED columns: the db-table frame also carries
            # liveness shadows (_writetime_/_ttl_) for the selectors below,
            # which `*` must not leak
            return t.select(*[f.name for f in meta.schema.fields]).df()
        if s.kind == "col":
            projection.append(F.col(s.args[0]).alias(s.alias) if s.alias else F.col(s.args[0]))
        elif s.kind == "call":
            # scalar UDF call: the LANGUAGE sql body expanded inline —
            # runs in whole-stage codegen, no callout
            projection.append(F.expr(calls[id(s)][1]).alias(s.alias or s.args[0]))
        elif s.kind == "field":
            path = ".".join(s.args)
            projection.append(F.col(path).alias(s.alias or path))
        elif s.kind == "term":
            projection.append(F.lit(s.args[0]).alias(s.alias))
        elif s.kind in ("writetime", "ttl"):
            if s.args[0] in meta.primary_key:
                # SelectTest.java: writetime/ttl are cell-level facts; key
                # columns have no cells of their own
                raise InvalidRequest(
                    f"Cannot use selection function {s.kind} on PRIMARY KEY part {s.args[0]}"
                )
            cellmap = ("_cellwt_" if s.kind == "writetime" else "_cellttl_") + s.args[0]
            if cellmap in t._df.columns:
                # multi-cell column: WRITETIME(m)/TTL(m) is the KEY-ORDERED
                # per-cell list (cql3/selection/WritetimeOrTTLSelector —
                # one liveness per cell, CASSANDRA-8877). For a UDT the
                # cell order is FIELD DECLARATION order (the field index
                # is the cell path), not lexicographic.
                from pyspark.sql import types as _T

                dt = {f.name: f.dataType for f in meta.schema.fields}.get(s.args[0])
                if isinstance(dt, _T.StructType):
                    declared = F.array(*[F.lit(f.name) for f in dt.fields])
                    keys = F.filter(
                        declared, lambda k: F.map_contains_key(F.col(cellmap), k)
                    )
                else:
                    keys = F.array_sort(F.map_keys(F.col(cellmap)))
                expr = F.transform(keys, lambda k: F.col(cellmap)[k])
                projection.append(expr.alias(s.alias or f"{s.kind}({s.args[0]})"))
                continue
            shadow = f"_{s.kind}_{s.args[0]}"
            projection.append(F.col(shadow).alias(s.alias or f"{s.kind}({s.args[0]})"))
        elif s.kind in ("writetime_elem", "ttl_elem"):
            col, ekey = s.args
            fn = "writetime" if s.kind == "writetime_elem" else "ttl"
            if col in meta.primary_key:
                raise InvalidRequest(
                    f"Cannot use selection function {fn} on PRIMARY KEY part {col}"
                )
            shadow = ("_cellwt_" if fn == "writetime" else "_cellttl_") + col
            if shadow not in t._df.columns:
                from pyspark.sql import types as _T

                dt = {f.name: f.dataType for f in meta.schema.fields}.get(col)
                if isinstance(dt, _T.StructType):
                    # FROZEN UDT: one cell holds every field, so a field
                    # selector reads the column's single-cell liveness
                    # (null when the field itself is null — no cell ever
                    # stored a value for it)
                    if ekey not in dt.fieldNames():
                        raise InvalidRequest(
                            f"UDT column {col!r} does not have a field "
                            f"{ekey!r}"
                        )
                    scalar = f"_{fn}_{col}"
                    projection.append(
                        F.when(
                            F.col(col).getField(ekey).isNotNull(),
                            F.col(scalar),
                        ).alias(s.alias or f"{fn}({col}.{ekey})")
                    )
                    continue
                raise InvalidRequest(
                    f"{fn}() element selector needs a multi-cell "
                    f"collection or UDT column, got {col!r}"
                )
            projection.append(
                F.col(shadow)[F.lit(ekey)].alias(s.alias or f"{fn}({col}[{ekey}])")
            )
        elif s.kind == "token":
            if tuple(s.args) != tuple(meta.partition_key):
                raise InvalidRequest("token() selector requires the full partition key")
            projection.append(
                token_column(
                    s.args, meta.schema, {c: meta.cql_type(c) for c in s.args}
                ).alias(s.alias or "token")
            )
        elif s.kind == "cast":
            col, typ = s.args
            if typ.lower() not in _CAST_TYPES:
                raise InvalidRequest(f"unsupported cast target {typ!r}")
            projection.append(
                _cast_expr(F.col(col), typ.lower()).alias(s.alias or f"cast_{col}")
            )
        elif s.kind == "timefct":
            projection.append(_timefct_column(s, meta))
    t = t.select(*projection)
    df = t.df()
    if st.json:
        return df.select(F.to_json(F.struct(*df.columns)).alias("[json]"))
    return df


def execute_cql(
    spark: SparkSession,
    cql: str,
    sf_dir: str | None = None,
    params: list[Any] | None = None,
    strict: bool = True,
) -> DataFrame:
    """Parse + prepare + execute a CQL SELECT (entry point A, SURVEY §3).

    strict=True applies the reference's prepare-time gates; params bind `?`
    markers positionally (prepared-statement analog, QueryProcessor:402)."""
    st = parse_select(cql, params)
    # the fixture loader has no keyspace dimension — a qualified ks.t
    # resolves by table name here (CqlDatabase routes scoped lookups)
    t = cql_table(spark, st.table.rpartition(".")[2], sf_dir, strict=strict)
    return _compile(t, st)
