"""CQL DDL — CREATE KEYSPACE / TABLE / TYPE / INDEX, ALTER, DROP, parsed
from statement text into the catalog's TableMeta model.

References: grammar src/antlr/Parser.g:209 ff. (createKeyspaceStatement,
createTableStatement, createTypeStatement, createIndexStatement,
alterTableStatement, dropTableStatement);
cql3/statements/schema/CreateTableStatement.java (pk/clustering/static
resolution, CLUSTERING ORDER BY), CreateTypeStatement.java,
schema/TableMetadata.java:114-171 (column kinds). Type names follow
db/marshal/* (Int32Type, LongType, UTF8Type, …) mapped onto Spark types;
``frozen<X>`` is X (frozen-ness governs serialized storage in the
reference — immaterial for an analytics engine where every value column
is already an opaque whole).

``SchemaRegistry`` holds the parsed schema objects. ``CqlDatabase`` is
the full text surface on top: DDL routes here, INSERT/UPDATE/DELETE/BATCH
route to a per-table CqlWriteSession (writes.py), SELECT parses through
parser.py and compiles against the table's visible state — one entry
point that runs every statement kind the engine supports.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
from cassandra_pmem_spark.cql.parser import _Parser, _tokenize
from cassandra_pmem_spark.cql.validator import ConfigurationException, InvalidRequest
from cassandra_pmem_spark.plans.hints import unpersist_quietly

# db/marshal/* → Spark types. time is nanos-since-midnight (long);
# uuid/timeuuid/inet keep their canonical text form; duration keeps the
# ISO-ish text form functions/duration.py parses.
_NATIVE_TYPES: dict[str, T.DataType] = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "counter": T.LongType(),
    "varint": T.DecimalType(38, 0),
    "decimal": T.DecimalType(38, 18),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "ascii": T.StringType(),
    "blob": T.BinaryType(),
    "uuid": T.StringType(),
    "timeuuid": T.StringType(),
    "inet": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "time": T.LongType(),
    "duration": T.StringType(),
}


def _as_int(v) -> int | None:
    """Option value as an int when it is one (bools excluded), else None —
    the ALTER MV param guards compare numerically."""
    return int(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None


def _validated_default_ttl(val, has_counters: bool):
    """TableParams.validate for default_time_to_live (TableParams.java;
    Attributes.MAX_TTL): an int in [0, MAX_TTL], and never on a counter
    table (cells on counter tables cannot expire)."""
    from cassandra_pmem_spark.cql.writes import MAX_TTL

    if isinstance(val, bool) or not isinstance(val, int):
        raise InvalidRequest(
            f"Invalid {type(val).__name__} constant for default_time_to_live"
        )
    if val < 0 or val > MAX_TTL:
        raise InvalidRequest(
            f"default_time_to_live must be between 0 and {MAX_TTL}, got {val}"
        )
    if val and has_counters:
        raise InvalidRequest(
            "Cannot set default_time_to_live on a table with counters"
        )
    return int(val)


@dataclass
class KeyspaceMeta:
    name: str
    replication: dict[str, Any] = field(default_factory=dict)
    durable_writes: bool = True


@dataclass
class IndexMeta:
    name: str
    table: tuple[str | None, str]  # canonical (keyspace, table) key
    column: str
    custom_class: str | None = None
    # IndexTarget.Type (schema/IndexMetadata.java / IndexTarget.java):
    # 'simple' (scalar EQ), 'values' (CONTAINS), 'keys' (CONTAINS KEY),
    # 'entries' (m[k]=v), 'full' (frozen-collection EQ)
    kind: str = "simple"
    # CUSTOM options (IndexAttributes WITH OPTIONS = {...}; never holds
    # the reserved 'class_name'/'target' keys — those are derived)
    options: dict = field(default_factory=dict)


def _is_literal_type(owner, table_key: tuple, col: str) -> bool:
    """SASI isLiteral DEFAULT (IndexMode.getMode:180-182): the column's
    declared type is UTF8Type or AsciiType. Reads the registry's declared
    type text first (Spark stores uuid/inet as strings, so the Spark dtype
    alone over-claims); falls back to the Spark dtype for schemas created
    outside the DDL path."""
    reg = owner.registry
    tt = (
        reg.column_type_text.get(table_key, {}).get(col, "").strip().lower()
    )
    if tt:
        return tt in ("text", "varchar", "ascii")
    meta = reg.tables[table_key]
    dt = {f.name: f.dataType for f in meta.schema.fields}.get(col)
    return isinstance(dt, T.StringType)


def index_target_text(im: IndexMeta) -> str:
    """IndexTarget.asCqlString: the target as it appears in
    system_schema.indexes and DESCRIBE output."""
    k = getattr(im, "kind", "simple") or "simple"
    return im.column if k == "simple" else f"{k}({im.column})"


def _substitute_args(body: str, mapping: dict[str, str]) -> str:
    """Inline actual SQL fragments for the formal parameter names of a
    LANGUAGE sql body (word-boundary identifier replacement, OUTSIDE
    string literals — a body like ``CASE WHEN s = 's' …`` must keep the
    quoted ``'s'`` intact). The UDFunction.java:382 invocation analog —
    expansion instead of a callout keeps evaluation inside Catalyst
    whole-stage codegen."""
    import re as _re

    out = []
    # split keeps SQL string literals as whole parts — single- or
    # double-quoted, with backslash escapes and '' doubling
    for part in _re.split(
        r"""('(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.)*")""", body
    ):
        if part is None or not part:
            continue
        if part.startswith(("'", '"')):
            out.append(part)
        else:
            out.append(
                # the lookbehind skips struct-field accesses: in x.s the
                # trailing s is a FIELD of x, not the formal parameter s
                _re.sub(
                    r"\b(?<!\.)[A-Za-z_][A-Za-z0-9_]*",
                    lambda m: f"({mapping[m.group(0)]})"
                    if m.group(0) in mapping
                    else m.group(0),
                    part,
                )
            )
    return "".join(out)


# CQL type text → Spark SQL type text for CAST targets in assembled
# expressions (db/marshal/* names; tuple<…> becomes a struct with the
# same positional fields _1, _2, … cql_type() uses — the LANGUAGE sql
# body addresses them as state._1 etc.)
_SQL_TYPE_TEXT: dict[str, str] = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INT",
    "bigint": "BIGINT", "counter": "BIGINT", "float": "FLOAT",
    "double": "DOUBLE", "decimal": "DECIMAL(38,18)",
    "varint": "DECIMAL(38,0)", "text": "STRING", "varchar": "STRING",
    "ascii": "STRING", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP",
}


def _split_generics(body: str) -> list[str]:
    """Split a parameterized-type body at depth-0 commas only, so
    tuple<tuple<int,int>,text> yields ['tuple<int,int>', 'text'] rather
    than mis-splitting the nested generic at its inner comma."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _cql_type_to_sql(cql_type: str) -> str:
    t = cql_type.strip().lower()
    if t.startswith("tuple<") and t.endswith(">"):
        inner = _split_generics(t[len("tuple<"):-1])
        fields = ", ".join(
            f"_{i + 1}: {_cql_type_to_sql(x)}" for i, x in enumerate(inner)
        )
        return f"STRUCT<{fields}>"
    if t in _SQL_TYPE_TEXT:
        return _SQL_TYPE_TEXT[t]
    raise InvalidRequest(f"unsupported type {cql_type!r} in function signature")


@dataclass
class FunctionDef:
    """CREATE FUNCTION definition (cql3/functions/UDFunction.java:69;
    grammar Parser.g createFunction rule). This engine's body dialect is
    LANGUAGE sql — a Spark SQL expression over the formal argument names
    — because Spark cannot host the reference's sandboxed Java/JS
    bytecode (UDFByteCodeVerifier.java); expansion inlines the body at
    every call site, so a statement-created function runs JVM-side in
    whole-stage codegen rather than as a Python callout."""

    name: str
    args: tuple[tuple[str, str], ...]  # (formal name, CQL type text)
    returns: str  # CQL type text
    called_on_null: bool  # CALLED vs RETURNS NULL ON NULL INPUT
    body: str  # Spark SQL expression

    def expand(self, actuals: list[str]) -> str:
        """SQL for a call with the given actual fragments. RETURNS NULL
        ON NULL INPUT short-circuits without evaluating the body
        (UDFunction.java `calledOnNullInput`)."""
        if len(actuals) != len(self.args):
            raise InvalidRequest(
                f"function {self.name} takes {len(self.args)} arguments, "
                f"got {len(actuals)}"
            )
        expr = _substitute_args(
            self.body, {a: act for (a, _), act in zip(self.args, actuals)}
        )
        if not self.called_on_null and actuals:
            checks = " OR ".join(f"({a}) IS NULL" for a in actuals)
            expr = f"CASE WHEN {checks} THEN NULL ELSE ({expr}) END"
        return f"({expr})"


@dataclass
class AggregateDef:
    """CREATE AGGREGATE definition (cql3/functions/UDAggregate.java:
    44-53: SFUNC + STYPE + FINALFUNC + INITCOND; grammar Parser.g
    createAggregate rule). Spark realization: the whole fold compiles to
    one `aggregate(collect_list(struct(v)), init, merge, finish)`
    higher-order expression — per-group state folds stay JVM-side, with
    map-side partial collect and no Python. Values ride inside a struct
    so SQL nulls reach the state function (CALLED ON NULL INPUT) or are
    skipped leaving the state untouched (RETURNS NULL ON NULL INPUT —
    the reference skips invocation the same way)."""

    name: str
    arg_types: tuple[str, ...]
    sfunc: str
    stype: str
    finalfunc: str | None
    initcond_sql: str | None  # raw SQL literal text, or None
    # resolved (keyspace, name) keys of SFUNC/FINALFUNC, bound at CREATE
    # AGGREGATE time (UDAggregate.java holds resolved ScalarFunction
    # references, not names — a same-named function in the CALLER's
    # keyspace must not hijack the fold at SELECT time)
    sfunc_key: tuple[str | None, str] | None = None
    finalfunc_key: tuple[str | None, str] | None = None

    def expand(self, sfn: FunctionDef, ffn: FunctionDef | None, actual: str) -> str:
        state, val = sfn.args[0][0], sfn.args[1][0]
        merge = _substitute_args(sfn.body, {state: "acc", val: "v.v"})
        if not sfn.called_on_null:
            # RETURNS NULL ON NULL INPUT skips invocation when ANY arg is
            # null — including the state (UDAggregate.java:227: a null
            # accumulator keeps the aggregate null, the body never runs)
            merge = f"IF(acc IS NULL OR v.v IS NULL, acc, ({merge}))"
        init = f"CAST({self.initcond_sql or 'NULL'} AS {_cql_type_to_sql(self.stype)})"
        expr = (
            f"aggregate(collect_list(struct(({actual}) AS v)), {init}, "
            f"(acc, v) -> ({merge})"
        )
        if ffn is not None:
            fin = _substitute_args(ffn.body, {ffn.args[0][0]: "acc"})
            if not ffn.called_on_null:
                # a RETURNS NULL ON NULL INPUT finalfunc short-circuits
                # on a null accumulator without evaluating the body
                fin = f"IF(acc IS NULL, NULL, ({fin}))"
            expr += f", acc -> ({fin})"
        return expr + ")"


@dataclass
class ViewMeta:
    """CREATE MATERIALIZED VIEW definition (CreateViewStatement.java:95;
    db/view/View.java). The view is a derived table: selected columns of
    the base, re-keyed on the view primary key, rows filtered by the
    statement's WHERE restrictions (every view PK column IS NOT NULL at
    minimum). Spark analog: the view never stores rows — SELECTs compile
    over a filter+project of the base session's visible frame, so it is
    always current (ViewUpdateGenerator's incremental maintenance is the
    identity here; the streaming analog lives in streaming/mv.py)."""

    name: str
    base_key: tuple[str | None, str]
    meta: TableMeta  # view-shaped schema: view PK, selected columns
    selected: tuple[str, ...]
    # WHERE relations beyond IS NOT NULL: (column, op, literal) — only
    # base-PK columns may carry them (CreateViewStatement.java:272)
    relations: tuple[tuple[str, str, Any], ...] = ()
    # every column the WHERE clause restricted IS NOT NULL — the view
    # filters on ALL of them, not just its PK columns
    isnotnull: tuple[str, ...] = ()


class TableNamespace(dict):
    """Tables keyed by ``(keyspace | None, name)``, mirroring the
    reference's keyspace-scoped schema model (schema/KeyspaceMetadata.java
    holds a per-keyspace tables map), so two keyspaces can own same-named
    tables. Bare-string access resolves: the current keyspace first, then
    the unscoped name, then a UNIQUE suffix match across keyspaces —
    an ambiguous bare name raises instead of picking one arbitrarily."""

    def resolve(
        self,
        name: str,
        keyspace: str | None = None,
        current: str | None = None,
        missing_ok: bool = False,
    ) -> tuple[str | None, str] | None:
        if keyspace is not None:
            key = (keyspace, name)
            if dict.__contains__(self, key):
                return key
            if missing_ok:
                return None
            raise InvalidRequest(f"unknown table {keyspace}.{name}")
        if current is not None and dict.__contains__(self, (current, name)):
            return (current, name)
        if dict.__contains__(self, (None, name)):
            return (None, name)
        matches = [k for k in self if k[1] == name]
        if len(matches) == 1:
            return matches[0]
        if matches:
            raise InvalidRequest(
                f"table name {name!r} is ambiguous across keyspaces "
                f"{sorted(k[0] for k in matches)}; qualify it"
            )
        if missing_ok:
            return None
        raise InvalidRequest(f"unknown table {name!r}")

    def _key(self, k):
        return k if isinstance(k, tuple) else self.resolve(k)

    def __contains__(self, k) -> bool:
        if isinstance(k, tuple):
            return dict.__contains__(self, k)
        return any(key[1] == k for key in self)

    def __getitem__(self, k):
        return dict.__getitem__(self, self._key(k))

    def __setitem__(self, k, v) -> None:
        if not isinstance(k, tuple):
            k = self.resolve(k, missing_ok=True) or (None, k)
        dict.__setitem__(self, k, v)

    def __delitem__(self, k) -> None:
        dict.__delitem__(self, self._key(k))

    def pop(self, k, *default):
        key = self._key(k) if isinstance(k, tuple) or k in self else k
        return dict.pop(self, key, *default)


class _DdlParser(_Parser):
    def __init__(self, toks, registry: "SchemaRegistry", current_keyspace: str | None = None):
        super().__init__(toks)
        self.registry = registry
        self.current_keyspace = current_keyspace

    # -- shared bits ----------------------------------------------------------

    def accept_op(self, text: str) -> bool:
        t = self.peek()
        if t.kind == "op" and t.text == text:
            self.next()
            return True
        return False

    def expect_op(self, text: str) -> None:
        if not self.accept_op(text):
            raise InvalidRequest(f"expected {text!r}, got {self.peek().text!r}")

    def qualified_name(self) -> tuple[str | None, str]:
        a = self.ident()
        if self.accept_punct("."):
            return a, self.ident()
        return None, a

    def if_not_exists(self) -> bool:
        if self.accept_kw("if"):
            self.expect_kw("not")
            self.expect_kw("exists")
            return True
        return False

    def if_exists(self) -> bool:
        if self.accept_kw("if"):
            self.expect_kw("exists")
            return True
        return False

    def column_type(self) -> tuple[T.DataType, str | None, bool, bool]:
        """Like cql_type, but ALSO reports the top-level collection kind
        ('list' | 'set' | 'map' | None), frozen-ness, and counter-ness —
        Spark erases all three (set<t> and list<t> are ArrayType; frozen<X>
        stores like X; counter is a long), yet the reference's
        mutation-validation rules depend on them (Lists/Sets/Maps.java
        operation dispatch; FrozenCollectionsTest; Operation.java:169
        counter setter rejection)."""
        name = self.peek().text.lower()
        if name == "frozen":
            self.next()
            self.expect_op("<")
            dtype, kind, _, _ = self.column_type()
            self.expect_op(">")
            return dtype, kind, True, False
        if name in ("list", "set", "map"):
            kind = name
        elif name in self.registry.types:
            # a column of a user type is MULTI-CELL unless frozen<…>
            # (db/marshal/UserType.java:52-63 isMultiCell; since
            # CASSANDRA-7423 non-frozen UDTs store one cell per field)
            kind = "udt"
            # side-channel for schema bookkeeping: ALTER TYPE must find
            # every table column declared with this type name
            self._last_udt_typename = name
        else:
            kind = None
        return self.cql_type(), kind, False, name == "counter"

    def cql_type(self) -> T.DataType:
        """type := native | list<t> | set<t> | map<k,v> | tuple<t,...>
        | frozen<t> | udt_name (Parser.g comparatorType)."""
        name = self.ident().lower()
        if name == "frozen":
            self.expect_op("<")
            inner = self.cql_type()
            self.expect_op(">")
            return inner
        if name in ("list", "set"):
            self.expect_op("<")
            elem = self.cql_type()
            self.expect_op(">")
            return T.ArrayType(elem)
        if name == "map":
            self.expect_op("<")
            k = self.cql_type()
            self.expect_punct(",")
            v = self.cql_type()
            self.expect_op(">")
            return T.MapType(k, v)
        if name == "tuple":
            self.expect_op("<")
            elems = [self.cql_type()]
            while self.accept_punct(","):
                elems.append(self.cql_type())
            self.expect_op(">")
            return T.StructType(
                [T.StructField(f"_{i + 1}", t) for i, t in enumerate(elems)]
            )
        if name in _NATIVE_TYPES:
            return _NATIVE_TYPES[name]
        if name in self.registry.types:
            # record the reference for schema bookkeeping: DROP TYPE's
            # in-use gate and ALTER TYPE propagation must see user types
            # NESTED inside collections/tuples, not just direct columns
            if not hasattr(self, "_type_refs"):
                self._type_refs = set()
            self._type_refs.add(name)
            return self.registry.types[name]
        raise InvalidRequest(f"unknown type {name!r}")

    def map_literal(self) -> dict:
        """{'k': v, ...} — keyspace replication options et al."""
        self.expect_punct("{")
        out: dict = {}
        if not self.accept_punct("}"):
            while True:
                k = self.literal([], [0])
                self.expect_punct(":")
                out[k] = self.literal([], [0])
                if not self.accept_punct(","):
                    break
            self.expect_punct("}")
        return out

    def _skip_option_value(self) -> Any:
        """Table options we model are parsed; the rest (compaction,
        caching, …) are consumed and returned raw so WITH chains parse."""
        if self.peek().kind == "punct" and self.peek().text == "{":
            return self.map_literal()
        return self.literal([], [0])

    def _end(self) -> None:
        self.accept_punct(";")
        if self.peek().kind != "eof":
            raise InvalidRequest(f"trailing input near {self.peek().text!r}")

    # -- statements -----------------------------------------------------------

    def create_keyspace(self) -> KeyspaceMeta | None:
        self.expect_kw("keyspace")
        ine = self.if_not_exists()
        _, name = self.qualified_name()
        ks = KeyspaceMeta(name)
        if self.accept_kw("with"):
            while True:
                opt = self.ident().lower()
                self.expect_op("=")
                if opt == "replication":
                    ks.replication = self.map_literal()
                elif opt == "durable_writes":
                    ks.durable_writes = bool(self._skip_option_value())
                else:
                    self._skip_option_value()
                if not self.accept_kw("and"):
                    break
        self._end()
        if name in self.registry.keyspaces:
            if ine:
                return None
            raise InvalidRequest(f"keyspace {name!r} already exists")
        return ks

    def create_type(self) -> tuple[str, T.StructType] | None:
        self.expect_kw("type")
        ine = self.if_not_exists()
        ks, name = self.qualified_name()
        self.last_type_keyspace = ks if ks is not None else self.current_keyspace
        self._type_refs = set()
        self.last_type_field_text: dict[str, str] = {}
        self.expect_punct("(")

        def one_field() -> tuple[str, T.DataType]:
            fname = self.ident()
            tstart = self.i
            ftype = self.cql_type()
            # declared CQL type text verbatim — reconstruction from Spark
            # types can't see set-vs-list (same capture create_table does)
            self.last_type_field_text[fname] = (
                "".join(t.text for t in self.toks[tstart:self.i])
                .lower()
                .replace(",", ", ")
            )
            return fname, ftype

        fields = [one_field()]
        while self.accept_punct(","):
            fields.append(one_field())
        self.expect_punct(")")
        self._end()
        # types EMBEDDED in this type's fields (frozen<other> et al.) —
        # DROP TYPE's gate and ALTER TYPE must see type-in-type usage
        self.last_type_refs = frozenset(self._type_refs)
        if name.lower() in self.registry.types:
            if ine:
                return None
            raise InvalidRequest(f"type {name!r} already exists")
        return name.lower(), T.StructType([T.StructField(n, t) for n, t in fields])

    def create_table(self) -> TableMeta | None:
        self.expect_kw("table")
        ine = self.if_not_exists()
        ks, name = self.qualified_name()
        # an unqualified CREATE issued after USE scopes to the USE'd
        # keyspace (UseStatement.java); a named keyspace must exist
        eff_ks = ks if ks is not None else self.current_keyspace
        if ks is not None and ks not in self.registry.keyspaces:
            raise InvalidRequest(f"unknown keyspace {ks!r}")
        self.last_key = (eff_ks, name)  # canonical registry key
        self.last_collection_kinds: dict[str, str] = {}
        self.last_frozen: set[str] = set()
        self.last_counters: set[str] = set()
        self.last_udt_columns: dict[str, str] = {}  # col -> type name
        self.last_udt_refs: dict[str, frozenset] = {}  # col -> all type names
        self.last_column_type_text: dict[str, str] = {}  # col -> CQL text
        self.last_default_ttl: int = 0  # TableParams default_time_to_live
        self.expect_punct("(")

        cols: list[tuple[str, T.DataType]] = []
        statics: list[str] = []
        pk_cols: list[str] | None = None
        ck_cols: list[str] = []
        special_types: dict[str, str] = {}  # uuid/timeuuid/inet wire forms
        while True:
            if self.accept_kw("primary"):
                # PRIMARY KEY ((p1, p2), c1, c2) | PRIMARY KEY (p, c1, ...)
                self.expect_kw("key")
                self.expect_punct("(")
                if self.accept_punct("("):
                    pk_cols = [self.ident()]
                    while self.accept_punct(","):
                        pk_cols.append(self.ident())
                    self.expect_punct(")")
                else:
                    pk_cols = [self.ident()]
                while self.accept_punct(","):
                    ck_cols.append(self.ident())
                self.expect_punct(")")
            else:
                col = self.ident()
                raw_type = self.peek().text.lower()
                self._type_refs = set()
                tstart = self.i
                typ, kind, frozen, is_counter = self.column_type()
                # the DECLARED CQL type text, verbatim (normalized) — the
                # system_schema.columns `type` cell; reconstruction from
                # Spark types can't see nesting facts (set-vs-list, UDT
                # names inside collections), the source text can
                self.last_column_type_text[col] = (
                    "".join(t.text for t in self.toks[tstart:self.i])
                    .lower()
                    .replace(",", ", ")
                )
                if self._type_refs:
                    self.last_udt_refs[col] = frozenset(self._type_refs)
                if raw_type in ("uuid", "timeuuid", "inet"):
                    special_types[col] = raw_type
                if kind is not None:
                    self.last_collection_kinds[col] = kind
                if kind == "udt":
                    self.last_udt_columns[col] = self._last_udt_typename
                if frozen:
                    self.last_frozen.add(col)
                if is_counter:
                    self.last_counters.add(col)
                is_static = self.accept_kw("static")
                cols.append((col, typ))
                if is_static:
                    statics.append(col)
                if self.accept_kw("primary"):  # inline single-column pk
                    self.expect_kw("key")
                    if pk_cols is not None:
                        raise InvalidRequest("duplicate PRIMARY KEY specification")
                    pk_cols = [col]
            if not self.accept_punct(","):
                break
        self.expect_punct(")")

        clustering_order: dict[str, bool] = {}
        if self.accept_kw("with"):
            while True:
                if self.accept_kw("clustering"):
                    self.expect_kw("order")
                    self.expect_kw("by")
                    self.expect_punct("(")
                    while True:
                        c = self.ident()
                        asc = True
                        if self.accept_kw("desc"):
                            asc = False
                        else:
                            self.accept_kw("asc")
                        clustering_order[c] = asc
                        if not self.accept_punct(","):
                            break
                    self.expect_punct(")")
                elif self.accept_kw("compact"):
                    self.expect_kw("storage")
                else:
                    opt = self.ident().lower()
                    self.expect_op("=")
                    val = self._skip_option_value()
                    if opt == "default_time_to_live":
                        self.last_default_ttl = _validated_default_ttl(
                            val, bool(self.last_counters)
                        )
                if not self.accept_kw("and"):
                    break
        self._end()

        if pk_cols is None:
            raise InvalidRequest(f"table {name!r} has no PRIMARY KEY")
        declared = {c for c, _ in cols}
        missing = [c for c in pk_cols + ck_cols if c not in declared]
        if missing:
            raise InvalidRequest(f"PRIMARY KEY columns {missing} are not declared")
        bad_static = set(statics) & set(pk_cols + ck_cols)
        if bad_static:
            raise InvalidRequest(f"static columns {sorted(bad_static)} cannot be key columns")
        bad_order = set(clustering_order) - set(ck_cols)
        if bad_order:
            raise InvalidRequest(
                f"CLUSTERING ORDER BY columns {sorted(bad_order)} are not clustering columns"
            )
        if self.last_counters:
            # CreateTableStatement.java:229 — a counter table's non-key
            # columns must ALL be counters
            plain = declared - set(pk_cols) - set(ck_cols) - self.last_counters
            if plain:
                raise InvalidRequest("Cannot mix counter and non counter columns in the same table")
            bad_key = self.last_counters & (set(pk_cols) | set(ck_cols))
            if bad_key:
                raise InvalidRequest(
                    f"counter type is not supported for PRIMARY KEY column {sorted(bad_key)[0]!r}"
                )

        meta = TableMeta(
            name,
            T.StructType([T.StructField(c, t) for c, t in cols]),
            partition_key=tuple(pk_cols),
            clustering=tuple(
                ClusteringColumn(c, clustering_order.get(c, True)) for c in ck_cols
            ),
            static_columns=tuple(statics),
            cql_key_types=tuple(sorted(special_types.items())),
        )
        # exact-key existence only: the same bare name may live in two
        # different keyspaces (CreateTest.java duplicate-table rejection
        # is per-keyspace)
        if self.last_key in self.registry.tables:
            if ine:
                return None
            raise InvalidRequest(f"table {name!r} already exists")
        if self.last_key in self.registry.views:
            # mirror of the CreateViewStatement.java:120 collision the
            # other way round — without this, the new table would shadow
            # the view on SELECT resolution (tables resolve first)
            raise InvalidRequest(
                f"Cannot create table '{name}' - a materialized view with "
                "the same name already exists"
            )
        return meta

    def create_index(self) -> IndexMeta | None:
        custom = self.accept_kw("custom")
        self.expect_kw("index")
        ine = self.if_not_exists()
        idx_name = None
        if not (self.peek().kind == "ident" and self.peek().text.lower() == "on"):
            idx_name = self.ident()
        self.expect_kw("on")
        t_ks, table = self.qualified_name()
        table_key = self.registry.tables.resolve(
            table, keyspace=t_ks, current=self.current_keyspace
        )
        self.expect_punct("(")
        # indexIdent (Parser.g:842-847): cident | VALUES(c) | KEYS(c) |
        # ENTRIES(c) | FULL(c). Exactly one target (the reference allows
        # zero/multiple only for CUSTOM indexes — CreateIndexStatement
        # .java:105,110).
        if self.accept_punct(")"):
            # the reference allows target-less CUSTOM (row-based) indexes
            # (CreateIndexStatement.java:105); this engine's index model
            # is column-keyed, so that remains an explicit boundary
            raise InvalidRequest(
                "CUSTOM indexes without a target column are not supported "
                "by this engine"
                if custom
                else "Only CUSTOM indexes can be created without "
                "specifying a target column"
            )
        kind = "simple"
        nxt = self.peek()
        if (
            nxt.kind == "ident"
            and nxt.text.lower() in ("values", "keys", "entries", "full")
            and self.toks[self.i + 1].kind == "punct"
            and self.toks[self.i + 1].text == "("
        ):
            kind = nxt.text.lower()
            self.next()
            self.expect_punct("(")
            col = self.ident()
            self.expect_punct(")")
        else:
            col = self.ident()
        if self.accept_punct(","):
            # multi-column targets are CUSTOM-only in the reference
            # (CreateIndexStatement.java:110) and a column-keyed boundary
            # here either way
            raise InvalidRequest(
                "CUSTOM indexes with multiple target columns are not "
                "supported by this engine"
                if custom
                else "Only CUSTOM indexes support multiple columns"
            )
        self.expect_punct(")")
        cls = None
        if self.accept_kw("using"):
            t = self.next()
            if t.kind != "string":
                raise InvalidRequest("CUSTOM INDEX expects USING 'class'")
            cls = t.text[1:-1]
        opts: dict = {}
        if self.accept_kw("with"):
            if self.ident().lower() != "options":
                raise InvalidRequest("CREATE INDEX supports WITH OPTIONS only")
            self.expect_op("=")
            opts = {str(k): str(v) for k, v in self.map_literal().items()}
        self._end()
        # IndexAttributes.validate (reference messages verbatim, incl.
        # the upstream 'specifiying' typo — IndexAttributes.java:47-61)
        if custom and cls is None:
            raise InvalidRequest(
                "CUSTOM index requires specifiying the index class"
            )
        if not custom and cls is not None:
            raise InvalidRequest(
                "Cannot specify index class for a non-CUSTOM index"
            )
        if not custom and opts:
            raise InvalidRequest(
                "Cannot specify options for a non-CUSTOM index"
            )
        for reserved in ("class_name", "target"):
            if reserved in opts:
                raise InvalidRequest(
                    f"Cannot specify {reserved} as a CUSTOM option"
                )
        kind = self._validate_index_target(table_key, col, kind)
        # SASI-specific validation (SASIIndex.validateOptions:146-167 +
        # IndexMode.getMode:134-196) — only the SASI class has modeled
        # per-mode semantics; other custom classes stay opaque
        from cassandra_pmem_spark.cql.validator import (
            is_sasi_class,
            sasi_index_mode,
            validate_sasi_mode,
        )

        if is_sasi_class(cls):
            # complex (multi-cell) targets rejected first, like the
            # reference's check order (SASIIndex.java:148-152): the
            # keys()/values()/entries() kinds exist only for non-frozen
            # collections, exactly ColumnMetadata.isComplex. A frozen
            # collection (kind 'full') is single-cell and passes this
            # check in the reference, so it stays a generic custom index
            # here (SASI has no modeled semantics for it).
            if kind in ("keys", "values", "entries"):
                raise ConfigurationException(
                    "complex columns are not yet supported by SASI"
                )
            meta_t = self.registry.tables[table_key]
            if col in meta_t.partition_key:
                raise ConfigurationException(
                    "partition key columns are not yet supported by SASI"
                )
            if kind == "simple":
                mode_info = sasi_index_mode(
                    opts, _is_literal_type(self, table_key, col)
                )
                validate_sasi_mode(mode_info)
        if idx_name is None:
            # findAvailableIndexName (KeyspaceMetadata): the default name
            # suffixes until free, so KEYS(m) + VALUES(m) unnamed indexes
            # on one column both succeed like the reference
            base = f"{table}_{col}_idx"
            name, n = base, 0
            while (table_key[0], name) in self.registry.indexes:
                n += 1
                name = f"{base}_{n}"
        else:
            name = idx_name
            # per-keyspace uniqueness: the same explicit name may exist
            # for a same-named table in another keyspace
            if (table_key[0], name) in self.registry.indexes:
                if ine:
                    return None
                raise InvalidRequest(f"index {name!r} already exists")
        # duplicate-target rejection (CreateIndexStatement.java:130-135)
        for other in self.registry.indexes.values():
            if (
                other.table == table_key
                and other.column == col
                and (getattr(other, "kind", "simple") or "simple") == kind
                and other.custom_class == cls
                and getattr(other, "options", {}) == opts
            ):
                if ine:
                    return None
                raise InvalidRequest(
                    f"Index {name} is a duplicate of existing index {other.name}"
                )
        return IndexMeta(name, table_key, col, cls, kind, opts)

    def _validate_index_target(self, table_key: tuple, col: str, kind: str) -> str:
        """validateIndexTarget (CreateIndexStatement.java:153-192), plus
        the SIMPLE->VALUES normalization IndexTarget.Raw.prepare applies
        to non-frozen collections. Returns the effective kind."""
        meta = self.registry.tables[table_key]
        if col not in {f.name for f in meta.schema.fields}:
            raise InvalidRequest(f"Column '{col}' doesn't exist")
        import re as _re3

        type_text = self.registry.column_type_text.get(table_key, {}).get(col, "")
        # WORD match: a UDT named work_duration must stay indexable
        if _re3.search(r"(?<![a-z0-9_])duration(?![a-z0-9_])", type_text.lower()) or dict(
            getattr(meta, "cql_key_types", ()) or ()
        ).get(col) == "duration":
            raise InvalidRequest(
                "Secondary indexes are not supported on duration columns"
                if type_text.lower().strip() == "duration"
                else "Secondary indexes are not supported on collections "
                "containing durations"
            )
        if list(meta.partition_key) == [col]:
            raise InvalidRequest(
                "Cannot create secondary index on the only partition key "
                f"column {col}"
            )
        coll_kind = self.registry.collection_kinds.get(table_key, {}).get(col)
        frozen = col in self.registry.frozen_columns.get(table_key, frozenset())
        is_coll = coll_kind in ("list", "set", "map")
        if is_coll and frozen and kind != "full":
            raise InvalidRequest(
                f"Cannot create {kind}() index on frozen column {col}. "
                "Frozen collections only support full() indexes"
            )
        if not (is_coll and frozen) and kind == "full":
            raise InvalidRequest(
                "full() indexes can only be created on frozen collections"
            )
        if not is_coll and kind not in ("simple", "full"):
            raise InvalidRequest(
                f"Cannot create {kind}() index on {col}. Non-collection "
                "columns only support simple indexes"
            )
        if kind in ("keys", "entries") and not (coll_kind == "map" and not frozen):
            raise InvalidRequest(
                f"Cannot create index on {kind} of column {col} with "
                "non-map type"
            )
        if coll_kind == "udt" and not frozen:
            raise InvalidRequest(
                f"Cannot create index on non-frozen UDT column {col}"
            )
        if is_coll and not frozen and kind == "simple":
            # IndexTarget.Raw.prepare: a bare collection target is a
            # VALUES index
            return "values"
        return kind

    def create_trigger(self) -> tuple[tuple, str, str] | None:
        """CREATE TRIGGER [IF NOT EXISTS] name ON [ks.]table USING 'class'
        (Parser.g:896-905; CreateTriggerStatement.java:49-80). Returns
        (table key, trigger name, class) or None for the IF NOT EXISTS
        no-op. Validation mirrors the reference's apply() order: table
        exists → not a view → duplicate name → class loadable."""
        self.expect_kw("trigger")
        ine = self.if_not_exists()
        name = self.ident()
        self.expect_kw("on")
        ks_q, table = self.qualified_name()
        self.expect_kw("using")
        t = self.next()
        if t.kind != "string":
            raise InvalidRequest("CREATE TRIGGER expects USING 'class'")
        cls = t.text[1:-1]
        self._end()
        table_key = self.registry.tables.resolve(
            table, keyspace=ks_q, current=self.current_keyspace, missing_ok=True
        )
        if table_key is None:
            if self.registry.views.resolve(
                table, keyspace=ks_q, current=self.current_keyspace,
                missing_ok=True,
            ):
                # CreateTriggerStatement.java:60
                raise InvalidRequest(
                    "Cannot CREATE TRIGGER for a materialized view"
                )
            raise InvalidRequest(f"Table '{table}' doesn't exist")
        if name in self.registry.triggers.get(table_key, {}):
            if ine:
                return None
            raise InvalidRequest(f"Trigger '{name}' already exists")
        from cassandra_pmem_spark.cql.triggers import trigger_class_exists

        if not trigger_class_exists(cls):
            # CreateTriggerStatement.java:71-78 (loadTriggerInstance fails)
            raise InvalidRequest(f"Trigger class '{cls}' couldn't be loaded")
        return table_key, name, cls

    def create_view(self) -> ViewMeta | None:
        """CREATE MATERIALIZED VIEW (Parser.g:851 createMaterializedView-
        Statement; CreateViewStatement.java:95-300): parse the AS SELECT /
        WHERE / PRIMARY KEY shape and apply the reference's gates in the
        reference's order. Returns None when IF NOT EXISTS suppressed a
        duplicate."""
        self.expect_kw("materialized")
        self.expect_kw("view")
        ine = self.if_not_exists()
        ks, name = self.qualified_name()
        eff_ks = ks if ks is not None else self.current_keyspace
        if ks is not None and ks not in self.registry.keyspaces:
            raise InvalidRequest(f"Keyspace '{ks}' doesn't exist")
        self.last_key = (eff_ks, name)
        self.expect_kw("as")
        self.expect_kw("select")

        # SELECT clause: * or bare column names only
        # (CreateViewStatement.java:160-171 — no aliases, no expressions)
        raw_cols: list[str] | None = None
        if not self.accept_punct("*"):
            raw_cols = [self.ident()]
            while self.accept_punct(","):
                raw_cols.append(self.ident())
            for c in raw_cols:
                if c.lower() == "as":
                    raise InvalidRequest(
                        "Cannot use aliases when defining a materialized view"
                    )
        self.expect_kw("from")
        b_ks, b_name = self.qualified_name()
        if b_ks is not None and eff_ks is not None and b_ks != eff_ks:
            # CreateViewStatement.java:383
            raise InvalidRequest(
                "Cannot create a materialized view on a table in a different keyspace"
            )
        base_key = self.registry.tables.resolve(
            b_name,
            keyspace=b_ks,
            current=self.current_keyspace,
            missing_ok=True,
        )
        if base_key is None:
            if self.registry.views.resolve(
                b_name, keyspace=b_ks, current=self.current_keyspace, missing_ok=True
            ):
                # CreateViewStatement.java:138
                raise InvalidRequest(
                    "Materialized views cannot be created against other "
                    "materialized views"
                )
            raise InvalidRequest(f"Base table '{b_name}' doesn't exist")
        base = self.registry.tables[base_key]
        if self.registry.counter_columns.get(base_key):
            # CreateViewStatement.java:135
            raise InvalidRequest(
                "Materialized views are not supported on counter tables"
            )
        if self.registry.table_params.get(base_key, {}).get("default_ttl"):
            # CASSANDRA-14071 (other direction of the ALTER-time guard):
            # TTL'd base rows would expire out from under the view
            raise InvalidRequest(
                "Cannot create Materialized View against base table "
                f"'{base_key[1]}' with default_time_to_live set"
            )

        base_cols = {f.name: f for f in base.schema.fields}
        if raw_cols is None:
            selected = [f.name for f in base.schema.fields]
        else:
            unknown = [c for c in raw_cols if c not in base_cols]
            if unknown:
                raise InvalidRequest(
                    f"Undefined column name {unknown[0]} in base table"
                )
            selected = list(dict.fromkeys(raw_cols))
        bad_static = [c for c in selected if c in base.static_columns]
        if bad_static:
            # CreateViewStatement.java:177
            raise InvalidRequest(
                f"Cannot include static column '{bad_static[0]}' in "
                f"materialized view '{name}'"
            )

        # WHERE clause: `col IS NOT NULL` plus literal relations on
        # base-PK columns (CreateViewStatement.java:246-274; bind markers
        # rejected at :386)
        isnotnull: set[str] = set()
        relations: list[tuple[str, str, Any]] = []
        if self.accept_kw("where"):
            while True:
                col = self.ident()
                if self.accept_kw("is"):
                    self.expect_kw("not")
                    self.expect_kw("null")
                    isnotnull.add(col)
                else:
                    t = self.next()
                    if t.kind != "op" or t.text not in ("=", "<", "<=", ">", ">="):
                        raise InvalidRequest(
                            f"unsupported materialized-view restriction {t.text!r}"
                        )
                    if self.peek().kind == "punct" and self.peek().text == "?":
                        raise InvalidRequest(
                            "Bind variables are not allowed in CREATE "
                            "MATERIALIZED VIEW statements"
                        )
                    relations.append((col, t.text, self.literal([], [0])))
                if not self.accept_kw("and"):
                    break

        # PRIMARY KEY ((p…), c…) | (p, c…)
        self.expect_kw("primary")
        self.expect_kw("key")
        self.expect_punct("(")
        if self.accept_punct("("):
            pk_cols = [self.ident()]
            while self.accept_punct(","):
                pk_cols.append(self.ident())
            self.expect_punct(")")
        else:
            pk_cols = [self.ident()]
        ck_cols: list[str] = []
        while self.accept_punct(","):
            ck_cols.append(self.ident())
        self.expect_punct(")")

        clustering_order: dict[str, bool] = {}
        if self.accept_kw("with"):
            while True:
                if self.accept_kw("clustering"):
                    self.expect_kw("order")
                    self.expect_kw("by")
                    self.expect_punct("(")
                    while True:
                        c = self.ident()
                        asc = True
                        if self.accept_kw("desc"):
                            asc = False
                        else:
                            self.accept_kw("asc")
                        clustering_order[c] = asc
                        if not self.accept_punct(","):
                            break
                    self.expect_punct(")")
                else:
                    opt = self.ident()
                    if opt.lower() == "default_time_to_live":
                        # CreateViewStatement.java:284
                        raise InvalidRequest(
                            "Cannot set default_time_to_live for a materialized "
                            "view. Data in a materialized view always expire at "
                            "the same time than the corresponding data in the "
                            "parent table."
                        )
                    self.expect_op("=")
                    self._skip_option_value()
                if not self.accept_kw("and"):
                    break
        self._end()

        bad_order = set(clustering_order) - set(ck_cols)
        if bad_order:
            # CreateViewStatement.java:216
            raise InvalidRequest(
                "Clustering key columns must exactly match columns in "
                "CLUSTERING ORDER BY directive"
            )
        if not pk_cols:
            raise InvalidRequest(
                f"Must provide at least one partition key column for "
                f"materialized view '{name}'"
            )
        seen: set[str] = set()
        for c in pk_cols + ck_cols:
            # a PK column must exist in the base AND be selected
            # (CreateViewStatement.java:192)
            if c not in base_cols or c not in selected:
                raise InvalidRequest(
                    f"Unknown column '{c}' referenced in PRIMARY KEY for "
                    f"materialized view '{name}'"
                )
            if c in seen:
                raise InvalidRequest(
                    f"Duplicate column '{c}' in PRIMARY KEY clause for "
                    f"materialized view '{name}'"
                )
            seen.add(c)
        view_pk = pk_cols + ck_cols
        missing_base_pk = [c for c in base.primary_key if c not in seen]
        if missing_base_pk:
            # CreateViewStatement.java:230
            raise InvalidRequest(
                f"Cannot create materialized view '{name}' without primary "
                f"key columns {', '.join(missing_base_pk)} from base table "
                f"'{b_name}'"
            )
        extra = [c for c in view_pk if c not in base.primary_key]
        if len(extra) > 1:
            # CreateViewStatement.java:238
            raise InvalidRequest(
                "Cannot include more than one non-primary key column in "
                f"materialized view primary key (got {', '.join(extra)})"
            )
        bad_where = [
            c
            for c in sorted(isnotnull | {c for c, _, _ in relations})
            if c not in base_cols
        ]
        if bad_where:
            raise InvalidRequest(
                f"Unknown column '{bad_where[0]}' in WHERE clause for "
                f"materialized view '{name}'"
            )
        restricted = isnotnull | {c for c, _, _ in relations}
        unrestricted = [c for c in view_pk if c not in restricted]
        if unrestricted:
            # CreateViewStatement.java:264
            raise InvalidRequest(
                f"Primary key columns {', '.join(unrestricted)} must be "
                "restricted with 'IS NOT NULL' or otherwise"
            )
        bad_rel = [c for c, _, _ in relations if c not in base.primary_key]
        if bad_rel:
            # CreateViewStatement.java:272 (CASSANDRA-13798)
            raise InvalidRequest(
                "Non-primary key columns can only be restricted with "
                f"'IS NOT NULL' (got: {', '.join(bad_rel)} restricted illegally)"
            )

        # view schema: PK first, then the remaining selected columns in
        # base order (TableMetadata.Builder.kind(VIEW))
        rest = [c for c in selected if c not in seen]
        schema = T.StructType(
            [T.StructField(c, base_cols[c].dataType) for c in view_pk + rest]
        )
        vmeta = TableMeta(
            name,
            schema,
            partition_key=tuple(pk_cols),
            clustering=tuple(
                ClusteringColumn(c, clustering_order.get(c, True)) for c in ck_cols
            ),
            cql_key_types=tuple(
                (c, t) for c, t in base.cql_key_types if c in set(selected)
            ),
        )
        if self.last_key in self.registry.views:
            if ine:
                return None
            raise InvalidRequest(f"materialized view {name!r} already exists")
        if self.last_key in self.registry.tables:
            # CreateViewStatement.java:120
            raise InvalidRequest(
                f"Cannot create materialized view '{name}' - a table with "
                "the same name already exists"
            )
        return ViewMeta(
            name,
            base_key,
            vmeta,
            tuple(selected),
            tuple(relations),
            tuple(sorted(isnotnull)),
        )

    def _cql_type_text(self) -> str:
        """Raw normalized CQL type text (for signature matching between
        SFUNC/STYPE declarations — UDAggregate.java:44 stateType checks)."""
        start = self.i
        self.cql_type()  # validates the shape
        return "".join(t.text for t in self.toks[start:self.i]).lower()

    def _function_key(self, orreplace: bool) -> tuple[bool, tuple[str | None, str]]:
        """Shared CREATE FUNCTION/AGGREGATE head: [IF NOT EXISTS] name.
        OR REPLACE + IF NOT EXISTS conflict (CreateFunctionStatement.java
        'Cannot use both ... directives')."""
        ine = self.if_not_exists()
        if ine and orreplace:
            raise InvalidRequest(
                "Cannot use both 'OR REPLACE' and 'IF NOT EXISTS' directives"
            )
        ks, name = self.qualified_name()
        eff_ks = ks if ks is not None else self.current_keyspace
        if ks is not None and ks not in self.registry.keyspaces:
            raise InvalidRequest(f"Keyspace '{ks}' doesn't exist")
        self.last_key = (eff_ks, name)
        return ine, self.last_key

    def create_function_stmt(self, orreplace: bool) -> FunctionDef | None:
        """CREATE [OR REPLACE] FUNCTION (Parser.g createFunction rule;
        CreateFunctionStatement.java; UDFunction.java:69). Body language
        is LANGUAGE sql — see FunctionDef."""
        self.expect_kw("function")
        ine, key = self._function_key(orreplace)
        self.expect_punct("(")
        args: list[tuple[str, str]] = []
        if not self.accept_punct(")"):
            while True:
                args.append((self.ident(), self._cql_type_text()))
                if not self.accept_punct(","):
                    break
            self.expect_punct(")")
        if self.accept_kw("called"):
            called = True
        else:
            self.expect_kw("returns")
            self.expect_kw("null")
            called = False
        self.expect_kw("on")
        self.expect_kw("null")
        self.expect_kw("input")
        self.expect_kw("returns")
        returns = self._cql_type_text()
        self.expect_kw("language")
        lang = self.ident().lower()
        if lang != "sql":
            # the reference hosts sandboxed java/javascript bytecode
            # (UDFByteCodeVerifier.java); a Spark engine cannot — the
            # supported dialect is a Spark SQL expression body
            raise InvalidRequest(
                f"LANGUAGE {lang} is not supported; this engine executes "
                "LANGUAGE sql bodies (a Spark SQL expression over the "
                "argument names)"
            )
        self.expect_kw("as")
        t = self.next()
        if t.kind != "string":
            raise InvalidRequest("function body must be a string literal")
        body = t.text[1:-1].replace("''", "'")
        self._end()
        if key in self.registry.functions and not orreplace:
            if ine:
                return None
            raise InvalidRequest(f"Function '{key[1]}' already exists")
        return FunctionDef(key[1], tuple(args), returns, called, body)

    def create_aggregate_stmt(self, orreplace: bool) -> AggregateDef | None:
        """CREATE [OR REPLACE] AGGREGATE (Parser.g createAggregate rule;
        CreateAggregateStatement.java; UDAggregate.java:44-53): validates
        the SFUNC/FINALFUNC signatures against STYPE at prepare time like
        the reference."""
        self.expect_kw("aggregate")
        ine, key = self._function_key(orreplace)
        self.expect_punct("(")
        arg_types: list[str] = []
        if not self.accept_punct(")"):
            while True:
                arg_types.append(self._cql_type_text())
                if not self.accept_punct(","):
                    break
            self.expect_punct(")")
        if len(arg_types) != 1:
            raise InvalidRequest(
                "only single-argument aggregates are supported "
                "(one value column per fold)"
            )
        self.expect_kw("sfunc")
        sfunc = self.ident()
        self.expect_kw("stype")
        stype = self._cql_type_text()
        finalfunc = None
        if self.accept_kw("finalfunc"):
            finalfunc = self.ident()
        initcond_sql = None
        if self.accept_kw("initcond"):
            initcond_sql = self._initcond_sql(stype)
        self._end()

        # SFUNC signature: (stype, arg_types...) -> stype
        # (CreateAggregateStatement.java stateFunction checks)
        sfunc_key, sfn = self._resolve_fn(sfunc, keyspace=key[0])
        expect = [stype] + arg_types
        declared = [a[1] for a in sfn.args]
        if declared != expect or sfn.returns != stype:
            raise InvalidRequest(
                f"State function {sfunc} must take ({', '.join(expect)}) "
                f"and return {stype}"
            )
        finalfunc_key = None
        if finalfunc is not None:
            finalfunc_key, ffn = self._resolve_fn(finalfunc, keyspace=key[0])
            if [a[1] for a in ffn.args] != [stype]:
                raise InvalidRequest(
                    f"Final function {finalfunc} must take ({stype})"
                )
        if key in self.registry.aggregates and not orreplace:
            if ine:
                return None
            raise InvalidRequest(f"Aggregate '{key[1]}' already exists")
        return AggregateDef(
            key[1], tuple(arg_types), sfunc, stype, finalfunc, initcond_sql,
            sfunc_key=sfunc_key, finalfunc_key=finalfunc_key,
        )

    def _resolve_fn(
        self, name: str, keyspace: str | None = None
    ) -> tuple[tuple[str | None, str], FunctionDef]:
        """Resolve a function name; `keyspace` pins the lookup to one
        keyspace (CREATE AGGREGATE resolves SFUNC/FINALFUNC in the
        AGGREGATE's keyspace — CreateAggregateStatement.java builds the
        FunctionName from the statement's keyspace — so the recreate
        script replays without a USE)."""
        k = self.registry.functions.resolve(
            name,
            keyspace=keyspace,
            current=keyspace or self.current_keyspace,
            missing_ok=True,
        )
        if k is None:
            raise InvalidRequest(f"Unknown function {name}")
        return k, self.registry.functions[k]

    def _initcond_sql(self, stype: str) -> str:
        """INITCOND literal → SQL text. A tuple literal (a, b, …) becomes
        a named_struct over the STYPE tuple's positional fields (the _1,
        _2, … naming cql_type() assigns)."""
        def lit_text() -> str:
            # raw literal text, with negative numbers ('-' lexes as its
            # own op token) re-joined; kind-checked like the scalar path
            neg = ""
            if self.peek().kind == "op" and self.peek().text == "-":
                self.next()
                neg = "-"
            t = self.next()
            if t.kind not in ("number", "string") and t.text.lower() != "null":
                raise InvalidRequest(f"bad INITCOND literal {neg}{t.text!r}")
            if neg and t.kind != "number":
                raise InvalidRequest(f"bad INITCOND literal -{t.text!r}")
            return neg + t.text

        def value_sql(typ: str) -> str:
            # recursive: a '(' opens a tuple literal whose element types
            # come from the corresponding tuple<...> position, so nested
            # INITCONDs like ((0, 0), 0) bind field-by-field
            if self.peek().kind == "punct" and self.peek().text == "(":
                self.next()
                st = typ.strip().lower()
                if not st.startswith("tuple<"):
                    raise InvalidRequest("tuple INITCOND requires a tuple STYPE")
                inner = _split_generics(st[len("tuple<"):-1])
                vals = [value_sql(inner[0] if inner else "")]
                while self.accept_punct(","):
                    if len(vals) >= len(inner):
                        raise InvalidRequest(
                            f"INITCOND arity > STYPE arity {len(inner)}"
                        )
                    vals.append(value_sql(inner[len(vals)]))
                self.expect_punct(")")
                if len(inner) != len(vals):
                    raise InvalidRequest(
                        f"INITCOND arity {len(vals)} != STYPE arity {len(inner)}"
                    )
                parts = ", ".join(
                    f"'_{i + 1}', CAST({v} AS {_cql_type_to_sql(tp)})"
                    for i, (v, tp) in enumerate(zip(vals, inner))
                )
                return f"named_struct({parts})"
            return lit_text()

        return value_sql(stype)

    def alter_type(self) -> tuple[str, T.StructType, dict[str, str]]:
        """ALTER TYPE (Parser.g:971-972; cql3/statements/schema/
        AlterTypeStatement.java:44): ADD field (existing values back-fill
        null) and RENAME field [AND ...]. Altering a field's TYPE was
        removed in 4.0 (CASSANDRA-14426) and is rejected with the
        reference's message. Returns (type name, new struct,
        {old field -> new field})."""
        self.expect_kw("type")
        _, name = self.qualified_name()
        name = name.lower()
        if name not in self.registry.types:
            raise InvalidRequest(f"unknown type {name!r}")
        old = self.registry.types[name]
        renames: dict[str, str] = {}
        self.last_type_field_add: tuple[str, str] | None = None
        if self.accept_kw("add"):
            fname = self.ident()
            tstart = self.i
            ftype = self.cql_type()
            self.last_type_field_add = (
                fname,
                "".join(t.text for t in self.toks[tstart:self.i])
                .lower()
                .replace(",", ", "),
            )
            if fname in old.fieldNames():
                raise InvalidRequest(
                    f"field {fname!r} already exists in type {name!r}"
                )
            new = T.StructType(list(old.fields) + [T.StructField(fname, ftype)])
        elif self.accept_kw("rename"):
            # RENAME clauses apply SEQUENTIALLY (AlterTypeStatement.Renames
            # loop): a source renamed by an earlier clause is gone — so
            # 'RENAME a TO b AND a TO c' fails on the second clause, and
            # 'RENAME a TO b AND b TO c' composes to a -> c
            work = list(old.fieldNames())
            while True:
                o = self.ident()
                self.expect_kw("to")
                n = self.ident()
                if o not in work:
                    raise InvalidRequest(
                        f"unknown field {o!r} in type {name!r}"
                    )
                if n in work:
                    raise InvalidRequest(
                        f"duplicate field names after RENAME in type {name!r}"
                    )
                work[work.index(o)] = n
                if not self.accept_kw("and"):
                    break
            renames = {
                f.name: w for f, w in zip(old.fields, work) if f.name != w
            }
            new = T.StructType(
                [
                    T.StructField(w, f.dataType)
                    for f, w in zip(old.fields, work)
                ]
            )
        elif self.accept_kw("alter"):
            # AlterTypeStatement.AlterField — removed in 4.0
            raise InvalidRequest(
                "Altering field types is no longer supported"
            )
        else:
            raise InvalidRequest("ALTER TYPE supports ADD and RENAME")
        self._end()
        return name, new, renames

    def alter_table(self) -> TableMeta:
        self.expect_kw("table")
        ks, name = self.qualified_name()
        key = self.registry.tables.resolve(
            name, keyspace=ks, current=self.current_keyspace
        )
        self.last_key = key
        meta = self.registry.tables[key]
        fields = list(meta.schema.fields)
        if self.accept_kw("add"):
            col = self.ident()
            self._type_refs = set()
            tstart = self.i
            typ, kind, frozen, is_counter = self.column_type()
            add_refs = frozenset(self._type_refs)
            add_type_text = (
                "".join(t.text for t in self.toks[tstart:self.i])
                .lower()
                .replace(",", ", ")
            )
            if col in {f.name for f in fields}:
                raise InvalidRequest(f"column {col!r} already exists")
            # counter purity holds under ALTER too (AlterTableStatement:
            # a table is either all-counter or no-counter outside its keys)
            table_counters = self.registry.counter_columns.get(key, frozenset())
            if is_counter != bool(table_counters):
                raise InvalidRequest(
                    "Cannot mix counter and non counter columns in the same table"
                )
            # record the Spark-erased facts for the new column — AFTER
            # every validation above, so a rejected ALTER leaves no stale
            # bookkeeping (a stale udt_refs entry would wedge DROP TYPE)
            if kind is not None:
                self.registry.collection_kinds.setdefault(key, {})[col] = kind
            if kind == "udt":
                self.registry.udt_columns.setdefault(key, {})[col] = (
                    self._last_udt_typename
                )
            if add_refs:
                self.registry.udt_refs.setdefault(key, {})[col] = add_refs
            self.registry.column_type_text.setdefault(key, {})[col] = add_type_text
            if frozen:
                self.registry.frozen_columns[key] = (
                    self.registry.frozen_columns.get(key, frozenset()) | {col}
                )
            if is_counter:
                self.registry.counter_columns[key] = table_counters | {col}
            fields.append(T.StructField(col, typ))
        elif self.accept_kw("drop"):
            col = self.ident()
            if col in meta.primary_key:
                raise InvalidRequest(f"cannot drop PRIMARY KEY column {col!r}")
            if col not in {f.name for f in fields}:
                raise InvalidRequest(f"unknown column {col!r}")
            self.registry.collection_kinds.get(key, {}).pop(col, None)
            self.registry.udt_columns.get(key, {}).pop(col, None)
            self.registry.udt_refs.get(key, {}).pop(col, None)
            self.registry.column_type_text.get(key, {}).pop(col, None)
            self.registry.frozen_columns[key] = (
                self.registry.frozen_columns.get(key, frozenset()) - {col}
            )
            self.registry.counter_columns[key] = (
                self.registry.counter_columns.get(key, frozenset()) - {col}
            )
            fields = [f for f in fields if f.name != col]
        elif self.accept_kw("rename"):
            old = self.ident()
            self.expect_kw("to")
            new = self.ident()
            if old not in meta.primary_key:
                # reference restriction: only primary-key columns may be
                # renamed (AlterTableStatement.Renames)
                raise InvalidRequest("only PRIMARY KEY columns can be renamed")
            fields = [
                T.StructField(new, f.dataType) if f.name == old else f for f in fields
            ]
            self._end()
            return TableMeta(
                meta.name,
                T.StructType(fields),
                partition_key=tuple(new if c == old else c for c in meta.partition_key),
                clustering=tuple(
                    ClusteringColumn(new, c.ascending) if c.name == old else c
                    for c in meta.clustering
                ),
                static_columns=meta.static_columns,
            )
        elif self.accept_kw("with"):
            # ALTER TABLE t WITH option = value [AND ...] — the options
            # form (AlterTableStatement.Options); only modeled params
            # take effect, the rest parse and drop like CREATE TABLE.
            # Options buffer until the WHOLE statement parses — a later
            # bad option must not leave an earlier one half-applied
            # (the file's validate-before-mutate convention).
            pending: dict = {}
            while True:
                opt = self.ident().lower()
                self.expect_op("=")
                val = self._skip_option_value()
                if opt == "default_time_to_live":
                    pending["default_ttl"] = _validated_default_ttl(
                        val, bool(self.registry.counter_columns.get(key))
                    )
                if not self.accept_kw("and"):
                    break
            self._end()
            if pending.get("default_ttl"):
                views = sorted(
                    vk[1] for vk, vm in self.registry.views.items()
                    if vm.base_key == key
                )
                if views:
                    # CASSANDRA-14071: TTL'd base rows would expire out
                    # from under the view
                    raise InvalidRequest(
                        "Cannot set default_time_to_live on a table with "
                        f"Materialized Views (has {views[0]!r})"
                    )
            if "default_ttl" in pending:
                self.registry.table_params.setdefault(key, {})[
                    "default_ttl"
                ] = pending["default_ttl"]
            return meta
        else:
            raise InvalidRequest("ALTER TABLE supports ADD / DROP / RENAME / WITH")
        self._end()
        return TableMeta(
            meta.name,
            T.StructType(fields),
            partition_key=meta.partition_key,
            clustering=meta.clustering,
            static_columns=meta.static_columns,
        )


class SchemaRegistry:
    """Parsed schema state: keyspaces, tables, user types, indexes."""

    def __init__(self):
        self.keyspaces: dict[str, KeyspaceMeta] = {}
        # (keyspace | None, name) -> TableMeta; bare-name reads resolve
        # through TableNamespace (unique suffix match), matching the
        # reference's keyspace-scoped schema (KeyspaceMetadata.java)
        self.tables: TableNamespace = TableNamespace()
        # materialized views: same keyspace-scoped namespace shape as
        # tables (schema/Views.java holds them beside the tables map)
        self.views: TableNamespace = TableNamespace()
        # ALTER MATERIALIZED VIEW ... WITH params, keyed like views
        # (AlterViewStatement.java applies TableAttributes to the view's
        # TableParams; modeled params are annotations here — the engine's
        # MV maintenance has no gc_grace/compaction machinery to feed)
        self.view_params: dict[tuple, dict] = {}
        # statement-created functions/aggregates (schema/UserFunctions.java
        # — keyspace-scoped like tables; one overload per name here)
        self.functions: TableNamespace = TableNamespace()
        self.aggregates: TableNamespace = TableNamespace()
        self.types: dict[str, T.StructType] = {}
        # index names are unique per KEYSPACE in the reference
        # (schema/IndexMetadata.java lives inside KeyspaceMetadata) — same
        # scoped-namespace shape as tables
        self.indexes: TableNamespace = TableNamespace()
        # Spark's type system erases collection kind (set vs list) and
        # frozen-ness; the reference's mutation validation needs both.
        # All three are keyed by the canonical (keyspace, name) table key.
        self.collection_kinds: dict[tuple, dict[str, str]] = {}
        self.frozen_columns: dict[tuple, frozenset[str]] = {}
        self.counter_columns: dict[tuple, frozenset[str]] = {}
        # columns declared with a user type: table key -> {col -> type
        # name} — ALTER TYPE propagation walks this (the reference keeps
        # the same dependency via Schema.getTypes references)
        self.udt_columns: dict[tuple, dict[str, str]] = {}
        # EVERY user type a column's declared type references, including
        # nested uses (list<frozen<t>>, map<k, frozen<t>>, tuple<t, ...>)
        self.udt_refs: dict[tuple, dict[str, frozenset]] = {}
        # type-in-type embedding (CREATE TYPE outer (i frozen<inner>)) and
        # the keyspace a type was created under (types store by bare name)
        self.type_refs: dict[str, frozenset] = {}
        self.type_keyspaces: dict[str, str | None] = {}
        # declared CQL field-type text per user type (DESCRIBE and
        # system_schema.types — Spark's struct erases set-vs-list)
        self.type_field_text: dict[str, dict[str, str]] = {}
        # declared CQL type text per column (system_schema.columns)
        self.column_type_text: dict[tuple, dict[str, str]] = {}
        # modeled table params (TableParams.java): default_time_to_live
        self.table_params: dict[tuple, dict] = {}
        # (type name, {old field -> new field}) of the LAST ALTER TYPE —
        # CqlDatabase's session sync consumes it to remap buffered cells
        self.last_alter_type: tuple[str, dict[str, str]] | None = None
        # triggers per table (schema/TriggerMetadata.java: name + the
        # single 'class' option): table key -> {trigger name -> class}
        self.triggers: dict[tuple, dict[str, str]] = {}

    def table(
        self, name, keyspace: str | None = None, current: str | None = None
    ) -> TableMeta:
        if isinstance(name, tuple):
            keyspace, name = name
        key = self.tables.resolve(name, keyspace=keyspace, current=current)
        return self.tables[key]

    def _drop_table_indexes(self, table_key: tuple) -> None:
        for idx in [n for n, m in self.indexes.items() if m.table == table_key]:
            del self.indexes[idx]

    def _forget_table(self, table_key: tuple) -> None:
        """Remove a table's auxiliary records (collection metadata,
        indexes); the tables entry itself is deleted by DROP."""
        self.collection_kinds.pop(table_key, None)
        self.frozen_columns.pop(table_key, None)
        self.counter_columns.pop(table_key, None)
        self.udt_columns.pop(table_key, None)
        self.udt_refs.pop(table_key, None)
        self.column_type_text.pop(table_key, None)
        self.table_params.pop(table_key, None)
        self.triggers.pop(table_key, None)
        self._drop_table_indexes(table_key)

    def execute(self, cql: str, current_keyspace: str | None = None) -> None:
        head = cql.strip().split(None, 1)[0].lower()
        p = _DdlParser(_tokenize(cql), self, current_keyspace)
        if head == "create":
            p.expect_kw("create")
            orreplace = False
            if p.accept_kw("or"):
                p.expect_kw("replace")
                orreplace = True
            nxt = p.peek().text.lower()
            if orreplace and nxt not in ("function", "aggregate"):
                raise InvalidRequest(
                    f"CREATE OR REPLACE is not supported for {nxt.upper()}"
                )
            if nxt == "function":
                fd = p.create_function_stmt(orreplace)
                if fd is not None:
                    self.functions[p.last_key] = fd
                return
            if nxt == "aggregate":
                ad = p.create_aggregate_stmt(orreplace)
                if ad is not None:
                    self.aggregates[p.last_key] = ad
                return
            if nxt == "keyspace":
                ks = p.create_keyspace()
                if ks is not None:
                    self.keyspaces[ks.name] = ks
            elif nxt == "type":
                out = p.create_type()
                if out is not None:
                    self.types[out[0]] = out[1]
                    self.type_refs[out[0]] = getattr(
                        p, "last_type_refs", frozenset()
                    )
                    self.type_keyspaces[out[0]] = getattr(
                        p, "last_type_keyspace", None
                    )
                    self.type_field_text[out[0]] = dict(
                        getattr(p, "last_type_field_text", {})
                    )
            elif nxt == "table" or nxt == "columnfamily":
                meta = p.create_table()
                if meta is not None:
                    key = p.last_key
                    self.tables[key] = meta
                    self.collection_kinds[key] = getattr(
                        p, "last_collection_kinds", {}
                    )
                    self.frozen_columns[key] = frozenset(
                        getattr(p, "last_frozen", ())
                    )
                    self.counter_columns[key] = frozenset(
                        getattr(p, "last_counters", ())
                    )
                    self.udt_columns[key] = dict(
                        getattr(p, "last_udt_columns", {})
                    )
                    self.udt_refs[key] = dict(
                        getattr(p, "last_udt_refs", {})
                    )
                    self.column_type_text[key] = dict(
                        getattr(p, "last_column_type_text", {})
                    )
                    if getattr(p, "last_default_ttl", 0):
                        self.table_params[key] = {
                            "default_ttl": p.last_default_ttl
                        }
            elif nxt in ("index", "custom"):
                idx = p.create_index()
                if idx is not None:
                    # scoped by the owning table's keyspace
                    self.indexes[(idx.table[0], idx.name)] = idx
            elif nxt == "materialized":
                vm = p.create_view()
                if vm is not None:
                    self.views[p.last_key] = vm
            elif nxt == "trigger":
                out = p.create_trigger()
                if out is not None:
                    tkey, tg_name, tg_cls = out
                    self.triggers.setdefault(tkey, {})[tg_name] = tg_cls
            else:
                raise InvalidRequest(f"unsupported CREATE {nxt.upper()}")
        elif head == "alter":
            p.expect_kw("alter")
            self.last_alter_type = None
            if p.peek().kind == "ident" and p.peek().text.lower() == "materialized":
                # ALTER MATERIALIZED VIEW ks.v WITH opt = val [AND ...]
                # (Parser.g st40; AlterViewStatement.java:44-71) — the
                # params-only form: PK/column changes don't parse, the
                # view must exist, and two params reject like the
                # reference. Options buffer until the whole statement
                # parses (validate-before-mutate convention).
                p.expect_kw("materialized")
                p.expect_kw("view")
                ks_q, vname = p.qualified_name()
                vkey = self.views.resolve(
                    vname, keyspace=ks_q, current=current_keyspace, missing_ok=True
                )
                if vkey is None:
                    raise InvalidRequest(
                        f"Materialized view "
                        f"'{ks_q or current_keyspace}.{vname}' doesn't exist"
                    )
                p.expect_kw("with")
                pending: dict = {}
                while True:
                    opt = p.ident().lower()
                    p.expect_op("=")
                    val = p._skip_option_value()
                    pending[opt] = val
                    if not p.accept_kw("and"):
                        break
                p._end()
                if _as_int(pending.get("default_time_to_live")):
                    # AlterViewStatement.java:66-71
                    raise InvalidRequest(
                        "Cannot set or alter default_time_to_live for a "
                        "materialized view. Data in a materialized view "
                        "always expire at the same time than the "
                        "corresponding data in the parent table."
                    )
                if "gc_grace_seconds" in pending and _as_int(
                    pending["gc_grace_seconds"]
                ) == 0:
                    # AlterViewStatement.java:59-64
                    raise InvalidRequest(
                        "Cannot alter gc_grace_seconds of a materialized "
                        "view to 0, since this value is used to TTL "
                        "undelivered updates. Setting gc_grace_seconds too "
                        "low might cause undelivered updates to expire "
                        "before being replayed."
                    )
                self.view_params.setdefault(vkey, {}).update(pending)
                return
            if p.peek().kind == "ident" and p.peek().text.lower() == "type":
                name, new_struct, renames = p.alter_type()
                # validate BEFORE mutating the registry: a nested-usage
                # rejection must leave types and tables untouched
                import dataclasses as _dc

                embedding = sorted(
                    t for t, refs in self.type_refs.items() if name in refs
                )
                if embedding:
                    raise InvalidRequest(
                        f"Cannot alter type '{name}': user type "
                        f"'{embedding[0]}' embeds it (in-place rewrite of "
                        "embedding types is not supported by this engine)"
                    )

                for tkey, refmap in self.udt_refs.items():
                    direct = {
                        c
                        for c, tn in self.udt_columns.get(tkey, {}).items()
                        if tn == name
                    }
                    nested_only = sorted(
                        c
                        for c, refs in refmap.items()
                        if name in refs and c not in direct
                    )
                    if nested_only:
                        # a type buried inside a collection/tuple column
                        # cannot be rewritten in place without re-deriving
                        # every nested value shape — refuse loudly rather
                        # than leave the table schema stale (documented
                        # engine boundary; the reference rewrites nested
                        # types too)
                        raise InvalidRequest(
                            f"Cannot alter type '{name}': column "
                            f"{nested_only[0]!r} of table {tkey[1]!r} uses "
                            "it inside a collection or tuple"
                        )
                self.types[name] = new_struct
                self.last_alter_type = (name, renames)
                # keep the declared field-text map in step (DESCRIBE and
                # system_schema.types read it)
                ftxt = self.type_field_text.setdefault(name, {})
                add = getattr(p, "last_type_field_add", None)
                if add is not None:
                    ftxt[add[0]] = add[1]
                for o, n in renames.items():
                    if o in ftxt:
                        ftxt[n] = ftxt.pop(o)
                # propagate to every table column declared with the type
                # (the reference rewrites dependent TableMetadata the
                # same way; AlterTypeStatement updates keyspace.types and
                # all referencing tables)
                for tkey, colmap in self.udt_columns.items():
                    cols = [c for c, tn in colmap.items() if tn == name]
                    if not cols:
                        continue
                    tm = self.tables[tkey]
                    nf = [
                        T.StructField(f.name, new_struct)
                        if f.name in cols
                        else f
                        for f in tm.schema.fields
                    ]
                    self.tables[tkey] = _dc.replace(
                        tm, schema=T.StructType(nf)
                    )
                return
            meta = p.alter_table()
            # AlterTableStatement.java:262 — a column a view selects
            # cannot be dropped out from under it
            old = self.tables[p.last_key]
            dropped = {f.name for f in old.schema.fields} - {
                f.name for f in meta.schema.fields
            }
            if dropped:
                for vm in self.views.values():
                    if vm.base_key != p.last_key:
                        continue
                    used = dropped & set(vm.selected)
                    if used:
                        raise InvalidRequest(
                            f"Cannot drop column {sorted(used)[0]} on base "
                            f"table {old.name} with materialized views"
                        )
            self.tables[p.last_key] = meta
        elif head == "drop":
            p.expect_kw("drop")
            kind = p.ident().lower()
            if kind == "materialized":
                p.expect_kw("view")
                kind = "materialized view"
            if kind == "trigger":
                # DROP TRIGGER [IF EXISTS] name ON [ks.]table
                # (Parser.g:908-913; DropTriggerStatement.java:45-67 —
                # a missing keyspace/table/trigger all collapse to the
                # same "Trigger ... doesn't exist" unless IF EXISTS)
                ife = p.if_exists()
                name = p.ident()
                p.expect_kw("on")
                ks_q, table = p.qualified_name()
                p._end()
                tkey = self.tables.resolve(
                    table, keyspace=ks_q, current=current_keyspace,
                    missing_ok=True,
                )
                per_table = self.triggers.get(tkey, {}) if tkey else {}
                if name not in per_table:
                    if ife:
                        return
                    raise InvalidRequest(
                        f"Trigger '{name}' on "
                        f"'{ks_q or current_keyspace}.{table}' doesn't exist"
                    )
                del per_table[name]
                if not per_table:
                    # an empty per-table dict would keep the coordinator's
                    # trigger fast path disengaged forever
                    self.triggers.pop(tkey, None)
                return
            ife = p.if_exists()
            ks_q, name = p.qualified_name()
            p._end()
            if kind == "materialized view":
                vkey = self.views.resolve(
                    name, keyspace=ks_q, current=current_keyspace, missing_ok=True
                )
                if vkey is None:
                    if ife:
                        return
                    raise InvalidRequest(f"unknown materialized view {name!r}")
                dict.__delitem__(self.views, vkey)
                self.view_params.pop(vkey, None)
                return
            if kind in ("function", "aggregate"):
                store = self.functions if kind == "function" else self.aggregates
                fkey = store.resolve(
                    name, keyspace=ks_q, current=current_keyspace, missing_ok=True
                )
                if fkey is None:
                    if ife:
                        return
                    raise InvalidRequest(f"unknown {kind} {name!r}")
                if kind == "function":
                    # DropFunctionStatement: a function referenced by an
                    # aggregate cannot be dropped out from under it —
                    # compared by the RESOLVED key bound at CREATE time,
                    # so a same-named function in another keyspace
                    # doesn't spuriously block (or miss) the drop
                    users = [
                        ak[1]
                        for ak, ad in self.aggregates.items()
                        if fkey in (ad.sfunc_key, ad.finalfunc_key)
                        or (
                            ad.sfunc_key is None
                            and name in (ad.sfunc, ad.finalfunc)
                        )
                    ]
                    if users:
                        raise InvalidRequest(
                            f"Function '{name}' is still referenced by "
                            f"aggregates ({', '.join(sorted(users))})"
                        )
                dict.__delitem__(store, fkey)
                return
            if kind == "table":
                key = self.tables.resolve(
                    name, keyspace=ks_q, current=current_keyspace, missing_ok=True
                )
                if key is None:
                    if self.views.resolve(
                        name, keyspace=ks_q, current=current_keyspace, missing_ok=True
                    ):
                        # DropTableStatement.java:66
                        raise InvalidRequest(
                            "Cannot use DROP TABLE on a materialized view. "
                            "Please use DROP MATERIALIZED VIEW instead."
                        )
                    if ife:
                        return
                    raise InvalidRequest(f"unknown table {name!r}")
                dependent = [
                    vk[1] for vk, vm in self.views.items() if vm.base_key == key
                ]
                if dependent:
                    # DropTableStatement.java:71
                    raise InvalidRequest(
                        "Cannot drop a table when materialized views still "
                        f"depend on it ({', '.join(sorted(dependent))})"
                    )
                dict.__delitem__(self.tables, key)
                self._forget_table(key)
                return
            store = {
                "keyspace": self.keyspaces,
                "type": self.types,
                "index": self.indexes,
            }.get(kind)
            if store is None:
                raise InvalidRequest(f"unsupported DROP {kind.upper()}")
            key = name.lower() if kind == "type" else name
            if key not in store:
                if ife:
                    return
                raise InvalidRequest(f"unknown {kind} {name!r}")
            if kind == "type":
                # DropTypeStatement.java: a type still referenced by a
                # table column cannot be dropped out from under it
                users = sorted(
                    {tk[1] for tk, colmap in self.udt_columns.items()
                     if key in colmap.values()}
                    | {tk[1] for tk, refmap in self.udt_refs.items()
                       if any(key in refs for refs in refmap.values())}
                )
                if users:
                    raise InvalidRequest(
                        f"Cannot drop user type '{name}' as it is still "
                        f"used by table {users[0]}"
                    )
                embedding = sorted(
                    t for t, refs in self.type_refs.items() if key in refs
                )
                if embedding:
                    # DropTypeStatement: a type embedded in another type
                    # cannot be dropped out from under it
                    raise InvalidRequest(
                        f"Cannot drop user type '{name}' as it is still "
                        f"used by user type {embedding[0]}"
                    )
                self.type_refs.pop(key, None)
                self.type_keyspaces.pop(key, None)
                self.type_field_text.pop(key, None)
            del store[key]
            # cascade, mirroring the reference's keyspace-scoped schema
            # model: a dropped keyspace takes its tables (and their
            # indexes) with it; a dropped table takes its indexes
            if kind == "keyspace":
                for tk in [tk for tk in list(self.tables) if tk[0] == key]:
                    dict.__delitem__(self.tables, tk)
                    self._forget_table(tk)
                for vk in [vk for vk in list(self.views) if vk[0] == key]:
                    dict.__delitem__(self.views, vk)
                    self.view_params.pop(vk, None)
                for store in (self.functions, self.aggregates):
                    for fk in [fk for fk in list(store) if fk[0] == key]:
                        dict.__delitem__(store, fk)
                # types live in the keyspace too (KeyspaceMetadata.types)
                # — its tables just dropped above, so no reference gates
                for tn in [
                    tn for tn, ks in list(self.type_keyspaces.items())
                    if ks == key
                ]:
                    self.types.pop(tn, None)
                    self.type_refs.pop(tn, None)
                    self.type_keyspaces.pop(tn, None)
                    self.type_field_text.pop(tn, None)
        else:
            raise InvalidRequest(f"not a DDL statement: {head!r}")


def _release_sessions(sessions: dict) -> None:
    """weakref.finalize target: unpin everything a CqlDatabase's table
    sessions hold when the database object is collected (module-level so
    the finalizer holds no reference back to the instance)."""
    for sess in list(sessions.values()):
        sess.release()


class CqlDatabase:
    """Full CQL text surface: DDL → SchemaRegistry, DML → per-table
    CqlWriteSession, SELECT → parser compile over the table's visible
    state. The QueryProcessor.process analog for every statement kind."""

    _DDL_HEADS = {"create", "alter", "drop"}
    _DML_HEADS = {"insert", "update", "delete", "begin", "truncate"}

    def __init__(self, spark: SparkSession, strict: bool = True):
        self.spark = spark
        self.strict = strict
        self.registry = SchemaRegistry()
        self._sessions: dict[str, Any] = {}
        # cached per-table index-cardinality estimates (the analog of
        # SecondaryIndexManager's stored estimatedResultRows; refreshed
        # on DDL, deliberately NOT per-write — estimates lag in the
        # reference too)
        self._index_stats: dict[tuple, dict] = {}
        # unpin everything when this database is collected — otherwise a
        # long Spark session accumulates persisted frames from
        # short-lived CqlDatabase instances (one per registry query)
        import weakref

        weakref.finalize(self, _release_sessions, self._sessions)
        self.last_index_choice: tuple | None = None
        self.current_keyspace: str | None = None
        # ONE coordinator timeline shared by every table session: a write
        # to table A always outranks an earlier write to table B, and a
        # multi-table BATCH stamps one timestamp across sessions
        self._write_clock: list[int] = [0]
        # now()-fold occurrence store, shared across table sessions like
        # the clock: two statements folding now() at one shared tick
        # (USING TIMESTAMP / BATCH) must mint DISTINCT timeuuids even
        # across tables (writes.NowOccs)
        from cassandra_pmem_spark.cql.writes import NowOccs

        self._now_occs = NowOccs()
        # role/permission registries (cql/auth.py — Parser.g:224-245 DCL
        # tier; registry-backed, no enforcement)
        from cassandra_pmem_spark.cql.auth import AuthStore

        self.auth = AuthStore()

    def _table_key(self, table) -> tuple[str | None, str]:
        """Canonical (keyspace, name) registry key for a DML/SELECT target:
        a qualified ``ks.t`` resolves exactly; a bare name resolves through
        the current keyspace, then the unscoped namespace, then a unique
        suffix match (TableNamespace.resolve)."""
        ks, name = table if isinstance(table, tuple) else (None, table)
        return self.registry.tables.resolve(
            name, keyspace=ks, current=self.current_keyspace
        )

    def _collection_info(self, key: tuple):
        from cassandra_pmem_spark.cql.writes import CollectionInfo

        return CollectionInfo(
            kinds=self.registry.collection_kinds.get(key, {}),
            frozen=self.registry.frozen_columns.get(key, frozenset()),
            counters=self.registry.counter_columns.get(key, frozenset()),
        )

    def _session(self, table):
        return self._session_for_key(self._table_key(table))

    def _session_for_key(self, key: tuple):
        """Session for an already-canonical registry key (no re-resolution
        — a (None, t) key must not re-resolve into the USE'd keyspace)."""
        from cassandra_pmem_spark.cql.writes import CqlWriteSession

        if key not in self._sessions:
            self._sessions[key] = CqlWriteSession(
                self.spark,
                self.registry.tables[key],
                collection_info=self._collection_info(key),
                clock=self._write_clock,
                default_ttl=self.registry.table_params.get(key, {}).get(
                    "default_ttl", 0
                ),
                now_occs=self._now_occs,
            )
        return self._sessions[key]

    def _release_table(self, key: tuple) -> None:
        """Discard a dropped table's session and unpin everything it
        pinned: its memo frames and imported base."""
        self._sessions.pop(key).release()

    def _check_view_target(self, tks: str | None, tname: str, head: str) -> None:
        """Writes and TRUNCATE must not target a materialized view —
        with the reference's per-statement messages
        (ModificationStatement.java:264; TruncateStatement.java:66).
        Applies to standalone statements AND batch inner statements."""
        if (
            self.registry.tables.resolve(
                tname, keyspace=tks, current=self.current_keyspace, missing_ok=True
            )
            is None
            and self.registry.views.resolve(
                tname, keyspace=tks, current=self.current_keyspace, missing_ok=True
            )
            is not None
        ):
            if head == "truncate":
                raise InvalidRequest(
                    "Cannot TRUNCATE materialized view directly; must "
                    "truncate base table instead"
                )
            raise InvalidRequest("Cannot directly modify a materialized view")

    def _view_frame(self, vkey: tuple) -> DataFrame:
        """Derive a materialized view's visible frame from its base
        session (db/view/View.java select + ViewUpdateGenerator.java:45
        row mapping). The view PK contains every base PK column plus at
        most one base regular column, so base rows map 1:1 onto view rows
        — derivation is a filter (view-PK IS NOT NULL + the statement's
        WHERE relations) and a projection; no re-aggregation, and the
        per-column liveness shadows pass straight through (view cells
        carry the base cells' timestamps)."""
        vm = self.registry.views[vkey]
        df = self._session_for_key(vm.base_key).visible_frame()
        cond = F.lit(True)
        # EVERY column the WHERE clause restricted IS NOT NULL filters
        # the view — not just the view PK columns
        for c in set(vm.meta.primary_key) | set(vm.isnotnull):
            cond = cond & F.col(c).isNotNull()
        ops = {
            "=": lambda l, r: l == r,
            "<": lambda l, r: l < r,
            "<=": lambda l, r: l <= r,
            ">": lambda l, r: l > r,
            ">=": lambda l, r: l >= r,
        }
        for c, op, v in vm.relations:
            cond = cond & ops[op](F.col(c), F.lit(v))
        keep = list(vm.meta.schema.fieldNames())
        # per-cell liveness maps ride along so WRITETIME()/TTL() of a
        # multi-cell collection keeps its per-cell LIST shape through the
        # view, same as on the base
        shadows = [
            s
            for c in keep
            for s in (
                f"_writetime_{c}",
                f"_ttl_{c}",
                f"_cellwt_{c}",
                f"_cellttl_{c}",
            )
            if s in df.columns
        ]
        return df.filter(cond).select(*keep, *shadows)

    @staticmethod
    def _dml_table(cql: str) -> tuple[str | None, str]:
        """(keyspace | None, table) target of a DML statement (INSERT INTO
        t / UPDATE t / DELETE ... FROM t / TRUNCATE t); batches route per
        inner statement. Walks the token stream positionally so a
        keyspace-qualified target (``ks.t`` tokenizes as ident '.' ident)
        keeps BOTH parts — two keyspaces may own same-named tables
        (mirrors _WriteParser._table_name)."""
        toks = _tokenize(cql)
        for i, t in enumerate(toks):
            if t.kind != "ident" or t.text.lower() not in (
                "into",
                "update",
                "from",
                "truncate",
            ):
                continue
            j = i + 1
            # TRUNCATE [TABLE] t — skip the optional noise word
            if (
                t.text.lower() == "truncate"
                and j < len(toks)
                and toks[j].kind == "ident"
                and toks[j].text.lower() == "table"
                and j + 1 < len(toks)
                and toks[j + 1].kind == "ident"
            ):
                j += 1
            if j < len(toks) and toks[j].kind == "ident":
                name = toks[j].text
                if (
                    j + 2 < len(toks)
                    and toks[j + 1].kind == "punct"
                    and toks[j + 1].text == "."
                    and toks[j + 2].kind == "ident"
                ):
                    return name, toks[j + 2].text  # ks.table
                return None, name
        raise InvalidRequest(f"cannot find target table in {cql[:40]!r}")

    def execute(self, cql: str, params: list[Any] | None = None) -> DataFrame | bool | None:
        head = cql.strip().split(None, 1)[0].lower()
        words = cql.split(None, 2)
        if head in ("grant", "revoke", "list") or (
            head in ("create", "alter", "drop")
            and len(words) > 1
            and words[1].lower() in ("role", "user")
        ):
            # DCL tier (Parser.g:224-245): CREATE/ALTER/DROP ROLE|USER,
            # GRANT/REVOKE ROLE, GRANT/REVOKE/LIST PERMISSIONS, LIST
            # ROLES/USERS — registry-backed role store, no enforcement
            # (reads stay unauthenticated analytics; cql/auth.py header)
            return self.auth.execute(
                cql, self.spark, self.registry,
                current_keyspace=self.current_keyspace,
            )
        if head in ("describe", "desc"):
            # DESCRIBE — pasteable DDL reconstruction (bin/cqlsh.py:1350+
            # describe_*; cql/describe.py documents the contract). Result
            # is the 4-column (keyspace_name, type, name, create_statement)
            # frame so it SELECTs like any other introspection surface.
            from pyspark.sql import types as T

            from cassandra_pmem_spark.cql.describe import describe_rows

            target = cql.strip().split(None, 1)
            rows = describe_rows(
                self.registry,
                target[1] if len(target) > 1 else "",
                self.current_keyspace,
            )
            schema = T.StructType(
                [
                    T.StructField("keyspace_name", T.StringType()),
                    T.StructField("type", T.StringType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("create_statement", T.StringType()),
                ]
            )
            return self.spark.createDataFrame(rows, schema)
        if head == "use":
            # USE <keyspace> (cql3/statements/UseStatement.java;
            # UseTest.java): later unqualified CREATE TABLEs are scoped to
            # it, so DROP KEYSPACE cascades to them
            toks = _tokenize(cql)
            # tolerate the statement terminator every other head accepts
            if len(toks) > 2 and toks[-2].kind == "punct" and toks[-2].text == ";":
                toks = toks[:-2] + toks[-1:]
            if len(toks) != 3 or toks[1].kind != "ident":
                raise InvalidRequest("USE takes exactly one keyspace name")
            ks = toks[1].text
            if ks not in self.registry.keyspaces:
                raise InvalidRequest(f"unknown keyspace {ks!r}")
            self.current_keyspace = ks
            return None
        if head in self._DDL_HEADS:
            # the parser scopes unqualified CREATEs to the USE'd keyspace
            self.registry.execute(cql, current_keyspace=self.current_keyspace)
            self._index_stats.clear()  # DDL invalidates index estimates
            # sync live write sessions with the new schema: ADD/DROP swap
            # the meta in place (buffered mutations carry over — absent
            # columns read as null, dropped cells are ignored at merge);
            # a DROP TABLE discards the session. RENAME would orphan
            # buffered cell names, so it refuses under buffered writes.
            for key in list(self._sessions):
                if key not in self.registry.tables:
                    self._release_table(key)
                    continue
                sess, new_meta = self._sessions[key], self.registry.tables[key]
                # table params can change with NO schema change (ALTER
                # TABLE ... WITH default_time_to_live) — refresh always
                sess.default_ttl = self.registry.table_params.get(key, {}).get(
                    "default_ttl", 0
                )
                if sess.meta is not new_meta:
                    if (
                        set(new_meta.primary_key) != set(sess.meta.primary_key)
                        and (sess._mutations or sess._row_tombs or sess._cell_tombs)
                    ):
                        # roll the registry back to the pre-RENAME meta
                        # before refusing — otherwise the registry holds
                        # the new pk names while the live session (and its
                        # buffered mutations) keeps the old ones, and every
                        # later statement sees inconsistent schema
                        self.registry.tables[key] = sess.meta
                        raise InvalidRequest(
                            "cannot RENAME primary key columns while writes are buffered"
                        )
                    sess.meta = new_meta
                    # refresh the Spark-erased facts too: an ALTER can add
                    # or drop counter/frozen/collection columns, and a
                    # cached session holding stale CollectionInfo would
                    # e.g. let `SET ctr = 5` through on a column ALTERed
                    # in as a counter (Operation.java setter rejection)
                    sess.collection_info = self._collection_info(key)
                    # ALTER TYPE RENAME: remap buffered per-field cells,
                    # field-cell tombstones, and the base frame's struct
                    # field names so the merge sees the NEW schema
                    # (AlterTypeStatement renames the field, the cell
                    # path — the field index — is unchanged)
                    at = self.registry.last_alter_type
                    if at and at[1]:
                        tname, renames = at
                        cols = [
                            c
                            for c, tn in self.registry.udt_columns.get(
                                key, {}
                            ).items()
                            if tn == tname
                        ]
                        for col in cols:
                            for m in sess._mutations:
                                if col in m.udt_cells:
                                    m.udt_cells[col] = {
                                        renames.get(f, f): v
                                        for f, v in m.udt_cells[col].items()
                                    }
                                # frozen UDT whole-value cells are dicts
                                # keyed by field name — remap those too
                                v = m.cells.get(col)
                                if isinstance(v, dict):
                                    m.cells[col] = {
                                        renames.get(f, f): x
                                        for f, x in v.items()
                                    }
                            pref = col + "#"
                            for ct in sess._cell_tombs:
                                ct.columns = [
                                    pref + renames.get(c[len(pref):], c[len(pref):])
                                    if c.startswith(pref)
                                    else c
                                    for c in ct.columns
                                ]
                            if (
                                sess.base is not None
                                and col in sess.base.columns
                            ):
                                newdt = {
                                    f.name: f.dataType
                                    for f in new_meta.schema.fields
                                }[col]
                                rev = {n: o for o, n in renames.items()}
                                old_fields = {
                                    f.name
                                    for f in sess.base.schema[col].dataType.fields
                                }
                                sess.base = sess.base.withColumn(
                                    col,
                                    F.struct(
                                        *[
                                            (
                                                F.col(col).getField(
                                                    rev.get(f.name, f.name)
                                                )
                                                if rev.get(f.name, f.name)
                                                in old_fields
                                                else F.lit(None).cast(f.dataType)
                                            ).alias(f.name)
                                            for f in newdt.fields
                                        ]
                                    ),
                                )
            return None
        if head in self._DML_HEADS:
            if head == "begin":
                run = lambda: self._execute_batch(cql, params if params is not None else [])
            else:
                tks, tname = self._dml_table(cql)
                self._check_view_target(tks, tname, head)
                sess = self._session((tks, tname))
                run = lambda: sess.execute(cql, params)
            if not self.registry.triggers or head == "truncate":
                # TRUNCATE produces no partition updates — triggers never
                # fire for it (TruncateStatement bypasses StorageProxy's
                # mutateWithTriggers path entirely)
                return run()
            return self._run_with_triggers(run)
        if head == "select":
            from cassandra_pmem_spark.cql.parser import parse_select

            return self._compile_select(parse_select(cql, params))
        raise InvalidRequest(f"unsupported statement {head!r}")

    def load_sstables(self, table, sst_dir: str) -> None:
        """sstableloader / `nodetool import` analog: read a directory of
        big-format sstables (sources/sstable.py — the distributed
        Index.db-split reader) and merge them into the target table as
        base history. Key/clustering columns map positionally onto the
        DECLARED primary key (the sstable header stores types, not key
        names — the loader resolves names from the target schema, like
        the reference resolving TableMetadata from the keyspace);
        regular columns match by name, with absent ones null. Imported
        rows enter at base writetime 0, so any buffered statement
        writes LWW-beat them — the documented deviation from the
        reference's preserved cell timestamps.

        Like `nodetool import`, the call snapshots the files: it decodes
        the directory once, here, and pins the decoded rows as the
        table's base (persisted, owned by the table session — TRUNCATE,
        DROP TABLE and collection of the database unpin it). Reads,
        conditional writes, pages and flushes then scan the pinned rows,
        never the files, so the directory may be deleted after the call.
        The decode is clock-independent (read_sstables resolves TTLs and
        tombstones at a fixed far-future instant), so the pin stays valid
        as the session clock advances."""
        from cassandra_pmem_spark.sources.sstable import (
            data_files,
            open_sstable,
            read_sstables,
        )

        key = self._table_key(table)
        meta = self.registry.tables[key]
        df = read_sstables(self.spark, sst_dir)
        pk = list(meta.partition_key)
        ck = [c.name for c in meta.clustering]
        # primary-key shape comes from the sstable HEADER — the same one
        # read_sstables took the schema from — never from column-name
        # prefixes (a regular column named 'keyword' must not count as a
        # key component)
        hdr = open_sstable(data_files(sst_dir)[0]).header
        n_key = len(hdr["key_types"])
        n_ck = len(hdr["clustering_types"])
        positional = {f"key{i}" for i in range(n_key)} | {
            f"ck{i}" for i in range(n_ck)
        }
        named = {n for n, _t in hdr["regular"]} | {
            n for n, _t in hdr.get("statics", [])
        }
        clash = sorted(named & positional)
        if clash:
            raise InvalidRequest(
                f"sstable regular/static columns {clash} collide with the "
                "loader's positional key names"
            )
        if n_key != len(pk) or n_ck != len(ck):
            raise InvalidRequest(
                f"sstable primary key shape ({n_key} partition + {n_ck} "
                f"clustering components) does not match table "
                f"{key[1]!r} ({len(pk)} + {len(ck)})"
            )
        # one alias-based select — a rename CHAIN can collide when a
        # declared key name equals another positional name (renaming
        # key0 -> ck0 on a table whose pk is literally named ck0 would
        # duplicate columns and break the later rename)
        source_for = {name: f"key{i}" for i, name in enumerate(pk)}
        source_for.update({name: f"ck{i}" for i, name in enumerate(ck)})
        declared = {f.name: f.dataType for f in meta.schema.fields}
        extra = sorted(named - set(declared))
        if extra:
            raise InvalidRequest(
                f"sstable carries columns {extra} the table does not declare"
            )
        base = df.select(
            *[
                (
                    F.col(source_for[c])
                    if c in source_for
                    else (F.col(c) if c in df.columns else F.lit(None))
                ).cast(dt).alias(c)
                for c, dt in declared.items()
            ]
        )
        # Spark keeps ONE cache entry per plan, and two imports of one
        # directory plan alike: tag each import so that its pin is the
        # importing table's own and releasing it never drops another's
        import uuid

        tag = uuid.uuid4().hex
        base = base.filter(F.lit(tag) == F.lit(tag)).persist()
        try:
            base.count()
        except Exception:
            unpersist_quietly(base)
            raise
        self._session_for_key(key).import_base(base)

    def flush_sstables(self, table, out_dir: str, sstables: int = 1,
                       compression: bool = True) -> list[dict]:
        """Memtable-flush / `nodetool flush` analog: materialize the
        table's VISIBLE state (cell-LWW merge, tombstones and TTL
        applied at the session clock — exactly what a SELECT reads) and
        bulk-write it as big-format sstables. With load_sstables this
        closes the dump/restore loop entirely inside the engine.
        uuid/timeuuid/ascii columns keep their declared CQL types via
        the registry's column text (Spark erases them to string);
        counter columns flush their folded totals as single-global-shard
        CounterContext cells (CounterContext.createGlobal)."""
        from cassandra_pmem_spark.sources.sstable import bulk_write_sstables

        key = self._table_key(table)
        meta = self.registry.tables[key]
        sess = self._session_for_key(key)
        df = sess.table(now=sess._clock_ref[0])
        overrides = {
            c: t
            for c, t in self.registry.column_type_text.get(key, {}).items()
            if t.lower() in ("uuid", "timeuuid", "ascii", "counter")
        }
        return bulk_write_sstables(
            df, meta, out_dir, sstables=sstables,
            type_overrides=overrides or None, compression=compression,
            collection_kinds=self.registry.collection_kinds.get(key) or None,
        )

    def pager(self, cql: str, params: list[Any] | None = None,
              page_size: int = 100, state: bytes | None = None):
        """Resumable QueryPager over a SELECT (service/pager/QueryPager
        family — see cql/pager.py for the contract and citations)."""
        from cassandra_pmem_spark.cql.pager import QueryPager

        return QueryPager(self, cql, params, page_size, state)

    def _compile_select(self, st) -> DataFrame:
        """Compile a parsed SelectStatement against the live registry —
        the shared back half of execute('SELECT ...') and the pager's
        per-page sub-queries."""
        from cassandra_pmem_spark.cql.parser import _compile
        from cassandra_pmem_spark.cql.table import CqlTable

        def _indexed(tkey2: tuple) -> tuple[dict, dict]:
            # col -> {kind: index name} (a column may carry several
            # indexes of different kinds, e.g. KEYS(m) + VALUES(m)),
            # plus col -> SASI IndexMode analog for SASI-class customs
            # (index/sasi/conf/IndexMode.java — gates which LIKE shapes
            # and EQ the index serves)
            from cassandra_pmem_spark.cql.validator import (
                is_sasi_class,
                sasi_index_mode,
            )

            out: dict = {}
            modes: dict = {}
            for (_ks, _n), im in self.registry.indexes.items():
                if im.table == tkey2:
                    k = getattr(im, "kind", "simple") or "simple"
                    nm = im.name or f"{tkey2[1]}_{im.column}_idx"
                    out.setdefault(im.column, {})[k] = nm
                    if im.custom_class and k == "simple":
                        # a CUSTOM (SASI-class) index on a SCALAR
                        # target also serves the operators only
                        # custom indexes serve (LIKE); collection-
                        # target customs keep only their kind's ops
                        out[im.column]["custom"] = nm
                        if is_sasi_class(im.custom_class):
                            modes[im.column] = sasi_index_mode(
                                getattr(im, "options", {}) or {},
                                _is_literal_type(self, tkey2, im.column),
                            )
            return out, modes

        def _stats(tkey2: tuple):
            """getEstimatedResultRows analog: estimated rows per EQ
            match = row count / distinct values, from ONE cached
            aggregation per table (the reference reads the index's
            stored cardinality estimate — never a per-statement
            scan; at cluster scale this would source from catalog
            column statistics the same way)."""

            def fn(cols: list) -> dict:
                cached = self._index_stats.get(tkey2)
                if cached is None or any(c not in cached for c in cols):
                    sess2 = self._session_for_key(tkey2)
                    frame = sess2.table()
                    allc = sorted(set(cols) | set(_indexed(tkey2)[0]))
                    row = frame.agg(
                        F.count(F.lit(1)).alias("__n"),
                        *[
                            F.approx_count_distinct(c).alias(f"__d{i}")
                            for i, c in enumerate(allc)
                        ],
                    ).collect()[0]
                    total = row["__n"]
                    cached = {
                        c: total / max(1, row[f"__d{i}"])
                        for i, c in enumerate(allc)
                    }
                    self._index_stats[tkey2] = cached
                return cached

            return fn

        ks, _, tbl = st.table.rpartition(".")
        if ks == "system_schema":
            # schema introspection tables (SchemaKeyspace.java:124
            # TABLES/COLUMNS/TYPES/INDEXES) — derived live from the
            # registry, so DDL is immediately SELECT-visible, exactly
            # how drivers read the reference's schema
            from cassandra_pmem_spark.sources.virtual import (
                system_schema_frame,
            )

            sdf, smeta = system_schema_frame(self.spark, self.registry, tbl)
            return _compile(
                CqlTable(sdf, smeta, self.strict),
                st,
                registry=self.registry,
                current_keyspace=self.current_keyspace,
            )
        tkey = self.registry.tables.resolve(
            tbl, keyspace=ks or None, current=self.current_keyspace, missing_ok=True
        )
        if tkey is None and (
            vkey := self.registry.views.resolve(
                tbl,
                keyspace=ks or None,
                current=self.current_keyspace,
                missing_ok=True,
            )
        ):
            return _compile(
                CqlTable(self._view_frame(vkey), self.registry.views[vkey].meta,
                         self.strict),
                st,
                registry=self.registry,
                current_keyspace=self.current_keyspace,
            )
        key = self._table_key((ks or None, tbl))
        meta = self.registry.tables[key]
        sess = self._session_for_key(key)
        # SELECT reads at the session's current logical time: TTL'd
        # cells past their expiry vanish (PurgeFunction analog), and
        # the liveness shadows feed the writetime()/ttl() selectors
        df = sess.visible_frame()
        sink: list = []
        kinds_map, modes_map = _indexed(key)
        out = _compile(
            CqlTable(
                df, meta, self.strict, kinds_map,
                stats_fn=_stats(key), choice_sink=sink,
                index_modes=modes_map,
            ),
            st,
            registry=self.registry,
            current_keyspace=self.current_keyspace,
        )
        # (index name, column) that served this statement, if any —
        # the getBestIndexFor outcome, for tracing/tests
        self.last_index_choice = sink[-1] if sink else None
        return out

    def _collect_updates(self, key: tuple, marks: tuple) -> list:
        """TriggerUpdate list for the buffer entries a statement appended
        past `marks` (a session `_snapshot()` watermark, or zeros for a
        session the statement itself created): one update per touched
        partition, in first-write order — the shape TriggerExecutor
        iterates (one augment() call per PartitionUpdate)."""
        from cassandra_pmem_spark.cql.triggers import TriggerUpdate

        sess = self._sessions[key]
        meta = sess.meta
        npk = len(meta.partition_key)
        ck_names = tuple(meta.primary_key[npk:])
        n_mut, n_row, n_cell, n_rng = marks[0], marks[1], marks[2], marks[3]
        parts: dict[tuple, dict] = {}  # pk values -> {"rows": [...], "write": bool}

        def bucket(pk_vals: tuple) -> dict:
            return parts.setdefault(pk_vals, {"rows": [], "write": False})

        def row_of(full_key: tuple, extra: dict) -> dict:
            row = dict(zip(ck_names, full_key[npk:]))
            row.update(extra)
            return row

        pk_set = set(meta.primary_key)
        for m in sess._mutations[n_mut:]:
            # regular cells only — key columns ride in via row_of/partition_key
            cells: dict = {c: v for c, v in m.cells.items() if c not in pk_set}
            cells.update({c: dict(ec) for c, ec in m.elem_cells.items()})
            cells.update({c: dict(fc) for c, fc in m.udt_cells.items()})
            cells.update(m.counter_deltas)
            b = bucket(m.key[:npk])
            b["rows"].append(row_of(m.key, cells))
            b["write"] = True
        for rt in sess._row_tombs[n_row:]:
            bucket(rt.key[:npk])["rows"].append(row_of(rt.key, {}))
        for ct in sess._cell_tombs[n_cell:]:
            bucket(ct.key[:npk])["rows"].append(
                row_of(ct.key, {c: None for c in ct.columns})
            )
        for rg in sess._range_tombs[n_rng:]:
            pk_vals = tuple(rg.eq[c] for c in meta.partition_key)
            bucket(pk_vals)["rows"].append(
                {c: v for c, v in rg.eq.items() if c not in meta.partition_key}
            )
        return [
            TriggerUpdate(
                keyspace=key[0],
                table=key[1],
                partition_key=dict(zip(meta.partition_key, pk_vals)),
                rows=tuple(info["rows"]),
                kind="write" if info["write"] else "delete",
            )
            for pk_vals, info in parts.items()
        ]

    def _run_with_triggers(self, runner):
        """TriggerExecutor.execute analog (triggers/TriggerExecutor.java:
        113-146): run the primary statement/batch, fire every trigger on
        each partition update it produced, and apply the generated
        mutations ATOMICALLY with it — any failure (a trigger raising,
        the counter gate, the CAS same-partition gate, or a generated
        statement rejecting) rolls the entire write back. Generated
        mutations do not re-fire triggers (StorageProxy applies the
        augmented collection directly)."""
        from cassandra_pmem_spark.cql.triggers import load_trigger_instance

        pre_keys = set(self._sessions)
        snaps = {k: s._snapshot() for k, s in self._sessions.items()}
        # the shared coordinator clock and now()-mint journal must rewind
        # on failure even when the failing statement CREATED every session
        # it touched (then no session snapshot would restore them)
        clock0 = self._write_clock[0]
        occs0 = self._now_occs.mark()
        zeros = (0, 0, 0, 0)
        for s in self._sessions.values():
            # a PREVIOUS statement's IF flag must not leak into this
            # statement's CAS-gate decision
            s.last_conditional = False
        try:
            applied = runner()
            # (key, update) per touched partition of a table with triggers
            fired: list[tuple[tuple, Any]] = []
            has_counters = False
            conditional = False
            for k, s in self._sessions.items():
                marks = snaps.get(k, zeros)
                if s.last_conditional:
                    conditional = True
                if any(m.counter_deltas for m in s._mutations[marks[0]:]):
                    has_counters = True
                if self.registry.triggers.get(k):
                    fired.extend((k, u) for u in self._collect_updates(k, marks))
            stmts: list[tuple[str, list]] = []
            for k, upd in fired:
                for _name, cls in sorted(self.registry.triggers[k].items()):
                    stmts.extend(load_trigger_instance(cls).augment(upd) or [])
            if not stmts:
                return applied
            if has_counters:
                # TriggerExecutor.java:140-141
                raise InvalidRequest(
                    "Counter mutations and trigger mutations cannot be "
                    "applied together atomically."
                )
            primary = fired[0][1] if fired else None
            primary_key0 = fired[0][0] if fired else None
            for cql2, params2 in stmts:
                head2 = cql2.strip().split(None, 1)[0].lower()
                if head2 not in ("insert", "update", "delete"):
                    raise InvalidRequest(
                        "Triggers may only generate INSERT/UPDATE/DELETE "
                        "mutations"
                    )
                tks2, tname2 = self._dml_table(cql2)
                self._check_view_target(tks2, tname2, head2)
                key2 = self._table_key((tks2, tname2))
                sess2 = self._session_for_key(key2)
                mark2 = sess2._snapshot()
                sess2.execute(cql2, list(params2) if params2 else [])
                if conditional:
                    # CAS path: generated mutations must hit the SAME
                    # table and partition as the primary update
                    # (TriggerExecutor.validateForSinglePartition:194-202)
                    if key2 != primary_key0:
                        raise InvalidRequest(
                            "table of additional mutation does not match "
                            "primary update table"
                        )
                    for u2 in self._collect_updates(key2, mark2):
                        if u2.partition_key != primary.partition_key:
                            raise InvalidRequest(
                                "Partition key of additional mutation does "
                                "not match primary update key"
                            )
            return applied
        except Exception:
            for k in set(self._sessions) - pre_keys:
                del self._sessions[k]
            for k, s in self._sessions.items():
                s._restore(snaps[k])
            self._write_clock[0] = clock0
            self._now_occs.rewind(occs0)
            raise

    def _execute_batch(self, cql: str, params: list[Any]) -> bool:
        """BATCH across table sessions through writes.execute_batch, the
        one BATCH path (a standalone CqlWriteSession runs it too). This
        side only maps each inner statement to its table session: the
        target resolves to its canonical (keyspace, name) key, so a
        qualified ks.t and a bare t under USE ks share ONE session, and
        inner statements get the same view-modification rejection as
        standalone ones (BatchStatement prepares each child)."""
        from cassandra_pmem_spark.cql.writes import execute_batch

        def session_for(stmt: str):
            tks, tname = self._dml_table(stmt)
            self._check_view_target(tks, tname, stmt.split(None, 1)[0].lower())
            return self._session((tks, tname))

        return execute_batch(cql, params, [0], session_for)
