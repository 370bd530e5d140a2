"""CqlTable — the CQL-read facade compiling to DataFrame plans.

Models SELECT in all its CQL forms (SURVEY §2.2/§2.6) as a builder whose
terminal ``df()`` produces a *declarative* plan — filters and projections
stay visible to Catalyst, so predicate pushdown / column pruning reach the
parquet scan exactly like the reference's ColumnFilter
(db/filter/ColumnFilter.java:43-66) and clustering slices
(db/filter/ClusteringIndexSliceFilter.java) reach its storage layer.

Strictness: with strict=True the builder rejects what CQL rejects (see
validator.py). Default is permissive — full Spark surface.

Scale notes per construct:
- the base scan → resolved once per session, file version and split
  settings (``cql_table``); a table Spark scans in one task reads as one
  partition, so the operators below plan no shuffle on it;
- point / IN lookups → parquet row-group + page pruning via pushed filters;
- partition-range scan → plain scan, token ordering via Murmur3 (or
  xxhash64 for key types outside the codec table);
- PER PARTITION LIMIT → window row_number over (pk order by ck); a
  one-task table sorts in that task, a multi-split one shuffles by pk
  once — at 100 TB pre-bucket the table by pk to elide it;
- SELECT DISTINCT pk and GROUP BY pk → partial+final hash aggregate, no
  row explosion; the final half shuffles only a multi-split table.
"""

from __future__ import annotations

import os
import weakref
from collections import OrderedDict
from functools import reduce
from operator import and_
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import TABLES, TableMeta, load_table
from cassandra_pmem_spark.cql.validator import (
    InvalidRequest,
    declared_timeuuid as _is_declared_timeuuid,
    Op,
    Restriction,
    validate_distinct,
    validate_limits,
    validate_order_by,
    validate_restrictions,
)
from cassandra_pmem_spark.functions.token import token_column
from cassandra_pmem_spark.marshal import set_value



def _cmp_key(meta: TableMeta, column: str) -> Column:
    """The column's COMPARISON/SORT key. Declared-timeuuid columns order
    by (embedded v1 timestamp, text): TimeUUIDType compares timestamps
    first (TimeUUIDType.java:52-63) — canonical-text order would sort
    time_low first and scramble time order. The text tiebreak at equal
    ticks is deterministic but differs from the reference's signed-byte
    clockSeqAndNode order (documented engine deviation; ticks collide
    only for uuids minted in the same 100ns)."""
    if _is_declared_timeuuid(meta, column):
        from cassandra_pmem_spark.functions.timefcts import timeuuid_ticks

        return F.struct(
            timeuuid_ticks(column).alias("t"), F.col(column).alias("u")
        )
    return F.col(column)


def _timeuuid_rhs(value: str) -> Column:
    """Literal RHS matching _cmp_key's struct shape."""
    from cassandra_pmem_spark.cql.terms import ticks_of_uuid_text

    return F.struct(
        F.lit(int(ticks_of_uuid_text(value))).alias("t"),
        F.lit(value).alias("u"),
    )


_OP_TO_COLUMN = {
    Op.EQ: lambda c, v: c == v,
    Op.LT: lambda c, v: c < v,
    Op.LTE: lambda c, v: c <= v,
    Op.GT: lambda c, v: c > v,
    Op.GTE: lambda c, v: c >= v,
    Op.NEQ: lambda c, v: c != v,
    Op.IN: lambda c, v: c.isin(*v) if isinstance(v, (list, tuple)) else c.isin(v),
    Op.CONTAINS: lambda c, v: F.array_contains(c, v),
    Op.CONTAINS_KEY: lambda c, v: F.array_contains(F.map_keys(c), v),
    Op.LIKE: lambda c, v: c.like(v),
    Op.IS_NOT_NULL: lambda c, v: c.isNotNull(),
}


class CqlTable:
    """Immutable-ish builder for a CQL-shaped read."""

    def __init__(
        self,
        df: DataFrame,
        meta: TableMeta,
        strict: bool = False,
        index_kinds: "dict[str, dict[str, str]] | None" = None,
        stats_fn=None,
        choice_sink: list | None = None,
        index_modes: "dict | None" = None,
    ):
        self._df = df
        self.meta = meta
        self.strict = strict
        # secondary-index columns (schema/IndexMetadata.java): a single
        # restriction on one of these whose op matches the index KIND
        # (IndexTarget.Type: simple/full()=EQ, values()=CONTAINS,
        # keys()=CONTAINS KEY, entries()=m[k]=v) passes the ALLOW
        # FILTERING gate (the 2i read path — physically still Catalyst
        # pushdown + file skipping), given as col -> {kind: index name}.
        self.index_kinds = dict(index_kinds or {})
        # col -> SASI IndexMode analog ({'mode','analyzed','is_literal'})
        # for columns whose CUSTOM index is SASI-class; None entries /
        # absent columns keep the shape-agnostic generic-custom behavior
        self.index_modes = dict(index_modes or {})
        # stats_fn() -> {column: estimated rows per EQ match} — the
        # SecondaryIndexManager.getEstimatedResultRows analog; None means
        # rank by name only (deterministic fallback)
        self._stats_fn = stats_fn
        # mutable sink the owning surface (CqlDatabase) reads back: df()
        # appends (index name, column) when an index serves the statement
        self._choice_sink = choice_sink
        self._restrictions: list[Restriction] = []
        self._conditions: list[Column] = []
        self._projection: list[Column] | None = None
        self._distinct = False
        self._distinct_cols: list[str] = []
        self._order: list[tuple[str, bool]] = []
        self._limit: int | None = None
        self._per_partition_limit: int | None = None
        self._allow_filtering = False

    def _copy(self) -> "CqlTable":
        t = CqlTable(
            self._df, self.meta, self.strict, dict(self.index_kinds),
            stats_fn=self._stats_fn, choice_sink=self._choice_sink,
            index_modes=self.index_modes,
        )
        t._restrictions = list(self._restrictions)
        t._conditions = list(self._conditions)
        t._projection = list(self._projection) if self._projection is not None else None
        t._distinct = self._distinct
        t._distinct_cols = list(self._distinct_cols)
        t._order = list(self._order)
        t._limit = self._limit
        t._per_partition_limit = self._per_partition_limit
        t._allow_filtering = self._allow_filtering
        return t

    # -- builder surface ----------------------------------------------------

    def select(self, *cols: str | Column) -> "CqlTable":
        t = self._copy()
        t._projection = [F.col(c) if isinstance(c, str) else c for c in cols]
        return t

    def where(self, column: str, op: Op | str, value: Any = None) -> "CqlTable":
        op = Op(op) if isinstance(op, str) else op
        t = self._copy()
        if op is Op.LIKE and isinstance(value, str):
            # record the pattern SHAPE on the restriction (makeSpecific:
            # SingleColumnRestriction.java:734-756) — the SASI per-mode
            # gate decides servability from it at validation
            # reference order (:746): endsWith checked first, so the
            # bare "%" pattern (both true) classifies as CONTAINS
            pre, suf = value.startswith("%"), value.endswith("%")
            shape = (
                "contains" if pre and suf
                else "suffix" if pre
                else "prefix" if suf
                else "match"
            )
            t._restrictions.append(Restriction(column, op, like_shape=shape))
        else:
            t._restrictions.append(Restriction(column, op))
        if op is Op.EQ and isinstance(value, (list, set, frozenset, dict)):
            # frozen-collection equality (full() index territory). Sets
            # store key-sorted (CQL set order); maps compare as key-sorted
            # entry arrays — Spark disallows direct MapType equality. A
            # literal whose shape mismatches the column's declared type
            # rejects at prepare, never a raw Spark conversion error.
            dt = self._dtype(column)
            if isinstance(value, (set, frozenset)) and not value and isinstance(
                dt, T.MapType
            ):
                # `{}` parses as an empty SET (braces are ambiguous); on
                # a map receiver it IS the empty map literal, like the
                # reference's assignment testing resolves it
                value = {}
            if isinstance(dt, T.ArrayType) and not isinstance(value, dict):
                # a set literal, or a bound list for a set column, in the
                # form the write path stores a set in
                vals = (
                    set_value(value)
                    if isinstance(value, (set, frozenset)) or self._is_set(column)
                    else list(value)
                )
                # whole-array cast: types the empty literal and nested
                # element shapes in one step
                t._conditions.append(
                    F.col(column)
                    == F.array(*[F.lit(x) for x in vals]).cast(dt)
                )
                return t
            if isinstance(dt, T.MapType) and isinstance(value, dict):
                from cassandra_pmem_spark.operators.collections import (
                    sorted_entries,
                )

                entry_t = T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("key", dt.keyType),
                            T.StructField("value", dt.valueType),
                        ]
                    )
                )
                lit_entries = F.array(
                    *[
                        F.struct(F.lit(k).alias("key"), F.lit(v).alias("value"))
                        for k, v in sorted(value.items())
                    ]
                ).cast(entry_t)
                t._conditions.append(sorted_entries(column) == lit_entries)
                return t
            kind = (
                "map" if isinstance(value, dict)
                else "set" if isinstance(value, (set, frozenset))
                else "list"
            )
            raise InvalidRequest(
                f"Invalid {kind} literal for {column!r} of type "
                f"{dt.simpleString() if dt is not None else 'unknown'}"
            )
        if op is Op.LIKE:
            # CQL LIKE (Operator.java:192-256): only '%' is a wildcard
            # and only at the ends — '_' is a LITERAL character (Spark
            # treats it as single-char wildcard, so it must be escaped),
            # patterns are prefix/suffix/contains/exact, and the source
            # must be a string type (the reference rejects both at
            # prepare).
            if not isinstance(self._dtype(column), T.StringType):
                raise InvalidRequest(
                    f"LIKE restriction is only supported on string type "
                    f"columns; {column!r} is not"
                )
            if not isinstance(value, str):
                raise InvalidRequest("LIKE takes a string pattern")
            body = value
            if body.startswith("%"):
                body = body[1:]
            if body.endswith("%"):
                body = body[:-1]
            if "%" in body:
                raise InvalidRequest(
                    f"LIKE pattern {value!r} is not supported: '%' is "
                    "allowed only at the beginning and/or end "
                    "(Operator.java LIKE_PREFIX/SUFFIX/CONTAINS/MATCHER)"
                )
            # an ANALYZED SASI index matches against the analyzed TERM
            # stream, not the raw value (Expression.validateStringValue:
            # 272-307 runs the column through the index's analyzer and
            # checks each term per the op; the query value is analyzed
            # too, which for the modeled chains means case-folding).
            # LIKE is index-only, so any executed LIKE IS served by this
            # index and its analyzer decides the match semantics.
            # Boundary: multi-token query bodies (the reference splits
            # them into per-token sub-expressions via
            # Operation.analyzeGroup) are matched as one term here.
            minfo = self.index_modes.get(column) or {}
            analyzer = minfo.get("analyzer")
            shp = t._restrictions[-1].like_shape
            if analyzer == "standard":
                from cassandra_pmem_spark.pipeline.text import (
                    standard_analyzer,
                )

                req = F.lit(body.lower())
                match = {
                    "prefix": lambda term: term.startswith(req),
                    "suffix": lambda term: term.endswith(req),
                    "contains": lambda term: term.contains(req),
                    "match": lambda term: term == req,
                }[shp]
                t._conditions.append(
                    F.exists(standard_analyzer(F.col(column)), match)
                )
                return t
            if analyzer == "delimiter":
                import re as _re_d

                # DelimiterAnalyzer.java:78-100: split on the single
                # delimiter char, drop empty terms, NO case folding
                terms = F.filter(
                    F.split(
                        F.col(column),
                        _re_d.escape(minfo.get("delimiter", ",")),
                        -1,
                    ),
                    lambda term: term != "",
                )
                req = F.lit(body)
                match = {
                    "prefix": lambda term: term.startswith(req),
                    "suffix": lambda term: term.endswith(req),
                    "contains": lambda term: term.contains(req),
                    "match": lambda term: term == req,
                }[shp]
                t._conditions.append(F.exists(terms, match))
                return t
            if analyzer == "nontokenizing":
                term = (
                    F.lower(F.col(column))
                    if minfo.get("nt_lowercase")
                    else F.col(column)
                )
                req = F.lit(
                    body.lower() if minfo.get("nt_lowercase") else body
                )
                cond = {
                    "prefix": term.startswith(req),
                    "suffix": term.endswith(req),
                    "contains": term.contains(req),
                    "match": term == req,
                }[shp]
                t._conditions.append(cond)
                return t
            spark_pat = value.replace("\\", "\\\\").replace("_", "\\_")
            t._conditions.append(F.col(column).like(spark_pat))
            return t
        if op is Op.CONTAINS and isinstance(self._dtype(column), T.MapType):
            from cassandra_pmem_spark.operators.collections import (
                map_contains_value,
            )

            # CONTAINS on a map searches its VALUES (Operator.CONTAINS in
            # the reference delegates to the map's value type)
            t._conditions.append(map_contains_value(column, value))
            return t
        if (
            op in (Op.LT, Op.LTE, Op.GT, Op.GTE)
            and isinstance(value, str)
            and _is_declared_timeuuid(self.meta, column)
        ):
            # range against a timeuuid LITERAL: TimeUUIDType orders by
            # embedded timestamp, not text — compare (ticks, text)
            t._conditions.append(
                _OP_TO_COLUMN[op](_cmp_key(self.meta, column), _timeuuid_rhs(value))
            )
            return t
        t._conditions.append(_OP_TO_COLUMN[op](F.col(column), value))
        return t

    def where_timeuuid_ticks(
        self,
        column: str,
        op: Op | str,
        edge_ticks: int,
        fixup: "tuple[str, str] | None" = None,
    ) -> "CqlTable":
        """min/maxTimeuuid RANGE bound on a DECLARED timeuuid column:
        compares the v1-embedded 60-bit timestamp extracted from the
        canonical uuid text (functions/timefcts.timeuuid_ticks — pure
        codegen, no UDF), the same timestamp-first ordering TimeUUIDType
        compares by. The op/edge translation happened upstream
        (TimeuuidBound.edge_full); `fixup` re-excludes/includes the
        STORED extreme uuid itself, which shares the edge tick but sits
        outside the tick-only compare's reach. Restriction bookkeeping
        (validator / ALLOW FILTERING gates) records the column like a
        plain range."""
        from cassandra_pmem_spark.functions.timefcts import timeuuid_ticks

        op = Op(op) if isinstance(op, str) else op
        t = self._copy()
        t._restrictions.append(Restriction(column, op))
        cond = _OP_TO_COLUMN[op](timeuuid_ticks(column), F.lit(int(edge_ticks)))
        if fixup is not None:
            mode, text = fixup
            if mode == "exclude":
                cond = cond & (F.col(column) != F.lit(text))
            else:
                cond = cond | (F.col(column) == F.lit(text))
        t._conditions.append(cond)
        return t

    def _dtype(self, column: str):
        f = dict(zip(self._df.schema.names, self._df.schema.fields)).get(column)
        return f.dataType if f is not None else None

    def _is_set(self, column: str) -> bool:
        """Whether ``column`` is declared a ``set<…>`` or ``frozen<set<…>>``
        (Spark stores both as an array, like a list)."""
        from cassandra_pmem_spark.cql.ddl import type_facts

        return type_facts(self.meta.cql_type(column) or "", ()).kind == "set"

    def where_entry(self, column: str, key: Any, value: Any) -> "CqlTable":
        """Map-entry relation ``m[k] = v`` (SingleColumnRelation.onMapEntry;
        Operator EQ over an element path — served by an entries() index or
        ALLOW FILTERING). MAPS ONLY, rejected at prepare otherwise (the
        reference has no list/scalar entry relations). getItem is
        null-safe under the session's non-ANSI mode: a missing key reads
        null and the equality filters the row out, exactly the
        reference's cell-lookup semantics."""
        if not isinstance(self._dtype(column), T.MapType):
            raise InvalidRequest(
                f"Column {column!r} cannot be used as a map (entry "
                "relations apply to map columns only)"
            )
        from cassandra_pmem_spark.operators.collections import map_value

        t = self._copy()
        t._restrictions.append(Restriction(column, Op.ENTRY))
        t._conditions.append(map_value(column, key) == F.lit(value))
        return t

    def where_tuple(self, columns: Sequence[str], op: Op | str, values: Sequence[Any]) -> "CqlTable":
        """Multi-column (tuple) relation (cql3/restrictions/
        MultiColumnRestriction.java): ``(a, b) > (1, 2)`` — lexicographic on
        a clustering prefix — or ``(a, b) IN ((1, 2), (3, 4))`` (the
        InRestriction form; for IN, ``values`` is a sequence of tuples).
        Spark structs compare lexicographically, so both stay JVM-side."""
        op = Op(op) if isinstance(op, str) else op
        t = self._copy()
        for c in columns:
            t._restrictions.append(Restriction(c, op))
        # Struct comparison needs identical field names AND types on both
        # sides, so cast/alias the literal tuple to the column shape.
        dtypes = dict(self._df.dtypes)
        lhs = F.struct(*[F.col(c) for c in columns])

        def rhs(tup):
            return F.struct(
                *[F.lit(v).cast(dtypes[c]).alias(c) for c, v in zip(columns, tup)]
            )

        if op == Op.IN:
            cond = F.lit(False)
            for tup in values:
                cond = cond | (lhs == rhs(tup))
            t._conditions.append(cond)
        else:
            t._conditions.append(_OP_TO_COLUMN[op](lhs, rhs(values)))
        return t

    def where_token(self, op: Op | str, value: int) -> "CqlTable":
        """token(pk) relation (cql3/restrictions/TokenRestriction.java:40) —
        range scan in hash order. Keys whose column types are in the
        covered marshal set — including uuid/timeuuid/inet, whose CQL
        type names ride on TableMeta.cql_types because Spark stores
        them as plain strings — hash with the bit-exact Cassandra Murmur3
        token (functions/murmur3.py), so token literals from a real
        cluster carry over; other key shapes fall back to xxhash64 (same
        ordering semantics, different values — see functions/token.py)."""
        op = Op(op) if isinstance(op, str) else op
        t = self._copy()
        pk = self.meta.partition_key
        t._conditions.append(
            _OP_TO_COLUMN[op](
                token_column(
                    pk, self.meta.schema, {c: self.meta.cql_type(c) for c in pk}
                ),
                value,
            )
        )
        return t

    def allow_filtering(self) -> "CqlTable":
        t = self._copy()
        t._allow_filtering = True
        return t

    def distinct(self, *cols: str) -> "CqlTable":
        """SELECT DISTINCT — one row per partition (DataLimits.distinctLimits)."""
        t = self._copy()
        t._distinct = True
        t._distinct_cols = list(cols) or list(self.meta.partition_key)
        return t

    def order_by(self, *cols: str | tuple[str, bool]) -> "CqlTable":
        t = self._copy()
        t._order = [(c, True) if isinstance(c, str) else c for c in cols]
        return t

    def limit(self, n: int) -> "CqlTable":
        t = self._copy()
        t._limit = n
        return t

    def per_partition_limit(self, n: int) -> "CqlTable":
        t = self._copy()
        t._per_partition_limit = n
        return t

    # -- compilation ----------------------------------------------------------

    def df(self) -> DataFrame:
        meta = self.meta
        if self.strict:
            validate_restrictions(
                meta, self._restrictions, self._allow_filtering, self.index_kinds,
                index_modes=self.index_modes,
            )
            pk_restricted = {r.column for r in self._restrictions if r.op in (Op.EQ, Op.IN)} >= set(
                meta.partition_key
            )
            validate_order_by(meta, self._order, pk_restricted)
            validate_limits(self._limit, self._per_partition_limit, self._distinct)
            if self._distinct:
                validate_distinct(meta, self._distinct_cols)

        # Index selection (SecondaryIndexManager.getBestIndexFor:1015,
        # 1050): among the indexed, index-servable restrictions, the
        # statement is served by the index with the FEWEST estimated
        # result rows (name-ascending tiebreak); the remaining
        # restrictions are RowFilter post-filtering — which is why they
        # required ALLOW FILTERING at validation. The choice is semantic
        # (execution stays one Catalyst plan either way) and is reported
        # through the choice sink for system/tracing surfaces.
        pk_all = set(meta.primary_key)
        from cassandra_pmem_spark.cql.validator import (
            KINDS_FOR_OP,
            _op_index_served,
        )

        cands: dict[str, str] = {}  # column -> serving index name
        for r in self._restrictions:
            kinds = self.index_kinds.get(r.column)
            if kinds is None or r.column in pk_all or r.column in cands:
                continue
            if not _op_index_served(r, kinds, self.index_modes.get(r.column)):
                continue
            # the index whose KIND matches the operator serves — SAME
            # table the gate consulted
            cands[r.column] = next(
                kinds[k] for k in KINDS_FOR_OP[r.op] if k in kinds
            )
        cand_cols = sorted(cands)
        if cand_cols and self._choice_sink is not None:
            if len(cand_cols) == 1:
                best = cand_cols[0]
            else:
                est = self._stats_fn(cand_cols) if self._stats_fn else {}
                best = min(
                    cand_cols,
                    key=lambda c: (est.get(c, float("inf")), cands[c]),
                )
            self._choice_sink.append((cands[best], best))

        out = self._df
        if self._conditions:
            out = out.filter(reduce(and_, self._conditions))

        if self._per_partition_limit is not None:
            out = _per_partition_limit(out, meta, self._per_partition_limit)

        if self._distinct:
            out = out.select(*self._distinct_cols).dropDuplicates(self._distinct_cols)
        elif self._projection is not None:
            out = out.select(*self._projection)

        if self._order:
            from cassandra_pmem_spark.functions.duration import assert_comparable

            dtypes = dict(out.dtypes)
            for c, _ in self._order:
                if c in dtypes:
                    assert_comparable(dtypes[c], context=f"ORDER BY {c!r}")
            out = out.orderBy(
                *[
                    _cmp_key(meta, c).asc() if asc else _cmp_key(meta, c).desc()
                    for c, asc in self._order
                ]
            )
        if self._limit is not None:
            out = out.limit(self._limit)
        return out


def _per_partition_limit(df: DataFrame, meta: TableMeta, n: int) -> DataFrame:
    """PER PARTITION LIMIT n (Parser.g:280; DataLimits.java:91,540-547):
    first n rows per partition in clustering order."""
    order = [
        _cmp_key(meta, c.name).asc() if c.ascending else _cmp_key(meta, c.name).desc()
        for c in meta.clustering
    ] or [F.lit(1)]
    w = Window.partitionBy(*[F.col(c) for c in meta.partition_key]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


# SparkSession -> {parquet path: (stamp, Java Dataset)}, least recently
# used first. Weakly keyed, so a session's entries die with it; the
# values hold no Python DataFrame, which would hold the session.
_SCANS: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_SCANS_PER_SESSION = 32


def _base_scan(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """Fixture table `name`'s base frame, resolved once per session, file
    version and split settings (the prepared-statement reuse of
    QueryProcessor.java:402): a later statement builds on the same
    analysed relation instead of resolving and listing the file again.
    When the scan plans one partition (asked once, without a job), the
    base is ``coalesce(1)``: filters and column pruning still reach the
    parquet scan below it, and Sort, Window and Aggregate see a single
    partition, so they plan no Exchange. A multi-split table keeps its
    splits and the shuffle. A path ``os.stat`` cannot read (a remote
    store) resolves through ``load_table`` every time."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return load_table(spark, name, sf_dir)
    for stopped in [s for s in _SCANS if s.sparkContext._jsc is None]:
        del _SCANS[stopped]
    conf = spark.conf
    stamp = (
        st.st_mtime_ns,
        st.st_size,
        conf.get("spark.sql.files.maxPartitionBytes"),
        conf.get("spark.sql.files.openCostInBytes"),
        spark.sparkContext.defaultParallelism,
    )
    scans = _SCANS.setdefault(spark, OrderedDict())
    hit = scans.get(path)
    if hit is not None and hit[0] == stamp:
        scans.move_to_end(path)
        return DataFrame(hit[1], spark)
    df = load_table(spark, name, sf_dir)
    if df.rdd.getNumPartitions() <= 1:
        df = df.coalesce(1)
    scans[path] = (stamp, df._jdf)
    scans.move_to_end(path)
    if len(scans) > _SCANS_PER_SESSION:
        scans.popitem(last=False)
    return df


def cql_table(
    spark: SparkSession, name: str, sf_dir: str | None = None, strict: bool = False
) -> CqlTable:
    """A CQL read over fixture table `name`: the one place the read path
    resolves a table (``_base_scan``). Plain DataFrame queries, such as
    registry self-joins, call ``catalog.load_table`` for a relation of
    their own."""
    from cassandra_pmem_spark.catalog import DEFAULT_SF_DIR

    return CqlTable(
        _base_scan(spark, name, sf_dir or DEFAULT_SF_DIR), TABLES[name], strict=strict
    )
