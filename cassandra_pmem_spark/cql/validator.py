"""Strict-CQL validation (optional gate, off by default).

Spark happily evaluates every predicate/sort/group; CQL does not. The
reference rejects, at statement-prepare time:

- arbitrary filtering without ALLOW FILTERING
  (cql3/restrictions/StatementRestrictions.java:51-54 — the
  "Cannot execute this query ... use ALLOW FILTERING" error),
- ORDER BY on non-clustering columns / non-prefix / mixed directions /
  unrestricted partition key
  (cql3/statements/SelectStatement.java:1105 verifyOrderingIsAllowed,
  :1213 isReversed),
- GROUP BY on anything but a primary-key prefix in PK order
  (SelectStatement.java:1145-1190; AggregationSpecification.java:56),
- SELECT DISTINCT on anything but partition-key (+static) columns
  (SelectStatement.java:975 validateDistinctSelection),
- ordering/clustering on the duration type — Duration has no total order
  (cql3/Duration.java; AbstractType comparability).

These checks are pre-flight validation on our facade, NOT Catalyst rules
(SURVEY §4): with strict=False the full Spark surface passes through.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from cassandra_pmem_spark.catalog import TableMeta


class InvalidRequest(Exception):
    """CQL-level statement rejection (maps exceptions/InvalidRequestException)."""


class ConfigurationException(InvalidRequest):
    """Schema/option-level rejection (maps exceptions/ConfigurationException —
    the reference type SASI's IndexMode validation throws). Subclasses
    InvalidRequest so existing statement-level handlers keep catching it."""


class Op(Enum):
    # cql3/Operator.java:33-176 (+ LIKE variants :192-256)
    EQ = "="
    LT = "<"
    LTE = "<="
    GT = ">"
    GTE = ">="
    NEQ = "!="
    IN = "IN"
    CONTAINS = "CONTAINS"
    CONTAINS_KEY = "CONTAINS KEY"
    LIKE = "LIKE"
    IS_NOT_NULL = "IS NOT NULL"
    # map-entry relation m[k] = v (Operator.java EQ on an element path;
    # SingleColumnRelation.onMapEntry) — served by an entries() index
    ENTRY = "ENTRY ="


@dataclass(frozen=True)
class Restriction:
    column: str
    op: Op
    # value is opaque to validation; LIKE restrictions carry the pattern
    # SHAPE (SingleColumnRestriction.LikeRestriction.makeSpecific:734-756
    # maps the bound value to LIKE_PREFIX/SUFFIX/CONTAINS/MATCHES) so the
    # SASI per-mode gate can decide servability without re-parsing
    like_shape: "str | None" = None  # 'prefix'|'suffix'|'contains'|'match'


_SLICE_OPS = {Op.LT, Op.LTE, Op.GT, Op.GTE}


def declared_timeuuid(meta, col: str) -> bool:
    """Whether `col`'s DECLARED CQL type is timeuuid (Spark stores
    uuids as text; the declared type rides on TableMeta.cql_types).
    The ONE definition — writes/table/parser all gate on it."""
    return meta.cql_type(col) == "timeuuid"


# CassandraIndex.supportsExpression analog, the ONE op->serving-kinds
# table (index selection in table.py reads the same mapping): simple and
# full() serve EQ (plus CUSTOM SASI-class, which also serves LIKE —
# StatementRestrictions.java:174-180 makes LIKE index-only), values()
# serves CONTAINS, keys() CONTAINS KEY, entries() m[k]=v.
KINDS_FOR_OP: dict = {
    Op.EQ: ("simple", "full", "custom"),
    Op.CONTAINS: ("values",),
    Op.CONTAINS_KEY: ("keys",),
    Op.ENTRY: ("entries",),
    Op.LIKE: ("custom",),
}


# ----- SASI IndexMode (index/sasi/conf/IndexMode.java + ColumnIndex.java) ----

# OnDiskIndexBuilder.Mode:51-73 — which Expression.Op each mode's on-disk
# layout can answer. LIKE shapes map to PREFIX/SUFFIX/CONTAINS/MATCH
# (Expression.Op.valueOf:48-80).
SASI_MODE_OPS: dict = {
    "PREFIX": frozenset({"EQ", "MATCH", "PREFIX", "NOT_EQ", "RANGE"}),
    "CONTAINS": frozenset({"EQ", "MATCH", "CONTAINS", "PREFIX", "SUFFIX", "NOT_EQ"}),
    "SPARSE": frozenset({"EQ", "NOT_EQ", "RANGE"}),
}

_LIKE_SHAPE_OP = {
    "prefix": "PREFIX",
    "suffix": "SUFFIX",
    "contains": "CONTAINS",
    "match": "MATCH",
}


def is_sasi_class(cls: "str | None") -> bool:
    """Whether a CUSTOM index class is the SASI implementation (the only
    custom class whose per-mode semantics this engine models)."""
    return bool(cls) and cls.strip().rsplit(".", 1)[-1].lower() == "sasiindex"


def sasi_index_mode(options: dict, default_literal: bool) -> dict:
    """IndexMode.getMode (index/sasi/conf/IndexMode.java:134-196): parse
    mode / analyzed / analyzer_class / is_literal from the CUSTOM index
    options. default_literal = column type is text/ascii (isLiteral's
    UTF8Type/AsciiType default, :180-182). Raises the reference's
    ConfigurationException messages."""
    raw_mode = options.get("mode")
    mode = "PREFIX" if raw_mode is None else str(raw_mode).upper()
    if mode not in SASI_MODE_OPS:
        raise ConfigurationException(f"Incorrect index mode: {raw_mode}")
    # analyzed: Boolean.parseBoolean semantics ('true' case-insensitive,
    # anything else false); analyzer_class present defaults analyzed=true
    if options.get("analyzer_class") is not None:
        analyzed_opt = options.get("analyzed")
        analyzed = True if analyzed_opt is None else str(analyzed_opt).lower() == "true"
    else:
        analyzed = str(options.get("analyzed", "false")).lower() == "true"
    lit_opt = options.get("is_literal")
    is_literal = default_literal if lit_opt is None else str(lit_opt).lower() == "true"
    # analyzer identity (IndexMode.getAnalyzer:75-95): an explicit class
    # wins; analyzed with no class gets StandardAnalyzer only on
    # tokenizable (text/ascii) columns, NoOp otherwise. isTokenized =
    # analyzer.isTokenizing() (ColumnIndex.java:82) — TRUE for Standard,
    # FALSE for NonTokenizing, so an analyzed NonTokenizing index still
    # serves EQ. Unmodeled analyzer classes behave as NoOp (documented).
    cls_tail = (options.get("analyzer_class") or "").rsplit(".", 1)[-1].lower()
    if not analyzed:
        analyzer = None
    elif cls_tail == "standardanalyzer":
        analyzer = "standard"
    elif cls_tail == "nontokenizinganalyzer":
        analyzer = "nontokenizing"
    elif cls_tail == "delimiteranalyzer":
        analyzer = "delimiter"
    elif cls_tail == "":
        analyzer = "standard" if default_literal else None
    else:
        analyzer = None
    # NonTokenizingOptions: caseSensitive defaults TRUE (:64,140-143);
    # lowercase output when case_sensitive=false or normalize_lowercase
    nt_lower = (
        str(options.get("case_sensitive", "true")).lower() == "false"
        or str(options.get("normalize_lowercase", "false")).lower() == "true"
    )
    # DelimiterTokenizingOptions: single delimiter char, ',' default
    # (:42,58-63 — multi-char rejects with the reference's message)
    delim = options.get("delimiter", ",")
    if analyzer == "delimiter" and len(str(delim)) != 1:
        raise ConfigurationException(
            f"Only single character delimiters supported, was {delim}"
        )
    return {
        "mode": mode,
        "analyzed": analyzed,
        "is_literal": is_literal,
        "analyzer": analyzer,
        # isTokenized = analyzer.isTokenizing() — Standard AND Delimiter
        # (DelimiterAnalyzer.java:104), not NonTokenizing/NoOp
        "tokenized": analyzer in ("standard", "delimiter"),
        "nt_lowercase": nt_lower,
        "delimiter": str(delim),
    }


def validate_sasi_mode(mode_info: dict) -> None:
    """SASIIndex.validateOptions' SPARSE gates (SASIIndex.java:156-164)."""
    if mode_info["mode"] == "SPARSE":
        if mode_info["is_literal"]:
            raise ConfigurationException(
                "SPARSE mode is only supported on non-literal columns."
            )
        if mode_info["analyzed"]:
            raise ConfigurationException("SPARSE mode doesn't support analyzers.")


def sasi_supports(op: str, m: dict) -> bool:
    """ColumnIndex.supports (index/sasi/conf/ColumnIndex.java:219-230):
    op is an Expression.Op name. The LIKE family additionally requires a
    literal column (:221-222 — the generic-LIKE prepare-time gate)."""
    if op in ("PREFIX", "SUFFIX", "CONTAINS", "MATCH") and not m["is_literal"]:
        return False
    tokenized = m.get("tokenized", m["analyzed"])
    if tokenized and op == "EQ":
        return False  # EQ only on non-tokenized indexes (:225)
    if tokenized and m["mode"] == "CONTAINS" and op == "PREFIX":
        return False  # PREFIX unsupported on tokenized CONTAINS (:226)
    if m["is_literal"] and op == "RANGE":
        return False  # RANGE only on non-literal indexes (:227)
    return op in SASI_MODE_OPS[m["mode"]]


def _op_index_served(r: Restriction, kinds: dict, mode_info: dict | None = None) -> bool:
    if not any(k in kinds for k in KINDS_FOR_OP.get(r.op, ())):
        return False
    if mode_info is not None:
        # the column's custom index is SASI with declared options — apply
        # the per-mode op matrix (generic customs stay shape-agnostic)
        if r.op is Op.LIKE:
            shape = getattr(r, "like_shape", None) or "match"
            return sasi_supports(_LIKE_SHAPE_OP[shape], mode_info)
        if (
            r.op is Op.EQ
            and set(kinds) <= {"simple", "custom"}
            and kinds.get("simple") == kinds.get("custom")
            and not sasi_supports("EQ", mode_info)
        ):
            # the SASI index is the ONLY index on the column (its scalar
            # registration mirrors into both kinds) and it is tokenized —
            # EQ unsupported (ColumnIndex.supports:225)
            return False
    return True


def validate_restrictions(
    meta: TableMeta,
    restrictions: list[Restriction],
    allow_filtering: bool = False,
    indexed: "dict[str, dict[str, str]] | None" = None,
    index_modes: "dict | None" = None,
) -> None:
    """Classify WHERE relations like StatementRestrictions.java:126 and
    reject plans that would need filtering without ALLOW FILTERING.

    CQL-legal without ALLOW FILTERING:
      * partition key: every pk column EQ (or IN) — point/multi-point read
        (SinglePartitionReadCommand), or token()-range, or none at all
        (full range scan) *provided* no regular-column predicates;
      * clustering: a prefix of EQ, optionally ending in one sliced column
        (ClusteringIndexSliceFilter);
      * regular columns: exactly ONE restriction served by a secondary
        index — EQ (or CONTAINS/CONTAINS KEY on an indexed collection) on
        a column whose `indexed` entry ({kind: index name}, the
        IndexTarget.Type analogs 'simple'/'values'/'keys'/'entries'/
        'full'/'custom') serves the operator
        (SecondaryIndexManager.getBestIndexFor;
        any ADDITIONAL regular restriction is post-filtering and needs
        ALLOW FILTERING, StatementRestrictions.needFiltering). The index
        itself is semantic here: execution stays Catalyst predicate
        pushdown + parquet file skipping, the SURVEY §4 analog of a 2i
        lookup.
    """
    # LIKE is INDEX-ONLY in the reference — ALLOW FILTERING does not
    # rescue it (StatementRestrictions.java:174-180: a LIKE relation on a
    # column without a queriable index rejects outright; RowFilter has no
    # LIKE post-filter path)
    kindmap = indexed or {}
    for r in restrictions:
        if r.op is Op.LIKE and not _op_index_served(
            r, kindmap.get(r.column, {}), (index_modes or {}).get(r.column)
        ):
            raise InvalidRequest(
                "LIKE restriction is only supported on properly indexed "
                "columns"
            )
    if allow_filtering:
        return
    by_col = {r.column: r for r in restrictions}
    pk_set, ck_names = set(meta.partition_key), [c.name for c in meta.clustering]

    pk_restr = [r for r in restrictions if r.column in pk_set]
    pk_fully_eq = set(meta.partition_key) == {r.column for r in pk_restr} and all(
        r.op in (Op.EQ, Op.IN) for r in pk_restr
    )
    if pk_restr and not pk_fully_eq:
        raise InvalidRequest(
            "Partition key parts must be restricted by = or IN, covering all parts, "
            "or not at all (token-range scan); otherwise ALLOW FILTERING is required "
            "(StatementRestrictions.processPartitionKeyRestrictions)"
        )

    # clustering prefix: EQ* then at most one sliced column, in declared order
    slice_seen = False
    restricted_ck = [c for c in ck_names if c in by_col]
    for i, ck in enumerate(ck_names):
        r = by_col.get(ck)
        if r is None:
            if any(c in by_col for c in ck_names[i + 1 :]):
                raise InvalidRequest(
                    f"Clustering column {ck_names[i + 1:]} restricted without preceding "
                    f"{ck!r} being EQ-restricted — needs ALLOW FILTERING "
                    "(StatementRestrictions.processClusteringColumnsRestrictions)"
                )
            break
        if slice_seen:
            raise InvalidRequest(
                f"Clustering column {ck!r} restricted after a slice — needs ALLOW FILTERING"
            )
        if r.op in _SLICE_OPS:
            slice_seen = True
        elif r.op not in (Op.EQ, Op.IN):
            raise InvalidRequest(f"Operator {r.op.value} on clustering column {ck!r} needs ALLOW FILTERING")

    regular = [r for r in restrictions if r.column not in pk_set and r.column not in ck_names]
    if regular:
        by_kind = kindmap
        index_served = (
            len(regular) == 1
            and regular[0].column in by_kind
            and _op_index_served(
                regular[0],
                by_kind[regular[0].column],
                (index_modes or {}).get(regular[0].column),
            )
            and not restricted_ck
        )
        if not index_served:
            raise InvalidRequest(
                f"Predicates on non-primary-key columns {[r.column for r in regular]} "
                "require ALLOW FILTERING (RowFilter post-filtering; a single "
                "restriction on an indexed column whose index KIND serves the "
                "operator — simple/full()=EQ, values()=CONTAINS, keys()="
                "CONTAINS KEY, entries()=m[k]=v — is served by the index)"
            )
    if restricted_ck and not pk_fully_eq:
        raise InvalidRequest(
            "Clustering restrictions without fully-restricted partition key need ALLOW FILTERING"
        )


def validate_order_by(
    meta: TableMeta, order_cols: list[tuple[str, bool]], pk_is_restricted: bool
) -> None:
    """SelectStatement.verifyOrderingIsAllowed + isReversed (:1105, :1213)."""
    if not order_cols:
        return
    if not pk_is_restricted:
        raise InvalidRequest(
            "ORDER BY is only supported when the partition key is restricted by = or IN"
        )
    ck = [(c.name, c.ascending) for c in meta.clustering]
    names = [n for n, _ in order_cols]
    if names != [n for n, _ in ck[: len(names)]]:
        raise InvalidRequest(
            f"ORDER BY must be a prefix of the clustering order {[n for n, _ in ck]}, got {names}"
        )
    same = all(asc == declared_asc for (_, asc), (_, declared_asc) in zip(order_cols, ck))
    reversed_ = all(asc != declared_asc for (_, asc), (_, declared_asc) in zip(order_cols, ck))
    if not (same or reversed_):
        raise InvalidRequest(
            "ORDER BY directions must all match the clustering order or all reverse it"
        )


def validate_group_by(meta: TableMeta, group_cols: list[str]) -> None:
    """GROUP BY must be a primary-key prefix in PK order
    (SelectStatement.java:1145-1190, AggregationSpecification.AGGREGATE_BY_PK_PREFIX)."""
    pk = list(meta.primary_key)
    if group_cols != pk[: len(group_cols)]:
        raise InvalidRequest(
            f"GROUP BY must be a prefix of the primary key {pk}, got {group_cols}"
        )
    if group_cols and len(group_cols) < len(meta.partition_key):
        # SelectGroupByTest.java: "Group by is not supported on only a part
        # of the partition key" — a partial pk group would span token ranges
        raise InvalidRequest("GROUP BY is not supported on only a part of the partition key")


def validate_limits(
    limit: int | None,
    per_partition_limit: int | None,
    distinct: bool = False,
    has_aggregates: bool = False,
) -> None:
    """Limit gates (SelectStatement.prepareLimit; DataLimits;
    SelectLimitTest.java:75,150,154): limits are strictly positive, and
    PER PARTITION LIMIT composes with neither DISTINCT (one row per
    partition already) nor aggregation (group rows, not partition rows)."""
    for n, what in ((limit, "LIMIT"), (per_partition_limit, "PER PARTITION LIMIT")):
        if n is not None and n <= 0:
            raise InvalidRequest(f"{what} must be strictly positive")
    if per_partition_limit is not None and distinct:
        raise InvalidRequest("PER PARTITION LIMIT is not allowed with SELECT DISTINCT queries")
    if per_partition_limit is not None and has_aggregates:
        raise InvalidRequest("PER PARTITION LIMIT is not allowed with aggregate queries")


def validate_distinct(meta: TableMeta, cols: list[str]) -> None:
    """SELECT DISTINCT only on partition key (+ static) columns
    (SelectStatement.validateDistinctSelection:975)."""
    allowed = set(meta.partition_key) | set(meta.static_columns)
    bad = [c for c in cols if c not in allowed]
    if bad:
        raise InvalidRequest(
            f"SELECT DISTINCT only supports partition-key/static columns; got {bad}"
        )
