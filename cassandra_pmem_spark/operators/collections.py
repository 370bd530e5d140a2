"""Collection semantics: list / set / map (SURVEY §1.2, §2.2, §2.9).

Read-side accessors (cql3/selection/ElementsSelector.java:102,:163;
Selectable.WithFieldSelection:499) and write-side mutation emulation
(cql3/Operation.java:155-497; Lists.java:408-574; Sets.java:322,364;
Maps.java:349-426). CQL invariants we preserve:

- set<T> is sorted + unique (db/marshal/SetType.java) → array_sort ∘ array_distinct;
- map<K,V> iterates key-sorted (MapType.java) — Spark maps are unordered, so
  key-sorted *projection* is provided via map_entries→sort;
- list<T> keeps insertion order, duplicates allowed.

All pure built-in functions — whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- read-side accessors ------------------------------------------------------

def element_at_index(lst: Column | str, i: int) -> Column:
    """l[i] — CQL lists are 0-indexed; Spark element_at is 1-indexed."""
    return F.element_at(_c(lst), i + 1)


def map_value(m: Column | str, k) -> Column:
    """m[k] (ElementsSelector.newElementFactory:102)."""
    return _c(m).getItem(k)


def map_slice(m: Column | str, lo, hi) -> Column:
    """m[a..b] (ElementsSelector.newSliceFactory:163) — entries with key in [a,b]."""
    return F.map_filter(_c(m), lambda k, v: (k >= F.lit(lo)) & (k <= F.lit(hi)))


def udt_field(u: Column | str, field: str) -> Column:
    """udt.field (Selectable.WithFieldSelection:499) — struct field access."""
    return _c(u).getField(field)


def contains(coll: Column | str, v) -> Column:
    """CONTAINS on list/set values (Operator.java:117)."""
    return F.array_contains(_c(coll), v)


def map_contains_key(m: Column | str, k) -> Column:
    """CONTAINS KEY (Operator.java:147)."""
    return F.array_contains(F.map_keys(_c(m)), k)


def map_contains_value(m: Column | str, v) -> Column:
    return F.array_contains(F.map_values(_c(m)), v)


def sorted_entries(m: Column | str) -> Column:
    """Key-sorted entry list — CQL map iteration order (MapType key-sorted)."""
    return F.array_sort(F.map_entries(_c(m)))


# -- write-side mutation emulation (loader merge step) ------------------------

def list_append(lst: Column | str, elems: Column) -> Column:  # Lists.Appender:408
    return F.concat(_c(lst), elems)


def list_prepend(elems: Column, lst: Column | str) -> Column:  # Lists.Prepender
    return F.concat(elems, _c(lst))


def list_discard(lst: Column | str, v) -> Column:  # Lists.Discarder:574
    return F.array_remove(_c(lst), v)


def list_set_index(lst: Column | str, i: int, v, strict: bool = False) -> Column:
    """Lists.SetterByIndex. With strict=True, an out-of-range index raises
    at execution time, like the reference's "List index %d out of bound,
    list has size %d" (Lists.SetterByIndex.execute) — otherwise the write
    is a silent no-op on short lists."""
    l = _c(lst)
    out = F.transform(l, lambda x, idx: F.when(idx == F.lit(i), F.lit(v)).otherwise(x))
    if not strict:
        return out
    return F.when(
        F.size(l) <= F.lit(i),
        F.raise_error(
            F.concat(
                F.lit(f"List index {i} out of bound, list has size "),
                F.size(l).cast("string"),
            )
        ),
    ).otherwise(out)


def set_add(s: Column | str, elems: Column) -> Column:  # Sets.Adder:322
    return F.array_sort(F.array_distinct(F.concat(_c(s), elems)))


def set_discard(s: Column | str, v) -> Column:  # Sets.Discarder:364
    return F.array_remove(_c(s), v)


def normalize_set(s: Column | str) -> Column:
    """Enforce the set<T> invariant after arbitrary edits."""
    return F.array_sort(F.array_distinct(_c(s)))


def map_put(m: Column | str, other: Column) -> Column:  # Maps.Putter:426 — RHS wins
    return F.map_zip_with(
        _c(m), other, lambda k, v1, v2: F.coalesce(v2, v1)
    )


def map_remove_key(m: Column | str, k) -> Column:  # Maps.DiscarderByKey
    return F.map_filter(_c(m), lambda key, _: key != F.lit(k))


# -- per-cell liveness: multi-cell collection reconcile -----------------------

def merge_collection_cells(
    mutations,
    key,
    cell_key_col: str = "ck",
    value_col: str = "v",
    writetime_col: str = "writetime",
    expiry_col: str | None = None,
    now=None,
):
    """Per-cell reconcile for a multi-cell collection column.

    The reference stores one liveness per collection cell — each map entry
    / set element carries its own (timestamp, ttl) (db/rows/Cell.java;
    db/LivenessInfo.java), merged cell-by-cell at read
    (db/rows/Cells.java reconcile). That is what makes
    ``WRITETIME(m['k'])`` / ``TTL(m['k'])`` well-defined per element
    (cql3/selection/WritetimeOrTTLSelector.java), and lets one element of
    a map expire while its siblings survive.

    Input: one row per written cell — ``key…, cell_key_col, value_col,
    writetime_col[, expiry_col]``; a NULL value is a cell tombstone.
    Reconcile order (Cells.reconcile): highest writetime wins; timestamp
    ties prefer the tombstone, then the greater value. The surviving cell
    is dropped if it is a tombstone or expired at ``now``.

    One hash aggregate (map-side partial combine, single shuffle on the
    (key, cell key) pair) — no window sort, no Python on the data path.
    Returns one row per *live* cell with its own writetime and expiry.
    """
    fields = [
        F.col(writetime_col).alias("wt"),
        F.col(value_col).isNull().cast("int").alias("tomb"),
        F.col(value_col).alias("v"),
    ]
    if expiry_col is not None:
        fields.append(F.col(expiry_col).alias("exp"))
    newest = mutations.groupBy(*key, cell_key_col).agg(
        F.max(F.struct(*fields)).alias("__cell")
    )
    out = newest.select(
        *key,
        cell_key_col,
        F.col("__cell.v").alias(value_col),
        F.col("__cell.wt").alias(writetime_col),
        *([F.col("__cell.exp").alias(expiry_col)] if expiry_col is not None else []),
    ).filter(F.col(value_col).isNotNull())
    if expiry_col is not None:
        now_e = F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
        out = out.filter(F.col(expiry_col).isNull() | (F.col(expiry_col) > now_e))
    return out
