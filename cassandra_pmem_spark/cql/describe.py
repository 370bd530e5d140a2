"""DESCRIBE — pasteable CQL DDL reconstruction from the live registry.

The reference surfaces this through cqlsh (bin/cqlsh.py:1350-1474
describe_keyspace/columnfamily/...), whose output is the driver
metadata's `export_as_string` — "CQL commands which should be pasteable
back into a CQL session to recreate the given object"
(bin/cqlsh.py:1311-1315). That pasteability IS the contract here: every
statement this module emits re-parses through cql/ddl.py to an
equivalent registry (round-trip pinned in tests/test_cql_describe.py).

Result shape: (keyspace_name, type, name, create_statement) rows — the
same four columns Cassandra 4.0's server-side DESCRIBE returns, so a
driver-side consumer sees a familiar frame. Everything derives from
SchemaRegistry; like every introspection surface this is deliberately
driver-side and tiny (schema objects, not data).

Column and field types print as their statements declared them: table
columns from TableMeta.cql_type, user type fields from
registry.type_field_text (the same text system_schema shows).
"""

from __future__ import annotations

from typing import Any

from cassandra_pmem_spark.cql.validator import InvalidRequest


def _quote(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _keyspace_cql(ks) -> str:
    rep = dict(ks.replication or {"class": "SimpleStrategy"})
    parts = []
    if "class" in rep:
        parts.append(f"'class': {_quote(rep.pop('class'))}")
    parts.extend(f"{_quote(k)}: {_quote(rep[k])}" for k in sorted(rep))
    return (
        f"CREATE KEYSPACE {ks.name} WITH replication = {{{', '.join(parts)}}}"
        f" AND durable_writes = {_quote(ks.durable_writes)};"
    )


def _type_cql(registry, name: str) -> str:
    st = registry.types[name]
    ks = registry.type_keyspaces.get(name)
    declared = registry.type_field_text[name]
    qual = f"{ks}.{name}" if ks else name
    fields = ",\n".join(f"    {f.name} {declared[f.name]}" for f in st.fields)
    return f"CREATE TYPE {qual} (\n{fields}\n);"


def _primary_key_text(meta) -> str:
    pk = (
        meta.partition_key[0]
        if len(meta.partition_key) == 1
        else "(" + ", ".join(meta.partition_key) + ")"
    )
    cks = [c.name for c in meta.clustering]
    return "PRIMARY KEY (" + ", ".join([pk] + cks) + ")"


def _clustering_order_option(meta) -> str | None:
    """Bare 'CLUSTERING ORDER BY (...)' option text, or None — callers
    compose it into their own WITH chain."""
    if not meta.clustering:
        return None
    order = ", ".join(
        f"{c.name} {'ASC' if c.ascending else 'DESC'}" for c in meta.clustering
    )
    return f"CLUSTERING ORDER BY ({order})"


def _table_cql(registry, key) -> str:
    meta = registry.tables[key]
    qual = f"{key[0]}.{key[1]}" if key[0] else key[1]
    lines = []
    for f in meta.schema.fields:
        static = " STATIC" if f.name in meta.static_columns else ""
        lines.append(f"    {f.name} {meta.cql_type(f.name)}{static}")
    lines.append(f"    {_primary_key_text(meta)}")
    opts = []
    if (co := _clustering_order_option(meta)) is not None:
        opts.append(co)
    dttl = getattr(registry, "table_params", {}).get(key, {}).get("default_ttl", 0)
    if dttl:
        opts.append(f"default_time_to_live = {dttl}")
    return (
        f"CREATE TABLE {qual} (\n"
        + ",\n".join(lines)
        + "\n)"
        + (" WITH " + " AND ".join(opts) if opts else "")
        + ";"
    )


def _index_cql(im) -> str:
    from cassandra_pmem_spark.cql.ddl import index_target_text

    tqual = f"{im.table[0]}.{im.table[1]}" if im.table[0] else im.table[1]
    target = index_target_text(im)
    if im.custom_class:
        opts = getattr(im, "options", {}) or {}
        with_opts = (
            " WITH OPTIONS = {"
            + ", ".join(
                f"{_quote(k)}: {_quote(v)}" for k, v in sorted(opts.items())
            )
            + "}"
            if opts
            else ""
        )
        return (
            f"CREATE CUSTOM INDEX {im.name} ON {tqual} ({target}) "
            f"USING {_quote(im.custom_class)}{with_opts};"
        )
    return f"CREATE INDEX {im.name} ON {tqual} ({target});"


def _view_cql(registry, key) -> str:
    vm = registry.views[key]
    qual = f"{key[0]}.{key[1]}" if key[0] else key[1]
    bqual = f"{vm.base_key[0]}.{vm.base_key[1]}" if vm.base_key[0] else vm.base_key[1]
    # sorted: isnotnull is set-derived and str hashing varies per process —
    # canonical order keeps DESCRIBE output byte-stable across runs
    conds = [f"{c} IS NOT NULL" for c in sorted(vm.isnotnull)]
    conds.extend(f"{c} {op} {_quote(v)}" for c, op, v in vm.relations)
    where = " AND ".join(conds)
    return (
        f"CREATE MATERIALIZED VIEW {qual} AS\n"
        f"    SELECT {', '.join(vm.selected)} FROM {bqual}\n"
        f"    WHERE {where}\n"
        f"    {_primary_key_text(vm.meta)}"
        + (
            f" WITH {co}"
            if (co := _clustering_order_option(vm.meta)) is not None
            else ""
        )
        + ";"
    )


def _function_cql(key, fd) -> str:
    qual = f"{key[0]}.{fd.name}" if key[0] else fd.name
    args = ", ".join(f"{n} {t}" for n, t in fd.args)
    null_mode = "CALLED ON NULL INPUT" if fd.called_on_null else "RETURNS NULL ON NULL INPUT"
    body = fd.body.replace("'", "''")
    return (
        f"CREATE FUNCTION {qual} ({args}) {null_mode} RETURNS {fd.returns} "
        f"LANGUAGE sql AS '{body}';"
    )


def _aggregate_cql(key, ad) -> str:
    qual = f"{key[0]}.{ad.name}" if key[0] else ad.name
    out = (
        f"CREATE AGGREGATE {qual} ({', '.join(ad.arg_types)}) "
        f"SFUNC {ad.sfunc} STYPE {ad.stype}"
    )
    if ad.finalfunc:
        out += f" FINALFUNC {ad.finalfunc}"
    if ad.initcond_sql is not None:
        out += f" INITCOND {ad.initcond_sql}"
    return out + ";"


def _trigger_cql(key, name: str, cls: str) -> str:
    tqual = f"{key[0]}.{key[1]}" if key[0] else key[1]
    return f"CREATE TRIGGER {name} ON {tqual} USING {_quote(cls)};"


def _table_rows(registry, key) -> list[tuple]:
    """One table's rows: the CREATE TABLE, then its indexes, then its
    triggers (the driver metadata cqlsh renders includes trigger
    definitions alongside the table) — shared by DESCRIBE TABLE and the
    keyspace walk."""
    ks = key[0] or ""
    rows = [(ks, "table", key[1], _table_cql(registry, key))]
    for ikey in sorted(registry.indexes, key=lambda k: (k[0] or "", k[1])):
        im = registry.indexes[ikey]
        if im.table == key:
            rows.append((ks, "index", im.name, _index_cql(im)))
    for name, cls in sorted(registry.triggers.get(key, {}).items()):
        rows.append((ks, "trigger", name, _trigger_cql(key, name, cls)))
    return rows


def _keyspace_rows(registry, ks: str) -> list[tuple]:
    """All (keyspace, type, name, create_statement) rows for one keyspace,
    in paste order: keyspace, types (embedding order — a type referencing
    another comes after it), functions, aggregates, tables each followed
    by its indexes, then views."""
    rows = [(ks, "keyspace", ks, _keyspace_cql(registry.keyspaces[ks]))]
    ks_types = [
        t for t in sorted(registry.types)
        if (registry.type_keyspaces.get(t) or "") == ks
    ]
    emitted: set[str] = set()
    while ks_types:
        progressed = False
        for t in list(ks_types):
            if registry.embedded_types(t) <= emitted | (
                set(registry.types) - set(ks_types)
            ):
                rows.append((ks, "type", t, _type_cql(registry, t)))
                emitted.add(t)
                ks_types.remove(t)
                progressed = True
        if not progressed:  # defensive: embedding cycles cannot parse
            for t in ks_types:
                rows.append((ks, "type", t, _type_cql(registry, t)))
            break
    for key in sorted(registry.functions, key=lambda k: (k[0] or "", k[1])):
        if (key[0] or "") == ks:
            rows.append(
                (ks, "function", key[1], _function_cql(key, registry.functions[key]))
            )
    for key in sorted(registry.aggregates, key=lambda k: (k[0] or "", k[1])):
        if (key[0] or "") == ks:
            rows.append(
                (ks, "aggregate", key[1], _aggregate_cql(key, registry.aggregates[key]))
            )
    for key in sorted(registry.tables, key=lambda k: (k[0] or "", k[1])):
        if (key[0] or "") != ks:
            continue
        rows.extend(_table_rows(registry, key))
    for key in sorted(registry.views, key=lambda k: (k[0] or "", k[1])):
        if (key[0] or "") == ks:
            rows.append((ks, "materialized_view", key[1], _view_cql(registry, key)))
    return rows


def describe_rows(registry, target: str, current_keyspace: str | None) -> list[tuple]:
    """Rows for one DESCRIBE statement. `target` is the text after the
    DESCRIBE keyword (cqlsh grammar: SCHEMA | KEYSPACES | KEYSPACE [ks] |
    TABLES | TABLE t | TYPES | TYPE t | INDEX i | MATERIALIZED VIEW v |
    FUNCTIONS | FUNCTION f | AGGREGATES | AGGREGATE a)."""
    toks = target.strip().rstrip(";").split()
    if not toks:
        raise InvalidRequest("DESCRIBE what?")
    head = toks[0].lower()
    arg = toks[-1] if len(toks) > 1 else None

    def _resolve(ns, what: str):
        name = arg
        ks = None
        if name and "." in name:
            ks, name = name.split(".", 1)
        key = ns.resolve(name, keyspace=ks, current=current_keyspace, missing_ok=True)
        if key is None:
            raise InvalidRequest(f"{what} '{arg}' not found")
        return key

    if head == "schema":
        out: list[tuple] = []
        for ks in sorted(registry.keyspaces):
            out.extend(_keyspace_rows(registry, ks))
        return out
    if head == "keyspaces":
        return [
            (ks, "keyspace", ks, _keyspace_cql(registry.keyspaces[ks]))
            for ks in sorted(registry.keyspaces)
        ]
    if head == "keyspace":
        ks = arg or current_keyspace
        if ks is None or ks not in registry.keyspaces:
            raise InvalidRequest(f"keyspace {ks!r} not found")
        return _keyspace_rows(registry, ks)
    if head == "tables":
        return [
            (key[0] or "", "table", key[1], _table_cql(registry, key))
            for key in sorted(registry.tables, key=lambda k: (k[0] or "", k[1]))
        ]
    if head in ("table", "columnfamily"):
        key = _resolve(registry.tables, "table")
        return _table_rows(registry, key)
    if head == "types":
        return [
            (registry.type_keyspaces.get(t) or "", "type", t, _type_cql(registry, t))
            for t in sorted(registry.types)
        ]
    if head == "type":
        name = (arg or "").lower()
        if "." in name:
            ks_part, name = name.split(".", 1)
            if (registry.type_keyspaces.get(name) or "") != ks_part:
                raise InvalidRequest(f"type '{arg}' not found")
        if name not in registry.types:
            raise InvalidRequest(f"type '{arg}' not found")
        return [
            (registry.type_keyspaces.get(name) or "", "type", name,
             _type_cql(registry, name))
        ]
    if head == "index":
        key = _resolve(registry.indexes, "index")
        im = registry.indexes[key]
        return [(im.table[0] or "", "index", im.name, _index_cql(im))]
    if head == "materialized" or (head == "view" and len(toks) > 1):
        key = _resolve(registry.views, "materialized view")
        return [(key[0] or "", "materialized_view", key[1], _view_cql(registry, key))]
    if head == "functions":
        return [
            (key[0] or "", "function", key[1],
             _function_cql(key, registry.functions[key]))
            for key in sorted(registry.functions, key=lambda k: (k[0] or "", k[1]))
        ]
    if head == "function":
        key = _resolve(registry.functions, "function")
        return [
            (key[0] or "", "function", key[1],
             _function_cql(key, registry.functions[key]))
        ]
    if head == "aggregates":
        return [
            (key[0] or "", "aggregate", key[1],
             _aggregate_cql(key, registry.aggregates[key]))
            for key in sorted(registry.aggregates, key=lambda k: (k[0] or "", k[1]))
        ]
    if head == "aggregate":
        key = _resolve(registry.aggregates, "aggregate")
        return [
            (key[0] or "", "aggregate", key[1],
             _aggregate_cql(key, registry.aggregates[key]))
        ]
    raise InvalidRequest(f"cannot DESCRIBE {target!r}")
