"""Non-frozen (multi-cell) UDT write-path tests — the
test/unit/org/apache/cassandra/cql3/validation/entities/UserTypesTest.java
shapes: per-field SET/DELETE (cql3/UserTypes.java:371 SetterByField, :398
DeleterByField; grammar Parser.g:1539,1586 udtColumnOperation), full-value
writes as complex deletion + field cells, per-field liveness, frozen-UDT
rejections."""

from __future__ import annotations

import pytest

from cassandra_pmem_spark.cql.ddl import CqlDatabase
from cassandra_pmem_spark.cql.validator import InvalidRequest


@pytest.fixture()
def db(spark):
    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE uks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE uks")
    db.execute("CREATE TYPE addr (street text, city text, zip int)")
    db.execute("CREATE TABLE users (id int PRIMARY KEY, name text, a addr)")
    db.execute("CREATE TABLE fusers (id int PRIMARY KEY, a frozen<addr>)")
    return db


def rows(df, *cols):
    return sorted(tuple(r) for r in (df.select(*cols) if cols else df).collect())


class TestFieldWrites:
    def test_set_field_creates_cell(self, db):
        db.execute("INSERT INTO users (id, name) VALUES (1, 'ann')")
        db.execute("UPDATE users SET a.city = 'Rome' WHERE id = 1")
        r = db.execute("SELECT id, a FROM users").collect()
        assert [(x.id, tuple(x.a)) for x in r] == [(1, (None, "Rome", None))]

    def test_field_write_merges_with_full_value(self, db):
        db.execute(
            "INSERT INTO users (id, a) VALUES "
            "(1, {street: 'Main', city: 'Rome', zip: 7})"
        )
        db.execute("UPDATE users SET a.city = 'Oslo' WHERE id = 1")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == ("Main", "Oslo", 7)

    def test_full_write_is_complex_deletion_plus_cells(self, db):
        db.execute(
            "INSERT INTO users (id, a) VALUES "
            "(1, {street: 'Main', city: 'Rome', zip: 7})"
        )
        db.execute("UPDATE users SET a = {city: 'Oslo'} WHERE id = 1")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == (None, "Oslo", None)

    def test_old_timestamp_full_write_merges_surviving_cells(self, db):
        # complex deletion lands at wt-1: a field cell NEWER than the
        # full write's timestamp survives and merges into the struct
        db.execute("UPDATE users USING TIMESTAMP 100 SET a.zip = 9 WHERE id = 1")
        db.execute(
            "UPDATE users USING TIMESTAMP 50 SET a = {street: 'Low'} WHERE id = 1"
        )
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == ("Low", None, 9)

    def test_lww_between_field_writes(self, db):
        db.execute("UPDATE users USING TIMESTAMP 10 SET a.city = 'B' WHERE id = 1")
        db.execute("UPDATE users USING TIMESTAMP 5 SET a.city = 'A' WHERE id = 1")
        r = db.execute("SELECT a.city FROM users").collect()
        assert [x["a.city"] for x in r] == ["B"]

    def test_set_field_null_deletes_cell(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M', city: 'R'})")
        db.execute("UPDATE users SET a.street = null WHERE id = 1")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == (None, "R", None)

    def test_set_whole_udt_null_deletes_all_cells(self, db):
        db.execute("INSERT INTO users (id, name, a) VALUES (1, 'n', {city: 'R'})")
        db.execute("UPDATE users SET a = null WHERE id = 1")
        r = db.execute("SELECT id, name, a FROM users").collect()
        assert [(x.id, x.name, x.a) for x in r] == [(1, "n", None)]


class TestFieldDeletes:
    def test_delete_field_keeps_siblings(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M', city: 'R', zip: 7})")
        db.execute("DELETE a.city FROM users WHERE id = 1")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == ("M", None, 7)

    def test_delete_all_fields_nulls_column(self, db):
        db.execute("INSERT INTO users (id, name, a) VALUES (1, 'n', {city: 'R'})")
        db.execute("DELETE a.street, a.city, a.zip FROM users WHERE id = 1")
        r = db.execute("SELECT id, a FROM users").collect()
        assert [(x.id, x.a) for x in r] == [(1, None)]

    def test_delete_column_kills_field_cells(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M'})")
        db.execute("DELETE a FROM users WHERE id = 1")
        db.execute("UPDATE users SET a.zip = 1 WHERE id = 1")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == (None, None, 1)

    def test_reinsert_after_field_delete(self, db):
        db.execute("UPDATE users SET a.city = 'R' WHERE id = 1")
        db.execute("DELETE a.city FROM users WHERE id = 1")
        db.execute("UPDATE users SET a.city = 'S' WHERE id = 1")
        r = db.execute("SELECT a.city FROM users").collect()
        assert [x["a.city"] for x in r] == ["S"]


class TestLiveness:
    def test_writetime_is_field_indexed_list(self, db):
        db.execute("UPDATE users USING TIMESTAMP 11 SET a.zip = 1 WHERE id = 1")
        db.execute("UPDATE users USING TIMESTAMP 22 SET a.street = 'M' WHERE id = 1")
        r = db.execute("SELECT WRITETIME(a) AS w FROM users").collect()
        # declaration order street,city,zip — live cells only
        assert r[0].w == [22, 11]

    def test_writetime_of_single_field(self, db):
        db.execute("UPDATE users USING TIMESTAMP 33 SET a.city = 'R' WHERE id = 1")
        r = db.execute(
            "SELECT WRITETIME(a.city) AS wc, WRITETIME(a.zip) AS wz FROM users"
        ).collect()
        assert (r[0].wc, r[0].wz) == (33, None)

    def test_per_field_ttl(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M'})")
        db.execute("UPDATE users USING TTL 100 SET a.city = 'R' WHERE id = 1")
        r = db.execute("SELECT TTL(a.city) AS tc, TTL(a.street) AS ts FROM users").collect()
        assert r[0].tc is not None and r[0].tc > 0
        assert r[0].ts is None

    def test_row_stays_visible_through_field_cell(self, db):
        # UPDATE-created row: visible only through its live field cell
        db.execute("UPDATE users SET a.city = 'R' WHERE id = 9")
        assert rows(db.execute("SELECT id FROM users")) == [(9,)]
        db.execute("DELETE a.city FROM users WHERE id = 9")
        assert rows(db.execute("SELECT id FROM users")) == []


class TestValidation:
    def test_frozen_udt_rejects_field_set(self, db):
        with pytest.raises(InvalidRequest, match="frozen"):
            db.execute("UPDATE fusers SET a.city = 'R' WHERE id = 1")

    def test_frozen_udt_rejects_field_delete(self, db):
        with pytest.raises(InvalidRequest, match="frozen"):
            db.execute("DELETE a.city FROM fusers WHERE id = 1")

    def test_frozen_udt_full_write_ok(self, db):
        db.execute("INSERT INTO fusers (id, a) VALUES (1, {street: 'M', zip: 3})")
        r = db.execute("SELECT a FROM fusers").collect()
        assert tuple(r[0].a) == ("M", None, 3)

    def test_unknown_field_rejected(self, db):
        with pytest.raises(InvalidRequest, match="field"):
            db.execute("UPDATE users SET a.nope = 'R' WHERE id = 1")
        with pytest.raises(InvalidRequest, match="field"):
            db.execute("DELETE a.nope FROM users WHERE id = 1")

    def test_unknown_field_in_literal_rejected(self, db):
        with pytest.raises(InvalidRequest, match="[Ff]ield"):
            db.execute("INSERT INTO users (id, a) VALUES (1, {bogus: 'x'})")

    def test_field_op_on_non_udt_rejected(self, db):
        with pytest.raises(InvalidRequest, match="not a user type"):
            db.execute("UPDATE users SET name.x = 'R' WHERE id = 1")

    def test_mistyped_field_value_rejected(self, db):
        with pytest.raises(InvalidRequest, match="Invalid"):
            db.execute("UPDATE users SET a.zip = 'not-an-int' WHERE id = 1")

    def test_udt_literal_on_map_column_rejected(self, db):
        db.execute("CREATE TABLE mt (id int PRIMARY KEY, m map<text,int>)")
        with pytest.raises(InvalidRequest, match="udt literal"):
            db.execute("UPDATE mt SET m = {k: 1} WHERE id = 1")


class TestAlterType:
    """AlterTypeStatement.java:44 — ADD (null back-fill), RENAME,
    field-type alteration removed in 4.0 (CASSANDRA-14426)."""

    def test_add_field_backfills_null(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M'})")
        db.execute("ALTER TYPE addr ADD country text")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == ("M", None, None, None)
        db.execute("UPDATE users SET a.country = 'NO' WHERE id = 1")
        r = db.execute("SELECT a.country FROM users").collect()
        assert [x["a.country"] for x in r] == ["NO"]

    def test_rename_preserves_cells_and_liveness(self, db):
        db.execute("UPDATE users USING TIMESTAMP 44 SET a.city = 'R' WHERE id = 1")
        db.execute("ALTER TYPE addr RENAME city TO town")
        r = db.execute(
            "SELECT a.town AS t, writetime(a.town) AS w FROM users"
        ).collect()
        assert (r[0].t, r[0].w) == ("R", 44)

    def test_rename_multi_and(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M', zip: 7})")
        db.execute("ALTER TYPE addr RENAME street TO road AND zip TO code")
        r = db.execute("SELECT a.road AS r, a.code AS c FROM users").collect()
        assert (r[0].r, r[0].c) == ("M", 7)

    def test_alter_field_type_rejected(self, db):
        with pytest.raises(InvalidRequest, match="no longer supported"):
            db.execute("ALTER TYPE addr ALTER zip TYPE text")

    def test_rename_unknown_field_rejected(self, db):
        with pytest.raises(InvalidRequest, match="unknown field"):
            db.execute("ALTER TYPE addr RENAME nope TO x")

    def test_add_duplicate_field_rejected(self, db):
        with pytest.raises(InvalidRequest, match="already exists"):
            db.execute("ALTER TYPE addr ADD city text")

    def test_unknown_type_rejected(self, db):
        with pytest.raises(InvalidRequest, match="unknown type"):
            db.execute("ALTER TYPE nosuch ADD f int")

    def test_rename_collision_rejected(self, db):
        with pytest.raises(InvalidRequest, match="duplicate"):
            db.execute("ALTER TYPE addr RENAME street TO city")

    @pytest.mark.parametrize("table", ["users", "fusers"])
    def test_base_and_buffer_follow_rename_then_add(self, db, table):
        # both ALTERs move the base frame too: its struct follows the
        # rename, gains the added field, and a null value stays null
        sess = db._session(("uks", table))
        base = [(1, {"street": "M", "city": "R", "zip": 7}), (2, None)]
        if table == "users":
            base = [(k, "n", a) for k, a in base]
        sess.base = db.spark.createDataFrame(base, sess.meta.schema)
        db.execute(f"INSERT INTO {table} (id, a) VALUES (3, {{street: 'S', zip: 9}})")
        db.execute("ALTER TYPE addr RENAME street TO road")
        db.execute("ALTER TYPE addr ADD country text")
        got = rows(db.execute(f"SELECT id, a FROM {table}"))
        assert [(k, a and tuple(a)) for k, a in got] == [
            (1, ("M", "R", 7, None)),
            (2, None),
            (3, ("S", None, 9, None)),
        ]
        assert rows(db.execute(f"SELECT id, a.road FROM {table} WHERE id = 1")) == [
            (1, "M")
        ]


class TestDropTypeAndFrozenRename:
    def test_drop_type_in_use_rejected(self, db):
        with pytest.raises(InvalidRequest, match="still used by table"):
            db.execute("DROP TYPE addr")

    def test_drop_unused_type_ok(self, db):
        db.execute("CREATE TYPE orphan (x int)")
        db.execute("DROP TYPE orphan")
        assert "orphan" not in db.registry.types

    def test_drop_type_after_table_drop_ok(self, db):
        db.execute("DROP TABLE users")
        db.execute("DROP TABLE fusers")
        db.execute("DROP TYPE addr")
        assert "addr" not in db.registry.types

    def test_frozen_udt_rename_remaps_buffered_cells(self, db):
        db.execute("INSERT INTO fusers (id, a) VALUES (1, {street: 'M', zip: 7})")
        db.execute("ALTER TYPE addr RENAME street TO road")
        r = db.execute("SELECT a.road AS r, a.zip AS z FROM fusers").collect()
        assert (r[0].r, r[0].z) == ("M", 7)


class TestUdtFieldConditions:
    """Parser.g:1609 udtFieldCondition — IF u.f op v [IN ...]."""

    def test_field_condition_applies(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {city: 'R', zip: 7})")
        ok = db.execute(
            "UPDATE users SET name = 'hit' WHERE id = 1 IF a.city = 'R'"
        )
        assert ok
        r = db.execute("SELECT name FROM users").collect()
        assert [x.name for x in r] == ["hit"]

    def test_field_condition_fails(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {city: 'R'})")
        ok = db.execute(
            "UPDATE users SET name = 'x' WHERE id = 1 IF a.zip = 9"
        )
        assert not ok  # zip cell is null, = non-null fails

    def test_field_condition_null_compare(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {city: 'R'})")
        assert db.execute(
            "UPDATE users SET name = 'y' WHERE id = 1 IF a.zip = null"
        )

    def test_field_in_condition(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {zip: 5})")
        assert db.execute(
            "UPDATE users SET name = 'z' WHERE id = 1 IF a.zip IN (4, 5)"
        )
        assert not db.execute(
            "UPDATE users SET name = 'w' WHERE id = 1 IF a.zip IN (7, 8)"
        )

    def test_unknown_field_in_condition_rejected(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {zip: 5})")
        with pytest.raises(InvalidRequest, match="field"):
            db.execute("UPDATE users SET name = 'q' WHERE id = 1 IF a.nope = 1")

    def test_field_condition_on_non_udt_rejected(self, db):
        db.execute("INSERT INTO users (id, name) VALUES (1, 'n')")
        with pytest.raises(InvalidRequest, match="not a user type"):
            db.execute("UPDATE users SET name = 'q' WHERE id = 1 IF name.x = 1")


class TestReviewRound9:
    """Round-9 self-review findings: bound whole-UDT updates, nested type
    references, frozen-UDT field liveness/validation, sequential RENAME."""

    def test_bound_udt_update_decomposes(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M', zip: 7})")
        db.execute(
            "UPDATE users SET a = ? WHERE id = 1",
            [{"city": "C"}],
        )
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == (None, "C", None)

    def test_bound_udt_update_creates_row(self, db):
        db.execute("UPDATE users SET a = ? WHERE id = 5", [{"street": "S"}])
        r = db.execute("SELECT id, a FROM users").collect()
        assert [(x.id, tuple(x.a)) for x in r] == [(5, ("S", None, None))]

    def test_bound_non_dict_rejected(self, db):
        with pytest.raises(InvalidRequest, match="Invalid"):
            db.execute("UPDATE users SET a = ? WHERE id = 1", [42])

    def test_drop_type_nested_in_collection_rejected(self, db):
        db.execute("CREATE TABLE lc (id int PRIMARY KEY, xs list<frozen<addr>>)")
        with pytest.raises(InvalidRequest, match="still used"):
            db.execute("DROP TYPE addr")
        db.execute("DROP TABLE lc")
        db.execute("DROP TABLE users")
        db.execute("DROP TABLE fusers")
        db.execute("DROP TYPE addr")  # now unreferenced

    def test_alter_type_nested_usage_rejected_atomically(self, db):
        db.execute("CREATE TABLE mc (id int PRIMARY KEY, m map<text, frozen<addr>>)")
        with pytest.raises(InvalidRequest, match="inside a collection"):
            db.execute("ALTER TYPE addr ADD country text")
        # registry must be untouched by the failed ALTER
        assert "country" not in db.registry.types["addr"].fieldNames()
        assert "street" in db.registry.tables[("uks", "users")].schema["a"].dataType.fieldNames()

    def test_frozen_udt_field_writetime(self, db):
        db.execute("INSERT INTO fusers (id, a) VALUES (1, {street: 'M'})")
        r = db.execute(
            "SELECT WRITETIME(a.street) AS ws, WRITETIME(a.zip) AS wz FROM fusers"
        ).collect()
        assert r[0].ws == 1 and r[0].wz is None  # zip field is null: no value

    def test_frozen_udt_unknown_field_writetime_rejected(self, db):
        db.execute("INSERT INTO fusers (id, a) VALUES (1, {street: 'M'})")
        with pytest.raises(InvalidRequest, match="field"):
            db.execute("SELECT WRITETIME(a.nope) FROM fusers")

    def test_frozen_udt_field_type_validated(self, db):
        with pytest.raises(InvalidRequest, match="Invalid"):
            db.execute("INSERT INTO fusers (id, a) VALUES (1, {street: 5})")
        with pytest.raises(InvalidRequest, match="[Ff]ield"):
            db.execute("INSERT INTO fusers (id, a) VALUES (1, {bogus: 'x'})")

    def test_rename_same_source_twice_rejected(self, db):
        with pytest.raises(InvalidRequest, match="unknown field"):
            db.execute("ALTER TYPE addr RENAME street TO road AND street TO lane")

    def test_rename_chain_composes(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M'})")
        db.execute("ALTER TYPE addr RENAME street TO road AND road TO lane")
        r = db.execute("SELECT a.lane AS v FROM users").collect()
        assert [x.v for x in r] == ["M"]


class TestUdtJson:
    def test_insert_json_decomposes_udt(self, db):
        db.execute(
            'INSERT INTO users JSON \'{"id": 1, "a": {"street": "M", "zip": 7}}\''
        )
        r = db.execute("SELECT id, a FROM users").collect()
        assert [(x.id, tuple(x.a)) for x in r] == [(1, ("M", None, 7))]
        # field cells carry their own liveness even from the JSON path
        db.execute("DELETE a.street FROM users WHERE id = 1")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == (None, None, 7)

    def test_select_json_serializes_udt(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {zip: 5})")
        r = db.execute("SELECT JSON id, a FROM users").collect()
        import json

        row = json.loads(r[0]["[json]"])
        # engine-wide SELECT JSON convention (cql_select_json oracle):
        # null fields are omitted from the serialized object
        assert row["a"] == {"zip": 5}


class TestReviewRound9b:
    """Second self-review pass: statement rollback, stale bookkeeping,
    type-in-type refs, nested type text, JSON/batch named markers."""

    def test_rejected_bound_udt_write_applies_nothing(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M', zip: 7})")
        with pytest.raises(InvalidRequest):
            db.execute("UPDATE users SET a = ? WHERE id = 1", [{"street": 99}])
        with pytest.raises(InvalidRequest):
            db.execute("UPDATE users SET a = ? WHERE id = 1", [{"bogus": 1}])
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == ("M", None, 7)  # tombstone rolled back

    def test_rejected_udt_literal_insert_applies_nothing(self, db):
        db.execute("INSERT INTO users (id, a) VALUES (1, {street: 'M'})")
        with pytest.raises(InvalidRequest):
            db.execute("INSERT INTO users (id, a) VALUES (1, {zip: 'oops'})")
        r = db.execute("SELECT a FROM users").collect()
        assert tuple(r[0].a) == ("M", None, None)

    def test_failed_alter_add_leaves_no_stale_refs(self, db):
        db.execute("CREATE TABLE t9 (id int PRIMARY KEY, v int)")
        with pytest.raises(InvalidRequest, match="already exists"):
            db.execute("ALTER TABLE t9 ADD v list<frozen<addr>>")
        db.execute("DROP TABLE users")
        db.execute("DROP TABLE fusers")
        db.execute("DROP TYPE addr")  # must not be blocked by stale refs

    def test_drop_type_embedded_in_type_rejected(self, db):
        db.execute("CREATE TYPE outer_t (i frozen<addr>)")
        db.execute("DROP TABLE users")
        db.execute("DROP TABLE fusers")
        with pytest.raises(InvalidRequest, match="used by user type"):
            db.execute("DROP TYPE addr")
        db.execute("DROP TYPE outer_t")
        db.execute("DROP TYPE addr")

    def test_alter_type_embedded_rejected(self, db):
        db.execute("CREATE TYPE outer2 (i frozen<addr>)")
        with pytest.raises(InvalidRequest, match="embeds it"):
            db.execute("ALTER TYPE addr ADD extra int")

    def test_system_schema_nested_type_text(self, db):
        db.execute(
            "CREATE TABLE nst (id int PRIMARY KEY, xs list<frozen<addr>>, "
            "m map<text, frozen<set<int>>>)"
        )
        rows = {
            r.column_name: r.type
            for r in db.execute(
                "SELECT column_name, type FROM system_schema.columns "
                "WHERE table_name = 'nst' ALLOW FILTERING"
            ).collect()
        }
        assert rows["xs"] == "list<frozen<addr>>"
        assert rows["m"] == "map<text, frozen<set<int>>>"

    def test_system_schema_types_keyspace(self, db):
        r = db.execute(
            "SELECT keyspace_name, type_name FROM system_schema.types"
        ).collect()
        assert [(x.keyspace_name, x.type_name) for x in r] == [("uks", "addr")]

    def test_insert_json_named_marker(self, db):
        db.execute("INSERT INTO users JSON :row", {"row": '{"id": 3, "name": "j"}'})
        r = db.execute("SELECT id, name FROM users").collect()
        assert [(x.id, x.name) for x in r] == [(3, "j")]

    def test_insert_json_positional_with_dict_rejected(self, db):
        with pytest.raises(InvalidRequest, match="positional"):
            db.execute("INSERT INTO users JSON ?", {"row": "{}"})

    def test_batch_timestamp_named_marker(self, db):
        db.execute("CREATE TABLE bt (k int PRIMARY KEY, v int)")
        db.execute(
            "BEGIN BATCH USING TIMESTAMP :ts "
            "INSERT INTO bt (k, v) VALUES (1, 1); "
            "APPLY BATCH",
            {"ts": 777},
        )
        r = db.execute("SELECT writetime(v) AS w FROM bt").collect()
        assert [x.w for x in r] == [777]
