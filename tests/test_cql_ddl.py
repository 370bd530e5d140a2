"""CQL DDL tests — CREATE KEYSPACE / TABLE / TYPE / INDEX, ALTER, DROP,
mirroring the acceptance/rejection patterns of the reference's
cql3/validation/operations CreateTest.java and AlterTest.java, plus the
full text path (DDL → DML → SELECT) through CqlDatabase."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from cassandra_pmem_spark.cql.ddl import CqlDatabase, SchemaRegistry
from cassandra_pmem_spark.cql.validator import InvalidRequest


@pytest.fixture()
def reg():
    return SchemaRegistry()


class TestCreateTable:
    def test_inline_single_pk(self, reg):
        reg.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
        m = reg.tables["t"]
        assert m.partition_key == ("k",)
        assert m.clustering == ()
        assert [f.name for f in m.schema.fields] == ["k", "v"]

    def test_composite_pk_and_clustering_order(self, reg):
        reg.execute(
            "CREATE TABLE t (p1 int, p2 int, c1 bigint, c2 text, v double, "
            "PRIMARY KEY ((p1, p2), c1, c2)) "
            "WITH CLUSTERING ORDER BY (c1 DESC, c2 ASC)"
        )
        m = reg.tables["t"]
        assert m.partition_key == ("p1", "p2")
        assert [(c.name, c.ascending) for c in m.clustering] == [("c1", False), ("c2", True)]

    def test_static_column(self, reg):
        reg.execute("CREATE TABLE t (k int, c int, s text static, v int, PRIMARY KEY (k, c))")
        assert reg.tables["t"].static_columns == ("s",)

    def test_collection_and_tuple_types(self, reg):
        reg.execute(
            "CREATE TABLE t (k int PRIMARY KEY, tags set<text>, m map<text, bigint>, "
            "pair tuple<int, text>, nested list<frozen<list<int>>>)"
        )
        s = {f.name: f.dataType for f in reg.tables["t"].schema.fields}
        assert s["tags"] == T.ArrayType(T.StringType())
        assert s["m"] == T.MapType(T.StringType(), T.LongType())
        assert isinstance(s["pair"], T.StructType)
        assert s["nested"] == T.ArrayType(T.ArrayType(T.IntegerType()))

    def test_udt_column(self, reg):
        reg.execute("CREATE TYPE addr (street text, zip int)")
        reg.execute("CREATE TABLE t (k int PRIMARY KEY, a frozen<addr>)")
        a = {f.name: f.dataType for f in reg.tables["t"].schema.fields}["a"]
        assert [f.name for f in a.fields] == ["street", "zip"]

    def test_if_not_exists(self, reg):
        reg.execute("CREATE TABLE t (k int PRIMARY KEY)")
        reg.execute("CREATE TABLE IF NOT EXISTS t (k int PRIMARY KEY)")  # no-op
        with pytest.raises(InvalidRequest, match="already exists"):
            reg.execute("CREATE TABLE t (k int PRIMARY KEY)")

    # rejection cases (CreateTest.java patterns)

    def test_no_primary_key_rejected(self, reg):
        with pytest.raises(InvalidRequest, match="PRIMARY KEY"):
            reg.execute("CREATE TABLE t (k int, v text)")

    def test_undeclared_pk_column_rejected(self, reg):
        with pytest.raises(InvalidRequest, match="not declared"):
            reg.execute("CREATE TABLE t (k int, v text, PRIMARY KEY (zz))")

    def test_static_key_column_rejected(self, reg):
        with pytest.raises(InvalidRequest, match="static"):
            reg.execute("CREATE TABLE t (k int, c int static, PRIMARY KEY (k, c))")

    def test_clustering_order_on_non_clustering_rejected(self, reg):
        with pytest.raises(InvalidRequest, match="CLUSTERING ORDER"):
            reg.execute(
                "CREATE TABLE t (k int, c int, v int, PRIMARY KEY (k, c)) "
                "WITH CLUSTERING ORDER BY (v DESC)"
            )

    def test_unknown_type_rejected(self, reg):
        with pytest.raises(InvalidRequest, match="unknown type"):
            reg.execute("CREATE TABLE t (k int PRIMARY KEY, v sometype)")


class TestKeyspaceTypeIndex:
    def test_keyspace_replication(self, reg):
        reg.execute(
            "CREATE KEYSPACE ks WITH REPLICATION = "
            "{'class': 'NetworkTopologyStrategy', 'dc1': 3} AND DURABLE_WRITES = true"
        )
        ks = reg.keyspaces["ks"]
        assert ks.replication["class"] == "NetworkTopologyStrategy"
        assert ks.replication["dc1"] == 3

    def test_type_duplicate_rejected(self, reg):
        reg.execute("CREATE TYPE addr (street text)")
        with pytest.raises(InvalidRequest, match="already exists"):
            reg.execute("CREATE TYPE addr (street text)")

    def test_index_requires_table(self, reg):
        with pytest.raises(InvalidRequest, match="unknown table"):
            reg.execute("CREATE INDEX ON missing (v)")

    def test_custom_index(self, reg):
        reg.execute("CREATE TABLE t (k int PRIMARY KEY, v text)")
        reg.execute(
            "CREATE CUSTOM INDEX v_sasi ON t (v) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex'"
        )
        assert reg.indexes["v_sasi"].custom_class.endswith("SASIIndex")

    def test_drop_if_exists(self, reg):
        reg.execute("DROP TABLE IF EXISTS nope")  # no-op
        with pytest.raises(InvalidRequest, match="unknown table"):
            reg.execute("DROP TABLE nope")


class TestAlter:
    def test_add_and_drop_column(self, reg):
        reg.execute("CREATE TABLE t (k int PRIMARY KEY, v text)")
        reg.execute("ALTER TABLE t ADD extra double")
        assert "extra" in {f.name for f in reg.tables["t"].schema.fields}
        reg.execute("ALTER TABLE t DROP extra")
        assert "extra" not in {f.name for f in reg.tables["t"].schema.fields}

    def test_drop_pk_column_rejected(self, reg):
        reg.execute("CREATE TABLE t (k int PRIMARY KEY, v text)")
        with pytest.raises(InvalidRequest, match="PRIMARY KEY"):
            reg.execute("ALTER TABLE t DROP k")

    def test_rename_only_pk_allowed(self, reg):
        reg.execute("CREATE TABLE t (k int, c int, v text, PRIMARY KEY (k, c))")
        reg.execute("ALTER TABLE t RENAME c TO c2")
        assert reg.tables["t"].primary_key == ("k", "c2")
        with pytest.raises(InvalidRequest, match="PRIMARY KEY"):
            reg.execute("ALTER TABLE t RENAME v TO v2")


class TestCqlDatabase:
    def test_ddl_dml_select_roundtrip(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute(
            "CREATE TABLE ks.scores (team text, player bigint, points bigint, "
            "PRIMARY KEY (team, player)) WITH CLUSTERING ORDER BY (player ASC)"
        )
        db.execute("INSERT INTO scores (team, player, points) VALUES ('red', 1, 10)")
        db.execute("INSERT INTO scores (team, player, points) VALUES ('red', 2, 20)")
        db.execute(
            "BEGIN BATCH "
            "INSERT INTO scores (team, player, points) VALUES ('blue', 1, 5); "
            "UPDATE scores SET points = 30 WHERE team = 'red' AND player = 2; "
            "APPLY BATCH"
        )
        out = db.execute("SELECT player, points FROM scores WHERE team = 'red'")
        assert sorted(tuple(r) for r in out.collect()) == [(1, 10), (2, 30)]

    def test_writetime_and_ttl_selectors_on_db_tables(self, spark):
        """SELECT writetime(col) / ttl(col) on a DDL table reads the
        per-cell liveness shadows (previously the merged frame dropped
        them and the selector crashed): cell-granular writetimes survive
        partial updates, TTL is the remaining liveness at read time, and
        expired cells vanish from statement SELECTs."""
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE wts WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE wts.t (k bigint PRIMARY KEY, v bigint, w text)")
        db.execute("INSERT INTO t (k, v, w) VALUES (1, 10, 'a') USING TIMESTAMP 111")
        db.execute("INSERT INTO t (k, v) VALUES (1, 20) USING TIMESTAMP 222")
        got = {
            r.k: (r["writetime(v)"], r["writetime(w)"])
            for r in db.execute("SELECT k, writetime(v), writetime(w) FROM t").collect()
        }
        # v's cell was rewritten at 222; w keeps its original 111
        assert got == {1: (222, 111)}
        db.execute("INSERT INTO t (k, v) VALUES (2, 30) USING TTL 100")
        ttls = {
            r.k: r["ttl(v)"] for r in db.execute("SELECT k, ttl(v) FROM t").collect()
        }
        assert ttls[1] is None  # no TTL ⇒ NULL (SelectTest.java)
        assert 0 < ttls[2] <= 100
        # star must not leak the shadow columns
        assert db.execute("SELECT * FROM t").columns == ["k", "v", "w"]
        # a cell past its expiry vanishes at read time
        db.execute("INSERT INTO t (k, v) VALUES (3, 99) USING TTL 1")
        for _ in range(3):
            db.execute("INSERT INTO t (k, v) VALUES (4, 1)")
        assert 3 not in {r.k for r in db.execute("SELECT k FROM t").collect()}

    def test_uuid_pk_tokens_use_wire_form(self, spark):
        """A DDL-created table with a uuid partition key must hash the
        UUIDType 16-byte wire form (msb||lsb), NOT the 36-char text —
        TableMeta.cql_key_types carries the type name Spark's StringType
        erases, and both the token() selector and relation honor it."""
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE uks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE uks.u (id uuid PRIMARY KEY, v bigint)")
        uuids = [
            "6ba7b810-9dad-11d1-80b4-00c04fd430c8",
            "123e4567-e89b-12d3-a456-426614174000",
            "00000000-0000-0000-0000-000000000001",
        ]
        for i, u in enumerate(uuids):
            db.execute(f"INSERT INTO u (id, v) VALUES ('{u}', {i})")
        got = {
            r.id: r.token
            for r in db.execute("SELECT id, token(id) FROM u").collect()
        }
        want = {
            u: murmur3_token_bytes_py(bytes.fromhex(u.replace("-", "")))
            for u in uuids
        }
        assert got == want
        # the token relation routes through the same wire form
        tmin = min(want.values())
        keep = {u for u, t in want.items() if t > tmin}
        rows = db.execute(f"SELECT id FROM u WHERE token(id) > {tmin}").collect()
        assert {r.id for r in rows} == keep

    def test_alter_keeps_buffered_writes(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
        db.execute("INSERT INTO t (k, v) VALUES (1, 'x')")
        db.execute("ALTER TABLE t ADD extra bigint")
        out = db.execute("SELECT k, v, extra FROM t WHERE k = 1")
        assert [tuple(r) for r in out.collect()] == [(1, "x", None)]

    def test_select_unknown_table_rejected(self, spark):
        db = CqlDatabase(spark)
        with pytest.raises(InvalidRequest, match="unknown table"):
            db.execute("SELECT * FROM ghosts")


class TestQualifiedDmlAndCascade:
    def test_qualified_dml_targets_resolve_to_table(self, spark):
        # INSERT INTO ks.t / UPDATE ks.t / DELETE FROM ks.t / TRUNCATE ks.t
        # must route to the TABLE (ks.t tokenizes as ident '.' ident)
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE ks.qt (k bigint PRIMARY KEY, v bigint)")
        db.execute("INSERT INTO ks.qt (k, v) VALUES (1, 10)")
        db.execute("UPDATE ks.qt SET v = 20 WHERE k = 1")
        db.execute("INSERT INTO ks.qt (k, v) VALUES (2, 2)")
        db.execute("DELETE FROM ks.qt WHERE k = 2")
        out = db.execute("SELECT k, v FROM ks.qt")
        assert [tuple(r) for r in out.collect()] == [(1, 20)]
        db.execute("TRUNCATE ks.qt")
        assert db.execute("SELECT k, v FROM ks.qt").count() == 0

    def test_truncate_table_noise_word(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE TABLE nt (k bigint PRIMARY KEY)")
        db.execute("INSERT INTO nt (k) VALUES (1)")
        db.execute("TRUNCATE TABLE nt")
        assert db.execute("SELECT k FROM nt").count() == 0

    def test_drop_table_cascades_indexes(self, reg):
        reg.execute("CREATE TABLE ct (k bigint PRIMARY KEY, v text)")
        reg.execute("CREATE INDEX v_idx ON ct (v)")
        assert "v_idx" in reg.indexes
        reg.execute("DROP TABLE ct")
        assert "v_idx" not in reg.indexes
        assert "ct" not in reg.tables

    def test_drop_keyspace_cascades_tables_and_indexes(self, reg):
        reg.execute("CREATE KEYSPACE ks1 WITH REPLICATION = {'class': 'SimpleStrategy'}")
        reg.execute("CREATE TABLE ks1.a (k bigint PRIMARY KEY, v text)")
        reg.execute("CREATE INDEX a_idx ON a (v)")
        reg.execute("CREATE TABLE unqualified (k bigint PRIMARY KEY)")
        reg.execute("DROP KEYSPACE ks1")
        assert "a" not in reg.tables
        assert "a_idx" not in reg.indexes
        assert "unqualified" in reg.tables  # not a member — survives

    def test_rename_refusal_rolls_back_registry(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE TABLE rt (k bigint PRIMARY KEY, v text)")
        db.execute("INSERT INTO rt (k, v) VALUES (1, 'x')")  # buffered write
        with pytest.raises(InvalidRequest, match="RENAME"):
            db.execute("ALTER TABLE rt RENAME k TO k2")
        # registry rolled back: the OLD pk name still works end-to-end
        assert db.registry.table("rt").primary_key == ("k",)
        out = db.execute("SELECT k, v FROM rt WHERE k = 1")
        assert [tuple(r) for r in out.collect()] == [(1, "x")]


class TestUseKeyspace:
    """USE statement (cql3/statements/UseStatement.java; UseTest.java)."""

    def test_use_unknown_keyspace_rejected(self, spark):
        db = CqlDatabase(spark)
        with pytest.raises(InvalidRequest, match="unknown keyspace"):
            db.execute("USE nope")

    def test_use_scopes_unqualified_creates_for_cascade(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ksu WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE ksu")
        db.execute("CREATE TABLE scoped (k bigint PRIMARY KEY, v text)")
        assert ("ksu", "scoped") in db.registry.tables
        db.execute("DROP KEYSPACE ksu")
        assert "scoped" not in db.registry.tables

    def test_use_bad_arity_rejected(self, spark):
        db = CqlDatabase(spark)
        with pytest.raises(InvalidRequest, match="exactly one"):
            db.execute("USE a b")

    def test_pre_use_tables_stay_unscoped(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE TABLE before_use (k bigint PRIMARY KEY)")
        db.execute("CREATE KEYSPACE ksv WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE ksv")
        db.execute("CREATE TABLE after_use (k bigint PRIMARY KEY)")
        db.execute("DROP KEYSPACE ksv")
        assert "before_use" in db.registry.tables
        assert "after_use" not in db.registry.tables


class TestMultiTableBatch:
    """Multi-table BATCH through CqlDatabase: one coordinator timestamp
    across table sessions, the full BatchStatement validation matrix, and
    the cross-table condition rule (BatchStatement.java:234)."""

    def _db(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE TABLE t1 (k bigint PRIMARY KEY, v text)")
        db.execute("CREATE TABLE t2 (k bigint PRIMARY KEY, v text)")
        return db

    def test_multi_table_batch_applies_all(self, spark):
        db = self._db(spark)
        db.execute(
            "BEGIN BATCH "
            "INSERT INTO t1 (k, v) VALUES (1, 'a'); "
            "INSERT INTO t2 (k, v) VALUES (2, 'b'); "
            "UPDATE t1 SET v = 'a2' WHERE k = 3; "
            "APPLY BATCH"
        )
        assert sorted(tuple(r) for r in db.execute("SELECT k, v FROM t1").collect()) == [
            (1, "a"),
            (3, "a2"),
        ]
        assert [tuple(r) for r in db.execute("SELECT k, v FROM t2").collect()] == [(2, "b")]

    def test_shared_coordinator_clock_orders_across_tables(self, spark):
        db = self._db(spark)
        # batch at the shared tick; a LATER single-statement write to the
        # other table ticks higher on the same clock and outranks it
        db.execute(
            "BEGIN BATCH "
            "INSERT INTO t1 (k, v) VALUES (1, 'old'); "
            "INSERT INTO t2 (k, v) VALUES (1, 'old'); "
            "APPLY BATCH"
        )
        db.execute("INSERT INTO t1 (k, v) VALUES (1, 'new')")
        db.execute(
            "BEGIN BATCH "
            "INSERT INTO t1 (k, v) VALUES (9, 'x'); "
            "DELETE FROM t2 WHERE k = 1; "
            "APPLY BATCH"
        )
        assert sorted(tuple(r) for r in db.execute("SELECT k, v FROM t1").collect()) == [
            (1, "new"),
            (9, "x"),
        ]
        assert db.execute("SELECT k, v FROM t2").collect() == []

    def test_conditions_cannot_span_tables(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="cannot span multiple tables"):
            db.execute(
                "BEGIN BATCH "
                "INSERT INTO t1 (k, v) VALUES (1, 'a') IF NOT EXISTS; "
                "INSERT INTO t2 (k, v) VALUES (2, 'b'); "
                "APPLY BATCH"
            )

    def test_rejected_multi_table_batch_applies_nothing(self, spark):
        db = self._db(spark)
        db.execute("CREATE TABLE tc (k bigint PRIMARY KEY, n counter)")
        with pytest.raises(InvalidRequest, match="cannot exist in the same batch"):
            db.execute(
                "BEGIN BATCH "
                "INSERT INTO t1 (k, v) VALUES (1, 'a'); "
                "UPDATE tc SET n = n + 1 WHERE k = 1; "
                "APPLY BATCH"
            )
        assert db.execute("SELECT k, v FROM t1").collect() == []
        assert db.execute("SELECT k, n FROM tc").collect() == []

    def test_multi_table_batch_with_explicit_timestamp(self, spark):
        db = self._db(spark)
        db.execute(
            "BEGIN BATCH USING TIMESTAMP 100 "
            "INSERT INTO t1 (k, v) VALUES (1, 'batch100'); "
            "INSERT INTO t2 (k, v) VALUES (1, 'batch100'); "
            "APPLY BATCH"
        )
        # an older explicit timestamp loses in BOTH tables
        db.execute("INSERT INTO t1 (k, v) VALUES (1, 'older') USING TIMESTAMP 50")
        db.execute("INSERT INTO t2 (k, v) VALUES (1, 'older') USING TIMESTAMP 50")
        assert [r.v for r in db.execute("SELECT v FROM t1").collect()] == ["batch100"]
        assert [r.v for r in db.execute("SELECT v FROM t2").collect()] == ["batch100"]

    def test_bind_markers_span_tables(self, spark):
        db = self._db(spark)
        db.execute(
            "BEGIN BATCH "
            "INSERT INTO t1 (k, v) VALUES (?, ?); "
            "INSERT INTO t2 (k, v) VALUES (?, ?); "
            "APPLY BATCH",
            params=[1, "one", 2, "two"],
        )
        assert [tuple(r) for r in db.execute("SELECT k, v FROM t1").collect()] == [(1, "one")]
        assert [tuple(r) for r in db.execute("SELECT k, v FROM t2").collect()] == [(2, "two")]


class TestKeyspaceScopedNamespace:
    """Tables keyed by (keyspace, name) — schema/KeyspaceMetadata.java's
    per-keyspace tables map: same-named tables coexist across keyspaces,
    qualified DML resolves unambiguously, bare names resolve through the
    USE'd keyspace. Rejection shapes from CreateTest.java
    (testCreateTableWithSmallintColumns-style duplicate / unknown-keyspace
    rejections are per-keyspace)."""

    def _two_ks(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ka WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE KEYSPACE kb WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE ka.pets (k bigint PRIMARY KEY, v text)")
        db.execute("CREATE TABLE kb.pets (k bigint PRIMARY KEY, v text)")
        return db

    def test_same_name_coexists_and_qualified_dml_routes(self, spark):
        db = self._two_ks(spark)
        assert ("ka", "pets") in db.registry.tables
        assert ("kb", "pets") in db.registry.tables
        db.execute("INSERT INTO ka.pets (k, v) VALUES (1, 'cat')")
        db.execute("INSERT INTO kb.pets (k, v) VALUES (1, 'dog')")
        assert [r.v for r in db.execute("SELECT v FROM ka.pets").collect()] == ["cat"]
        assert [r.v for r in db.execute("SELECT v FROM kb.pets").collect()] == ["dog"]

    def test_bare_name_ambiguous_without_use(self, spark):
        db = self._two_ks(spark)
        with pytest.raises(InvalidRequest, match="ambiguous"):
            db.execute("INSERT INTO pets (k, v) VALUES (1, 'x')")

    def test_use_scopes_bare_dml_and_select(self, spark):
        db = self._two_ks(spark)
        db.execute("USE ka")
        db.execute("INSERT INTO pets (k, v) VALUES (1, 'cat')")
        db.execute("USE kb")
        db.execute("INSERT INTO pets (k, v) VALUES (1, 'dog')")
        assert [r.v for r in db.execute("SELECT v FROM pets").collect()] == ["dog"]
        db.execute("USE ka")
        assert [r.v for r in db.execute("SELECT v FROM pets").collect()] == ["cat"]

    def test_duplicate_create_rejected_per_keyspace(self, spark):
        db = self._two_ks(spark)
        with pytest.raises(InvalidRequest, match="already exists"):
            db.execute("CREATE TABLE ka.pets (k bigint PRIMARY KEY)")
        db.execute("CREATE TABLE ka.pets2 (k bigint PRIMARY KEY)")  # fine

    def test_create_in_unknown_keyspace_rejected(self, spark):
        db = CqlDatabase(spark)
        with pytest.raises(InvalidRequest, match="unknown keyspace"):
            db.execute("CREATE TABLE nowhere.t (k bigint PRIMARY KEY)")

    def test_drop_keyspace_takes_only_its_table(self, spark):
        db = self._two_ks(spark)
        db.execute("DROP KEYSPACE ka")
        assert ("ka", "pets") not in db.registry.tables
        assert ("kb", "pets") in db.registry.tables
        # the survivor is now unambiguous by bare name
        db.execute("INSERT INTO pets (k, v) VALUES (2, 'fish')")
        assert [r.v for r in db.execute("SELECT v FROM pets").collect()] == ["fish"]

    def test_alter_resolves_through_use(self, spark):
        db = self._two_ks(spark)
        db.execute("USE ka")
        db.execute("ALTER TABLE pets ADD extra bigint")
        names_a = {f.name for f in db.registry.tables[("ka", "pets")].schema.fields}
        names_b = {f.name for f in db.registry.tables[("kb", "pets")].schema.fields}
        assert "extra" in names_a and "extra" not in names_b

    def test_use_tolerates_trailing_semicolon(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE kq WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE kq;")
        assert db.current_keyspace == "kq"


class TestAlterSessionCollectionSync:
    """A cached CqlWriteSession must see collection/counter/frozen facts
    added or dropped by a later ALTER (Operation.java counter-setter
    rejection must hold across the DDL sync)."""

    def test_counter_added_by_alter_rejects_set(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE TABLE ctr (k bigint PRIMARY KEY, n counter)")
        # touch the table so a session with pre-ALTER CollectionInfo exists
        db.execute("UPDATE ctr SET n = n + 1 WHERE k = 1")
        db.execute("ALTER TABLE ctr ADD m counter")
        with pytest.raises(InvalidRequest, match="counter"):
            db.execute("UPDATE ctr SET m = 5 WHERE k = 1")
        db.execute("UPDATE ctr SET m = m + 3 WHERE k = 1")  # delta is fine
        out = db.execute("SELECT k, n, m FROM ctr")
        assert [tuple(r) for r in out.collect()] == [(1, 1, 3)]

    def test_dropped_frozen_column_forgotten(self, spark):
        db = CqlDatabase(spark)
        db.execute(
            "CREATE TABLE fz (k bigint PRIMARY KEY, s frozen<set<bigint>>, v text)"
        )
        db.execute("INSERT INTO fz (k, v) VALUES (1, 'x')")  # cache session
        db.execute("ALTER TABLE fz DROP s")
        db.execute("ALTER TABLE fz ADD s text")
        sess = db._session(("None", "fz")) if False else db._session((None, "fz"))
        assert "s" not in sess.collection_info.frozen
        assert "s" not in sess.collection_info.kinds

    def _two_ks(self, spark):
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ka WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE KEYSPACE kb WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE ka.pets (k bigint PRIMARY KEY, v text)")
        db.execute("CREATE TABLE kb.pets (k bigint PRIMARY KEY, v text)")
        return db

    def test_index_namespace_scoped_per_keyspace(self, spark):
        # IndexMetadata lives inside KeyspaceMetadata in the reference:
        # the same default index name coexists across keyspaces, cascades
        # with its own table only, and duplicate-per-keyspace is rejected
        db = self._two_ks(spark)
        db.execute("CREATE INDEX ON ka.pets (v)")
        db.execute("CREATE INDEX ON kb.pets (v)")
        assert ("ka", "pets_v_idx") in db.registry.indexes
        assert ("kb", "pets_v_idx") in db.registry.indexes
        # a repeated unnamed CREATE INDEX is a duplicate TARGET, not a
        # name collision (the default name suffixes until free, so the
        # equal-target check fires — CreateIndexStatement.java:130-135)
        with pytest.raises(InvalidRequest, match="duplicate of existing"):
            db.execute("CREATE INDEX ON ka.pets (v)")
        db.execute("DROP TABLE ka.pets")
        assert ("ka", "pets_v_idx") not in db.registry.indexes
        assert ("kb", "pets_v_idx") in db.registry.indexes

    def test_qualified_drop_and_alter_route_by_keyspace(self, spark):
        db = self._two_ks(spark)
        db.execute("ALTER TABLE kb.pets ADD extra bigint")
        assert "extra" in {
            f.name for f in db.registry.tables[("kb", "pets")].schema.fields
        }
        assert "extra" not in {
            f.name for f in db.registry.tables[("ka", "pets")].schema.fields
        }
        db.execute("DROP TABLE kb.pets")
        assert ("kb", "pets") not in db.registry.tables
        assert ("ka", "pets") in db.registry.tables


class TestCli:
    def test_split_statements_keeps_batch_whole(self):
        from cassandra_pmem_spark.__main__ import split_statements

        text = (
            "INSERT INTO t (k) VALUES (1); "
            "BEGIN BATCH INSERT INTO t (k) VALUES (2); "
            "INSERT INTO t (k) VALUES (3); APPLY BATCH; "
            "SELECT * FROM t"
        )
        got = split_statements(text)
        assert len(got) == 3
        assert got[0].startswith("INSERT")
        assert got[1].lower().startswith("begin batch")
        assert got[1].lower().endswith("apply batch")
        assert got[2].startswith("SELECT")
        # a ';' inside a string literal never splits a statement
        assert split_statements(
            "INSERT INTO t (k, v) VALUES (1, 'a;b'); SELECT * FROM t"
        ) == ["INSERT INTO t (k, v) VALUES (1, 'a;b')", "SELECT * FROM t"]

    def test_cli_routes_db_and_facade(self, spark, capsys):
        from cassandra_pmem_spark.__main__ import run_statement
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from tests.conftest import SF_SMALL

        db = CqlDatabase(spark)
        for stmt in (
            "CREATE KEYSPACE cli_ks WITH replication = "
            "{'class': 'SimpleStrategy', 'replication_factor': 1}",
            "USE cli_ks",
            "CREATE TABLE c (k int PRIMARY KEY, v int)",
            "INSERT INTO c (k, v) VALUES (1, 10)",
        ):
            assert run_statement(db, spark, stmt, SF_SMALL, 50) == "OK"
        out = run_statement(db, spark, "SELECT * FROM c", SF_SMALL, 50)
        assert "10" in out and "1 rows shown" in out
        # facade path: a lake table not in the registry
        out2 = run_statement(
            db, spark,
            "SELECT o_orderkey FROM orders WHERE o_custkey = 42 LIMIT 3",
            SF_SMALL, 50,
        )
        assert "rows shown" in out2

    SCRIPT = (
        "CREATE KEYSPACE rep_ks WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': 1}; "
        "USE rep_ks; "
        "CREATE TABLE r (k int PRIMARY KEY, v int); "
        "INSERT INTO r (k, v) VALUES (1, 10); "
        "INSERT INTO r (k, v) VALUES (2, 20); "
        "SELECT k, v FROM r; "
        "SELECT n_name FROM nation WHERE n_nationkey = 3"
    )

    def test_record_then_compare_green(self, spark, tmp_path, capsys):
        """fqltool record/replay/compare analog: a mixed DDL/DML/SELECT
        script recorded then replayed against its own baseline matches
        statement-for-statement."""
        from cassandra_pmem_spark.__main__ import main
        from tests.conftest import SF_SMALL

        store = str(tmp_path / "base.json")
        assert main(["-e", self.SCRIPT, "--sf-dir", SF_SMALL, "--record", store]) == 0
        assert main(["-e", self.SCRIPT, "--sf-dir", SF_SMALL, "--compare", store]) == 0
        out = capsys.readouterr().out
        assert "7/7 statements match" in out
        assert "MISMATCH" not in out

    def test_compare_detects_injected_mismatch(self, spark, tmp_path, capsys):
        """An injected result drift in the baseline must be caught and
        reported per statement, with a nonzero exit."""
        import json

        from cassandra_pmem_spark.__main__ import main
        from tests.conftest import SF_SMALL

        store = str(tmp_path / "base.json")
        assert main(["-e", self.SCRIPT, "--sf-dir", SF_SMALL, "--record", store]) == 0
        with open(store) as fh:
            base = json.load(fh)
        # corrupt the recorded SELECT k, v result: flip one value
        sel = next(e for e in base if e["statement"].startswith("SELECT k"))
        sel["result"]["rows"][0][1] = "999"
        with open(store, "w") as fh:
            json.dump(base, fh)
        assert main(["-e", self.SCRIPT, "--sf-dir", SF_SMALL, "--compare", store]) == 3
        out = capsys.readouterr().out
        assert "MISMATCH #6" in out and "first differing row" in out
        assert "6/7 statements match" in out


class TestSecondaryIndexGate:
    """CREATE INDEX makes a single EQ restriction on the indexed column
    executable without ALLOW FILTERING (SecondaryIndexManager.
    getBestIndexFor; StatementRestrictions.needFiltering); everything
    else keeps the post-filtering rejection."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ixg WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE ixg")
        db.execute(
            "CREATE TABLE ev (event_id bigint PRIMARY KEY, user_id bigint, "
            "event_type text, tags set<text>)"
        )
        db.execute(
            "INSERT INTO ev (event_id, user_id, event_type, tags) "
            "VALUES (1, 10, 'view', {'a'})"
        )
        db.execute(
            "INSERT INTO ev (event_id, user_id, event_type, tags) "
            "VALUES (2, 11, 'click', {'b'})"
        )
        return db

    def test_unindexed_regular_predicate_needs_allow_filtering(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT event_id FROM ev WHERE event_type = 'view'")

    def test_indexed_eq_served_without_allow_filtering(self, db):
        db.execute("CREATE INDEX ON ev (event_type)")
        r = db.execute("SELECT event_id FROM ev WHERE event_type = 'view'").collect()
        assert [x.event_id for x in r] == [1]

    def test_indexed_contains_served(self, db):
        db.execute("CREATE INDEX ON ev (tags)")
        r = db.execute("SELECT event_id FROM ev WHERE tags CONTAINS 'b'").collect()
        assert [x.event_id for x in r] == [2]

    def test_non_eq_and_extra_restrictions_still_gated(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        db.execute("CREATE INDEX ON ev (event_type)")
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT event_id FROM ev WHERE event_type > 'a'")
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute(
                "SELECT event_id FROM ev WHERE event_type = 'view' AND user_id = 10"
            )

    def test_drop_index_restores_gate(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        db.execute("CREATE INDEX ON ev (event_type)")
        db.execute("DROP INDEX ev_event_type_idx")
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT event_id FROM ev WHERE event_type = 'view'")


class TestIndexSelection:
    """SecondaryIndexManager.getBestIndexFor:1015,1050 — among several
    indexed candidate restrictions the statement is served by the index
    with the fewest estimated result rows (rows/distinct), name-ascending
    tiebreak; single-candidate statements choose without a stats job."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE isel WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE isel")
        db.execute("CREATE TABLE t (id int PRIMARY KEY, seg text, city text)")
        for i in range(30):
            db.execute(
                f"INSERT INTO t (id, seg, city) VALUES ({i}, 'S{i % 2}', 'C{i % 15}')"
            )
        db.execute("CREATE INDEX seg_i ON t (seg)")
        db.execute("CREATE INDEX city_i ON t (city)")
        return db

    def test_more_selective_index_wins(self, db):
        db.execute(
            "SELECT id FROM t WHERE seg = 'S0' AND city = 'C2' ALLOW FILTERING"
        ).collect()
        assert db.last_index_choice == ("city_i", "city")

    def test_single_candidate_chosen_directly(self, db):
        db.execute("SELECT id FROM t WHERE seg = 'S1'").collect()
        assert db.last_index_choice == ("seg_i", "seg")

    def test_no_index_no_choice(self, db):
        db.execute("SELECT id FROM t").collect()
        assert db.last_index_choice is None

    def test_multi_index_still_needs_allow_filtering(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM t WHERE seg = 'S0' AND city = 'C2'")


class TestSystemSchema:
    """SchemaKeyspace.java:124 introspection tables, live from the registry."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ssk WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE ssk")
        db.execute("CREATE TYPE pt (x int)")
        db.execute("CREATE TABLE t (k int PRIMARY KEY, v text, u pt)")
        return db

    def test_ddl_immediately_visible(self, db):
        names = [
            r.table_name
            for r in db.execute(
                "SELECT table_name FROM system_schema.tables"
            ).collect()
        ]
        assert names == ["t"]
        db.execute("CREATE TABLE t2 (k int PRIMARY KEY)")
        names = [
            r.table_name
            for r in db.execute(
                "SELECT table_name FROM system_schema.tables"
            ).collect()
        ]
        assert names == ["t", "t2"]

    def test_columns_reflect_kinds_and_types(self, db):
        rows = {
            r.column_name: (r.kind, r.type)
            for r in db.execute(
                "SELECT column_name, kind, type FROM system_schema.columns"
            ).collect()
        }
        assert rows == {
            "k": ("partition_key", "int"),
            "v": ("regular", "text"),
            "u": ("regular", "pt"),
        }

    def test_drop_removes_rows(self, db):
        db.execute("DROP TABLE t")
        assert db.execute("SELECT table_name FROM system_schema.tables").count() == 0

    def test_alter_type_visible(self, db):
        db.execute("ALTER TYPE pt ADD y bigint")
        r = db.execute(
            "SELECT field_names, field_types FROM system_schema.types"
        ).collect()
        assert (r[0].field_names, r[0].field_types) == ("x,y", "int,bigint")

    def test_unknown_system_table_rejected(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="system_schema"):
            db.execute("SELECT * FROM system_schema.nope")


class TestDefaultTimeToLive:
    """TableParams default_time_to_live (TableParams.java;
    Attributes.getTimeToLive:105-119): a write with no USING TTL takes
    the table default; an EXPLICIT `USING TTL 0` means no expiry and the
    default does not re-apply; counters reject the param."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE dtl WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE dtl")
        db.execute(
            "CREATE TABLE dt (k int PRIMARY KEY, v text) "
            "WITH default_time_to_live = 100"
        )
        return db

    def _rows(self, db, now):
        sess = db._session_for_key(("dtl", "dt"))
        return sorted(r.k for r in sess.table(now=now).collect())

    def test_default_applies_when_no_using_ttl(self, db):
        db.execute("INSERT INTO dt (k, v) VALUES (1, 'x') USING TIMESTAMP 10")
        assert self._rows(db, now=50) == [1]
        assert self._rows(db, now=200) == []

    def test_explicit_zero_suppresses_default(self, db):
        db.execute(
            "INSERT INTO dt (k, v) VALUES (2, 'y') USING TIMESTAMP 10 AND TTL 0"
        )
        assert self._rows(db, now=10**9) == [2]

    def test_explicit_ttl_overrides_default(self, db):
        db.execute(
            "INSERT INTO dt (k, v) VALUES (3, 'z') USING TIMESTAMP 10 AND TTL 5"
        )
        assert self._rows(db, now=14) == [3]
        assert self._rows(db, now=50) == []

    def test_alter_with_changes_default(self, db):
        db.execute("ALTER TABLE dt WITH default_time_to_live = 7")
        db.execute("INSERT INTO dt (k, v) VALUES (4, 'w') USING TIMESTAMP 10")
        assert self._rows(db, now=16) == [4]
        assert self._rows(db, now=30) == []

    def test_describe_round_trips_the_param(self, spark, db):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        stmt = [
            r.create_statement
            for r in db.execute("DESCRIBE TABLE dt").collect()
        ][0]
        assert "WITH default_time_to_live = 100" in stmt
        fresh = CqlDatabase(spark)
        fresh.execute("CREATE KEYSPACE dtl WITH REPLICATION = {'class': 'SimpleStrategy'}")
        fresh.execute(stmt)
        assert fresh.registry.table_params[("dtl", "dt")] == {"default_ttl": 100}

    def test_validation(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="between 0 and"):
            db.execute(
                "CREATE TABLE bad (k int PRIMARY KEY, v int) "
                "WITH default_time_to_live = -1"
            )
        with pytest.raises(InvalidRequest, match="counters"):
            db.execute(
                "CREATE TABLE badc (k int PRIMARY KEY, c counter) "
                "WITH default_time_to_live = 9"
            )

    def test_alter_with_is_all_or_nothing(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest):
            db.execute(
                "ALTER TABLE dt WITH default_time_to_live = 7 AND read_repair = ="
            )
        assert db.registry.table_params[("dtl", "dt")] == {"default_ttl": 100}

    def test_default_ttl_rejected_under_materialized_views(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        db.execute("CREATE TABLE base (k int PRIMARY KEY, v int)")
        db.execute(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, v FROM base "
            "WHERE k IS NOT NULL AND v IS NOT NULL PRIMARY KEY (v, k)"
        )
        with pytest.raises(InvalidRequest, match="Materialized Views"):
            db.execute("ALTER TABLE base WITH default_time_to_live = 60")

    def test_create_view_rejected_on_default_ttl_base(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="default_time_to_live"):
            db.execute(
                "CREATE MATERIALIZED VIEW mvd AS SELECT k, v FROM dt "
                "WHERE k IS NOT NULL AND v IS NOT NULL PRIMARY KEY (v, k)"
            )
