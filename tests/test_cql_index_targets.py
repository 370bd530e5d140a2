"""Collection index targets (Parser.g:842-847 indexIdent; IndexTarget.java
Type.SIMPLE/VALUES/KEYS/KEYS_AND_VALUES/FULL; CreateIndexStatement.java
:153-192 validateIndexTarget) and the kind-aware read gate
(CassandraIndex.supportsExpression): simple/full()=EQ, values()=CONTAINS,
keys()=CONTAINS KEY, entries()=m[k]=v."""

from __future__ import annotations

import pytest

from cassandra_pmem_spark.cql.validator import InvalidRequest


@pytest.fixture()
def db(spark):
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    d = CqlDatabase(spark)
    d.execute("CREATE KEYSPACE idxk WITH REPLICATION = {'class': 'SimpleStrategy'}")
    d.execute("USE idxk")
    d.execute(
        "CREATE TABLE ev (id int PRIMARY KEY, m map<text, int>, "
        "s set<text>, fl frozen<list<int>>, v int, du duration)"
    )
    d.execute(
        "INSERT INTO ev (id, m, s, fl, v) VALUES "
        "(1, {'a': 1, 'b': 2}, {'x'}, [1, 2], 10)"
    )
    d.execute(
        "INSERT INTO ev (id, m, s, fl, v) VALUES "
        "(2, {'b': 9}, {'x', 'y'}, [3], 20)"
    )
    return d


class TestCreateIndexTargets:
    def test_target_validation_matrix(self, db):
        # frozen collections only support full()
        with pytest.raises(InvalidRequest, match="full\\(\\) indexes"):
            db.execute("CREATE INDEX ON ev (values(fl))")
        with pytest.raises(InvalidRequest, match="full\\(\\) indexes can only"):
            db.execute("CREATE INDEX ON ev (full(m))")
        # keys/entries need a non-frozen map
        with pytest.raises(InvalidRequest, match="non-map type"):
            db.execute("CREATE INDEX ON ev (keys(s))")
        with pytest.raises(InvalidRequest, match="non-map type"):
            db.execute("CREATE INDEX ON ev (entries(s))")
        # non-collection columns only support simple indexes
        with pytest.raises(InvalidRequest, match="simple indexes"):
            db.execute("CREATE INDEX ON ev (values(v))")
        # durations are not indexable
        with pytest.raises(InvalidRequest, match="duration"):
            db.execute("CREATE INDEX ON ev (du)")
        # the only partition key column is not indexable
        with pytest.raises(InvalidRequest, match="only partition key"):
            db.execute("CREATE INDEX ON ev (id)")
        # unknown column
        with pytest.raises(InvalidRequest, match="doesn't exist"):
            db.execute("CREATE INDEX ON ev (nope)")
        # empty / multiple targets
        with pytest.raises(InvalidRequest, match="without specifying"):
            db.execute("CREATE INDEX ON ev ()")
        with pytest.raises(InvalidRequest, match="multiple columns"):
            db.execute("CREATE INDEX ON ev (m, s)")

    def test_duplicate_target_rejected(self, db):
        db.execute("CREATE INDEX m_vals ON ev (values(m))")
        with pytest.raises(InvalidRequest, match="duplicate of existing"):
            db.execute("CREATE INDEX m_vals2 ON ev (values(m))")
        # bare collection target normalizes to values() — also a duplicate
        with pytest.raises(InvalidRequest, match="duplicate of existing"):
            db.execute("CREATE INDEX m_vals3 ON ev (m)")
        db.execute("CREATE INDEX IF NOT EXISTS m_vals4 ON ev (values(m))")
        # a DIFFERENT kind on the same column is fine
        db.execute("CREATE INDEX m_keys ON ev (keys(m))")


class TestKindAwareReadGate:
    def test_keys_index_serves_contains_key_only(self, db):
        db.execute("CREATE INDEX m_keys ON ev (keys(m))")
        r = db.execute("SELECT id FROM ev WHERE m CONTAINS KEY 'a'").collect()
        assert [x.id for x in r] == [1]
        assert db.last_index_choice == ("m_keys", "m")
        # CONTAINS (values) is NOT served by a keys() index
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM ev WHERE m CONTAINS 9")
        db.execute("CREATE INDEX m_vals ON ev (values(m))")
        r = db.execute("SELECT id FROM ev WHERE m CONTAINS 9").collect()
        assert [x.id for x in r] == [2]
        assert db.last_index_choice == ("m_vals", "m")

    def test_entries_index_serves_entry_relation(self, db):
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM ev WHERE m['b'] = 9")
        db.execute("CREATE INDEX m_ent ON ev (entries(m))")
        r = db.execute("SELECT id FROM ev WHERE m['b'] = 9").collect()
        assert [x.id for x in r] == [2]
        assert db.last_index_choice == ("m_ent", "m")
        # entry relation with ALLOW FILTERING works without any index
        r = db.execute(
            "SELECT id FROM ev WHERE m['a'] = 1 ALLOW FILTERING"
        ).collect()
        assert [x.id for x in r] == [1]
        # only EQ is legal on map entries
        with pytest.raises(InvalidRequest, match="Only EQ"):
            db.execute("SELECT id FROM ev WHERE m['b'] > 1 ALLOW FILTERING")

    def test_full_index_serves_frozen_equality(self, db):
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM ev WHERE fl = [1, 2]")
        db.execute("CREATE INDEX fl_full ON ev (full(fl))")
        r = db.execute("SELECT id FROM ev WHERE fl = [1, 2]").collect()
        assert [x.id for x in r] == [1]
        assert db.last_index_choice == ("fl_full", "fl")
        # a full() index does not serve CONTAINS
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM ev WHERE fl CONTAINS 1")

    def test_bare_set_index_serves_contains(self, db):
        db.execute("CREATE INDEX s_idx ON ev (s)")  # normalizes to values()
        r = db.execute("SELECT id FROM ev WHERE s CONTAINS 'y'").collect()
        assert [x.id for x in r] == [2]
        assert db.last_index_choice == ("s_idx", "s")
        # ... but never EQ on the non-frozen collection itself
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM ev WHERE s = {'x'}")


class TestIntrospection:
    def test_system_schema_target_text(self, db):
        db.execute("CREATE INDEX m_ent ON ev (entries(m))")
        db.execute("CREATE INDEX v_idx ON ev (v)")
        rows = db.execute(
            "SELECT index_name, target FROM system_schema.indexes"
        ).collect()
        got = {(r.index_name, r.target) for r in rows}
        assert ("m_ent", "entries(m)") in got
        assert ("v_idx", "v") in got

    def test_describe_round_trips_targets(self, db, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db.execute("CREATE INDEX m_keys ON ev (keys(m))")
        db.execute("CREATE INDEX fl_full ON ev (full(fl))")
        rows = db.execute("DESCRIBE KEYSPACE idxk").collect()
        stmts = [r.create_statement for r in rows]
        assert "CREATE INDEX m_keys ON idxk.ev (keys(m));" in stmts
        assert "CREATE INDEX fl_full ON idxk.ev (full(fl));" in stmts
        # pasteable: a fresh database executes the output unchanged
        fresh = CqlDatabase(spark)
        for stmt in stmts:
            fresh.execute(stmt.rstrip(";"))
        again = [
            r.create_statement
            for r in fresh.execute("DESCRIBE KEYSPACE idxk").collect()
        ]
        assert again == stmts


class TestReviewRegressions:
    def test_unnamed_indexes_of_different_kinds_both_create(self, db):
        """findAvailableIndexName: the default name suffixes until free,
        so unnamed KEYS(m) + VALUES(m) indexes both succeed."""
        db.execute("CREATE INDEX ON ev (keys(m))")
        db.execute("CREATE INDEX ON ev (values(m))")
        rows = db.execute(
            "SELECT index_name, target FROM system_schema.indexes"
        ).collect()
        got = sorted((r.index_name, r.target) for r in rows)
        assert got == [("ev_m_idx", "keys(m)"), ("ev_m_idx_1", "values(m)")]
        # and both serve their ops
        assert [
            x.id for x in db.execute("SELECT id FROM ev WHERE m CONTAINS KEY 'a'").collect()
        ] == [1]
        assert [
            x.id for x in db.execute("SELECT id FROM ev WHERE m CONTAINS 9").collect()
        ] == [2]

    def test_literal_shape_mismatch_rejects_at_prepare(self, db):
        db.execute("CREATE INDEX fl_full ON ev (full(fl))")
        with pytest.raises(InvalidRequest, match="Invalid map literal"):
            db.execute("SELECT id FROM ev WHERE fl = {1: 2}")
        with pytest.raises(InvalidRequest, match="Invalid set literal"):
            db.execute("SELECT id FROM ev WHERE tag = {'x'} ALLOW FILTERING")
        with pytest.raises(InvalidRequest, match="Invalid set literal"):
            db.execute("SELECT id FROM ev WHERE m = {'x'} ALLOW FILTERING")
        # the empty list literal types through the whole-array cast
        assert db.execute(
            "SELECT id FROM ev WHERE fl = []"
        ).collect() == []

    def test_entry_relation_requires_a_map(self, db):
        db.execute("CREATE TABLE lt (id int PRIMARY KEY, l list<int>, t text)")
        db.execute("INSERT INTO lt (id, l, t) VALUES (1, [5, 6], 'x')")
        with pytest.raises(InvalidRequest, match="cannot be used as a map"):
            db.execute("SELECT id FROM lt WHERE l[0] = 5 ALLOW FILTERING")
        with pytest.raises(InvalidRequest, match="cannot be used as a map"):
            db.execute("SELECT id FROM lt WHERE t['a'] = 1 ALLOW FILTERING")

    def test_udt_named_like_duration_is_indexable(self, db):
        db.execute("CREATE TYPE work_duration (hrs int)")
        db.execute(
            "CREATE TABLE wd (id int PRIMARY KEY, d frozen<work_duration>, "
            "du duration)"
        )
        db.execute("CREATE INDEX ON wd (d)")  # frozen UDT: indexable
        with pytest.raises(InvalidRequest, match="duration"):
            db.execute("CREATE INDEX ON wd (du)")

    def test_legacy_any_descriptor_does_not_serve_entry(self, spark):
        from cassandra_pmem_spark.cql.validator import (
            Op,
            Restriction,
            validate_restrictions,
        )
        from cassandra_pmem_spark.catalog import TableMeta
        from pyspark.sql import types as T

        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
            ]),
            partition_key=("k",),
        )
        rs = [Restriction("k", Op.EQ), Restriction("m", Op.ENTRY)]
        # a non-entries index does not serve m[k]=v
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            validate_restrictions(meta, rs, False, {"m": {"simple": "m_idx"}})
        # a kind-aware entries descriptor serves it
        validate_restrictions(meta, rs, False, {"m": {"entries": "m_ent"}})


class TestIndexOptions:
    def test_custom_index_with_options_round_trips(self, db, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db.execute(
            "CREATE CUSTOM INDEX tag_sasi ON ev (v) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex' WITH OPTIONS = "
            "{'mode': 'CONTAINS', 'analyzed': 'true'}"
        )
        [r] = db.execute(
            "SELECT kind, options FROM system_schema.indexes"
        ).collect()
        assert r.kind == "CUSTOM"
        assert (
            r.options
            == '{"analyzed": "true", "class_name": '
            '"org.apache.cassandra.index.sasi.SASIIndex", '
            '"mode": "CONTAINS", "target": "v"}'
        )
        rows = db.execute("DESCRIBE KEYSPACE idxk").collect()
        stmts = [x.create_statement for x in rows]
        want = (
            "CREATE CUSTOM INDEX tag_sasi ON idxk.ev (v) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex' WITH OPTIONS = "
            "{'analyzed': 'true', 'mode': 'CONTAINS'};"
        )
        assert want in stmts
        fresh = CqlDatabase(spark)
        for stmt in stmts:
            fresh.execute(stmt.rstrip(";"))
        again = [
            x.create_statement
            for x in fresh.execute("DESCRIBE KEYSPACE idxk").collect()
        ]
        assert again == stmts

    def test_index_attributes_validation(self, db):
        # IndexAttributes.validate messages (IndexAttributes.java:47-61)
        with pytest.raises(InvalidRequest, match="requires specifiying"):
            db.execute("CREATE CUSTOM INDEX ON ev (v)")
        with pytest.raises(InvalidRequest, match="non-CUSTOM index"):
            db.execute("CREATE INDEX ON ev (v) USING 'cls'")
        with pytest.raises(InvalidRequest, match="options for a non-CUSTOM"):
            db.execute(
                "CREATE INDEX ON ev (v) WITH OPTIONS = {'mode': 'x'}"
            )
        with pytest.raises(InvalidRequest, match="class_name as a CUSTOM"):
            db.execute(
                "CREATE CUSTOM INDEX ON ev (v) USING 'cls' "
                "WITH OPTIONS = {'class_name': 'x'}"
            )
        with pytest.raises(InvalidRequest, match="target as a CUSTOM"):
            db.execute(
                "CREATE CUSTOM INDEX ON ev (v) USING 'cls' "
                "WITH OPTIONS = {'target': 'x'}"
            )


class TestSasiLike:
    def test_like_is_index_only(self, db):
        db.execute("CREATE TABLE docs (id int PRIMARY KEY, body text)")
        db.execute("INSERT INTO docs (id, body) VALUES (1, 'alpha beta')")
        db.execute("INSERT INTO docs (id, body) VALUES (2, 'gamma delta')")
        # ALLOW FILTERING does not rescue LIKE — it is index-only
        # (StatementRestrictions.java:174-180)
        with pytest.raises(InvalidRequest, match="properly indexed"):
            db.execute(
                "SELECT id FROM docs WHERE body LIKE 'alpha%' ALLOW FILTERING"
            )
        db.execute(
            "CREATE CUSTOM INDEX body_sasi ON docs (body) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex' "
            "WITH OPTIONS = {'mode': 'PREFIX'}"
        )
        r = db.execute("SELECT id FROM docs WHERE body LIKE 'alpha%'").collect()
        assert [x.id for x in r] == [1]
        assert db.last_index_choice == ("body_sasi", "body")
        # the SASI index serves EQ too
        r = db.execute("SELECT id FROM docs WHERE body = 'gamma delta'").collect()
        assert [x.id for x in r] == [2]

    def test_like_pattern_semantics_are_cql(self, db):
        """Only '%' is a wildcard and only at the ends; '_' is literal
        (Operator.java LIKE_* split on %); non-string sources reject."""
        db.execute("CREATE TABLE pats (id int PRIMARY KEY, body text, n int)")
        db.execute("INSERT INTO pats (id, body, n) VALUES (1, 'a_c xyz', 5)")
        db.execute("INSERT INTO pats (id, body, n) VALUES (2, 'abc xyz', 55)")
        db.execute(
            "CREATE CUSTOM INDEX pats_sasi ON pats (body) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex'"
        )
        r = db.execute("SELECT id FROM pats WHERE body LIKE 'a_c%'").collect()
        assert [x.id for x in r] == [1]  # '_' literal, not a wildcard
        with pytest.raises(InvalidRequest, match="not supported"):
            db.execute("SELECT id FROM pats WHERE body LIKE 'a%c'")
        db.execute(
            "CREATE CUSTOM INDEX pats_n ON pats (n) USING "
            "'org.apache.cassandra.index.sasi.SASIIndex'"
        )
        with pytest.raises(InvalidRequest, match="string type"):
            db.execute("SELECT id FROM pats WHERE n LIKE '5%'")

    def test_collection_target_custom_index_keeps_its_kind_ops(self, db):
        """A CUSTOM keys(m) index serves CONTAINS KEY only — never
        whole-column EQ or LIKE (supportsExpression is per-target).
        A NON-SASI class: SASI itself rejects complex targets at CREATE
        (SASIIndex.java:148-149, covered below)."""
        db.execute(
            "CREATE CUSTOM INDEX mk ON ev (keys(m)) USING "
            "'com.example.OpaqueKeysIndex'"
        )
        r = db.execute("SELECT id FROM ev WHERE m CONTAINS KEY 'a'").collect()
        assert [x.id for x in r] == [1]
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            db.execute("SELECT id FROM ev WHERE m = {'a': 1}")
        with pytest.raises(InvalidRequest, match="properly indexed|string type"):
            db.execute("SELECT id FROM ev WHERE m LIKE 'x%'")

    def test_sasi_rejects_complex_targets(self, db):
        """SASI rejects complex (multi-cell) columns at CREATE, before the
        pk check (SASIIndex.java:148-149) — keys()/values()/entries() and
        the bare non-frozen collection (normalized to VALUES) all raise."""
        from cassandra_pmem_spark.cql.validator import ConfigurationException

        sasi = "'org.apache.cassandra.index.sasi.SASIIndex'"
        for tgt in ("keys(m)", "values(m)", "entries(m)", "m"):
            with pytest.raises(
                ConfigurationException,
                match="complex columns are not yet supported by SASI",
            ):
                db.execute(
                    f"CREATE CUSTOM INDEX cx ON ev ({tgt}) USING {sasi}"
                )


class TestEmptyBracesOnMap:
    def test_empty_braces_compare_as_empty_map(self, db):
        """`{}` parses as an empty set (braces are ambiguous) but on a
        map receiver it IS the empty map literal, like the reference's
        assignment testing resolves it."""
        db.execute("CREATE TABLE fm (id int PRIMARY KEY, m frozen<map<text, int>>)")
        db.execute("INSERT INTO fm (id, m) VALUES (1, {})")
        db.execute("INSERT INTO fm (id, m) VALUES (2, {'a': 1})")
        db.execute("CREATE INDEX fm_full ON fm (full(m))")
        r = db.execute("SELECT id FROM fm WHERE m = {}").collect()
        assert [x.id for x in r] == [1]
        r = db.execute("SELECT id FROM fm WHERE m = {'a': 1}").collect()
        assert [x.id for x in r] == [2]


class TestDclSemicolons:
    def test_dump_lines_with_trailing_semicolons_replay(self, db):
        db.execute("CREATE ROLE svc WITH LOGIN = true;")
        db.execute("GRANT SELECT ON TABLE idxk.ev TO svc;")
        rows = db.execute("LIST ALL PERMISSIONS OF svc;").collect()
        assert [(r.resource, r.permission) for r in rows] == [
            ("<table idxk.ev>", "SELECT")
        ]
        # a rejected ALTER leaves the role untouched (validate-then-apply)
        with pytest.raises(InvalidRequest, match="trailing input"):
            db.execute("ALTER ROLE svc WITH LOGIN = false SUPERUSER = true")
        [r] = db.execute("LIST ROLES").collect()
        assert (r.login, r.super) == (True, False)


class TestSasiIndexModes:
    """The SASI IndexMode matrix (index/sasi/conf/IndexMode.java:134-196;
    OnDiskIndexBuilder.Mode:51-73 op sets; ColumnIndex.supports:219-230;
    SASIIndex.validateOptions:146-167 SPARSE gates)."""

    SASI = "'org.apache.cassandra.index.sasi.SASIIndex'"

    @pytest.fixture()
    def sdb(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        d = CqlDatabase(spark)
        d.execute(
            "CREATE KEYSPACE sasik WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        d.execute("USE sasik")
        d.execute("CREATE TABLE t (id int PRIMARY KEY, body text, n int)")
        d.execute("INSERT INTO t (id, body, n) VALUES (1, 'alpha beta', 5)")
        d.execute("INSERT INTO t (id, body, n) VALUES (2, 'beta gamma', 7)")
        return d

    def test_prefix_mode_serves_prefix_and_match_only(self, sdb):
        sdb.execute(
            f"CREATE CUSTOM INDEX bp ON t (body) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'PREFIX'}"
        )
        r = sdb.execute("SELECT id FROM t WHERE body LIKE 'alpha%'").collect()
        assert [x.id for x in r] == [1]
        r = sdb.execute("SELECT id FROM t WHERE body LIKE 'beta gamma'").collect()
        assert [x.id for x in r] == [2]  # LIKE_MATCHES — Op.MATCH in PREFIX set
        for pat in ("%beta", "%beta%"):
            with pytest.raises(InvalidRequest, match="properly indexed"):
                sdb.execute(f"SELECT id FROM t WHERE body LIKE '{pat}'")

    def test_default_mode_is_prefix(self, sdb):
        sdb.execute(f"CREATE CUSTOM INDEX bd ON t (body) USING {self.SASI}")
        r = sdb.execute("SELECT id FROM t WHERE body LIKE 'beta%'").collect()
        assert [x.id for x in r] == [2]
        with pytest.raises(InvalidRequest, match="properly indexed"):
            sdb.execute("SELECT id FROM t WHERE body LIKE '%beta%'")

    def test_contains_mode_serves_all_shapes(self, sdb):
        sdb.execute(
            f"CREATE CUSTOM INDEX bc ON t (body) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'CONTAINS'}"
        )
        got = {
            pat: [x.id for x in sdb.execute(
                f"SELECT id FROM t WHERE body LIKE '{pat}'").collect()]
            for pat in ("%beta%", "%gamma", "alpha%")
        }
        assert got == {"%beta%": [1, 2], "%gamma": [2], "alpha%": [1]}

    def test_analyzed_contains_rejects_prefix_and_eq(self, sdb):
        # ColumnIndex.supports:225-226 — tokenized indexes serve neither
        # EQ nor (in CONTAINS mode) PREFIX
        sdb.execute(
            f"CREATE CUSTOM INDEX ba ON t (body) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'CONTAINS', 'analyzed': 'true'}"
        )
        r = sdb.execute("SELECT id FROM t WHERE body LIKE '%beta%'").collect()
        assert [x.id for x in r] == [1, 2]
        with pytest.raises(InvalidRequest, match="properly indexed"):
            sdb.execute("SELECT id FROM t WHERE body LIKE 'alpha%'")
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            sdb.execute("SELECT id FROM t WHERE body = 'alpha beta'")

    def test_sparse_gates(self, sdb):
        from cassandra_pmem_spark.cql.validator import ConfigurationException

        with pytest.raises(
            ConfigurationException,
            match="SPARSE mode is only supported on non-literal columns.",
        ):
            sdb.execute(
                f"CREATE CUSTOM INDEX bs ON t (body) USING {self.SASI} "
                "WITH OPTIONS = {'mode': 'SPARSE'}"
            )
        with pytest.raises(
            ConfigurationException, match="SPARSE mode doesn't support analyzers."
        ):
            sdb.execute(
                f"CREATE CUSTOM INDEX ns ON t (n) USING {self.SASI} "
                "WITH OPTIONS = {'mode': 'SPARSE', 'analyzed': 'true'}"
            )
        # SPARSE on a non-literal column is fine and serves EQ
        sdb.execute(
            f"CREATE CUSTOM INDEX ns2 ON t (n) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'SPARSE'}"
        )
        r = sdb.execute("SELECT id FROM t WHERE n = 7").collect()
        assert [x.id for x in r] == [2]

    def test_incorrect_mode_and_pk_rejections(self, sdb):
        from cassandra_pmem_spark.cql.validator import ConfigurationException

        with pytest.raises(
            ConfigurationException, match="Incorrect index mode: WAT"
        ):
            sdb.execute(
                f"CREATE CUSTOM INDEX bw ON t (body) USING {self.SASI} "
                "WITH OPTIONS = {'mode': 'WAT'}"
            )
        # SASI rejects ANY partition-key component (SASIIndex.java:150-151)
        sdb.execute(
            "CREATE TABLE t2 (a int, b int, c text, v int, "
            "PRIMARY KEY ((a, b), c))"
        )
        with pytest.raises(
            InvalidRequest, match="partition key columns are not yet supported"
        ):
            sdb.execute(f"CREATE CUSTOM INDEX ax ON t2 (a) USING {self.SASI}")

    def test_is_literal_override(self, sdb):
        # is_literal='false' on a text column: LIKE family needs a literal
        # index (ColumnIndex.supports:221-222) — every shape rejects
        sdb.execute(
            f"CREATE CUSTOM INDEX bl ON t (body) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'PREFIX', 'is_literal': 'false'}"
        )
        with pytest.raises(InvalidRequest, match="properly indexed"):
            sdb.execute("SELECT id FROM t WHERE body LIKE 'alpha%'")


class TestSasiAnalyzedMatching:
    """ANALYZED match semantics (Expression.validateStringValue:272-307 —
    the column runs through the index's analyzer, each TERM checked per
    op; ColumnIndex.java:82 isTokenized = analyzer.isTokenizing(), so a
    NonTokenizing analyzer keeps EQ servable)."""

    SASI = "'org.apache.cassandra.index.sasi.SASIIndex'"
    NT = "'org.apache.cassandra.index.sasi.analyzer.NonTokenizingAnalyzer'"

    @pytest.fixture()
    def adb(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        d = CqlDatabase(spark)
        d.execute(
            "CREATE KEYSPACE ank WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        d.execute("USE ank")
        d.execute("CREATE TABLE t (id int PRIMARY KEY, body text, nm text)")
        d.execute(
            "INSERT INTO t (id, body, nm) VALUES (1, 'The Quick Brown', 'Hot')"
        )
        d.execute("INSERT INTO t (id, body, nm) VALUES (2, 'brown fox', 'Cold')")
        d.execute(
            "INSERT INTO t (id, body, nm) VALUES (3, 'QUICKLY done', 'HOTTER')"
        )
        d.execute(
            f"CREATE CUSTOM INDEX bx ON t (body) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'CONTAINS', 'analyzed': 'true'}"
        )
        d.execute(
            f"CREATE CUSTOM INDEX nx ON t (nm) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'PREFIX', 'analyzer_class': "
            + self.NT
            + ", 'case_sensitive': 'false'}"
        )
        return d

    def q(self, db, sql):
        return sorted(r.id for r in db.execute(sql).collect())

    def test_standard_analyzer_matches_terms_not_raw(self, adb):
        # raw substring would miss 'The Quick Brown' (case) and match
        # nothing for 'QUICKLY done'; term matching finds both
        assert self.q(adb, "SELECT id FROM t WHERE body LIKE '%quick%'") == [1, 3]
        assert self.q(adb, "SELECT id FROM t WHERE body LIKE '%own'") == [1, 2]
        # MATCH = analyzed-term equality; 'the' is a stopword-adjacent
        # real term here ('fox' picked to avoid the stopword edge)
        assert self.q(adb, "SELECT id FROM t WHERE body LIKE 'fox'") == [2]

    def test_tokenized_contains_rejects_prefix_and_eq(self, adb):
        with pytest.raises(InvalidRequest, match="properly indexed"):
            adb.execute("SELECT id FROM t WHERE body LIKE 'qui%'")
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            adb.execute("SELECT id FROM t WHERE body = 'brown fox'")

    def test_nontokenizing_case_insensitive_prefix_and_eq(self, adb):
        assert self.q(adb, "SELECT id FROM t WHERE nm LIKE 'hot%'") == [1, 3]
        # NonTokenizing is NOT tokenizing — EQ stays servable; EQ
        # matching itself stays the raw comparison (RowFilter semantics)
        assert self.q(adb, "SELECT id FROM t WHERE nm = 'Cold'") == [2]

    def test_nontokenizing_default_is_case_sensitive(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        d = CqlDatabase(spark)
        d.execute(
            "CREATE KEYSPACE ank2 WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        d.execute("USE ank2")
        d.execute("CREATE TABLE t (id int PRIMARY KEY, nm text)")
        d.execute("INSERT INTO t (id, nm) VALUES (1, 'Hot')")
        d.execute("INSERT INTO t (id, nm) VALUES (2, 'hotter')")
        d.execute(
            f"CREATE CUSTOM INDEX nx ON t (nm) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'PREFIX', 'analyzer_class': "
            + self.NT
            + "}"
        )
        # caseSensitive defaults TRUE (NonTokenizingOptions:64,140-143)
        r = sorted(x.id for x in d.execute(
            "SELECT id FROM t WHERE nm LIKE 'hot%'").collect())
        assert r == [2]


class TestSasiDelimiterAnalyzer:
    """DelimiterAnalyzer (index/sasi/analyzer/DelimiterAnalyzer.java:
    78-104): split on ONE delimiter char (',' default —
    DelimiterTokenizingOptions:42), drop empty terms, NO case folding;
    isTokenizing() = true, so EQ is not servable and CONTAINS-mode
    PREFIX rejects."""

    SASI = "'org.apache.cassandra.index.sasi.SASIIndex'"
    DL = "'org.apache.cassandra.index.sasi.analyzer.DelimiterAnalyzer'"

    def test_delimiter_terms_and_gates(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from cassandra_pmem_spark.cql.validator import ConfigurationException

        d = CqlDatabase(spark)
        d.execute(
            "CREATE KEYSPACE dlk WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        d.execute("USE dlk")
        d.execute("CREATE TABLE t (id int PRIMARY KEY, tags text)")
        d.execute("INSERT INTO t (id, tags) VALUES (1, 'Red,green,,blue')")
        d.execute("INSERT INTO t (id, tags) VALUES (2, 'green apple')")
        d.execute("INSERT INTO t (id, tags) VALUES (3, 'red')")
        d.execute(
            f"CREATE CUSTOM INDEX tx ON t (tags) USING {self.SASI} "
            "WITH OPTIONS = {'mode': 'CONTAINS', 'analyzed': 'true', "
            "'analyzer_class': " + self.DL + "}"
        )

        def q(sql):
            return sorted(r.id for r in d.execute(sql).collect())

        # term match is case-SENSITIVE and per comma-delimited term:
        # id1 terms [Red, green, blue] (empty dropped); id2 has ONE term
        # 'green apple'; id3 [red]
        assert q("SELECT id FROM t WHERE tags LIKE 'green'") == [1]
        assert q("SELECT id FROM t WHERE tags LIKE '%green%'") == [1, 2]
        assert q("SELECT id FROM t WHERE tags LIKE 'red'") == [3]  # not 'Red'
        assert q("SELECT id FROM t WHERE tags LIKE '%ed'") == [1, 3]
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="properly indexed"):
            q("SELECT id FROM t WHERE tags LIKE 'gre%'")  # tokenized CONTAINS
        with pytest.raises(InvalidRequest, match="ALLOW FILTERING"):
            q("SELECT id FROM t WHERE tags = 'red'")  # tokenized: no EQ
        # multi-char delimiter rejects with the reference's message
        with pytest.raises(
            ConfigurationException,
            match="Only single character delimiters supported, was ::",
        ):
            d.execute(
                f"CREATE CUSTOM INDEX tx2 ON t (tags) USING {self.SASI} "
                "WITH OPTIONS = {'mode': 'CONTAINS', 'analyzed': 'true', "
                "'analyzer_class': " + self.DL + ", 'delimiter': '::'}"
            )


class TestSasiSupportsMatrixProperty:
    """Property pin of ColumnIndex.supports (ColumnIndex.java:219-230)
    against an independent restatement of the reference rules, across
    the full mode/analyzer/literal/op cross product."""

    def test_full_cross_product(self):
        from cassandra_pmem_spark.cql.validator import (
            SASI_MODE_OPS,
            sasi_supports,
        )

        ops = ["EQ", "MATCH", "PREFIX", "SUFFIX", "CONTAINS", "NOT_EQ", "RANGE"]
        for mode in ("PREFIX", "CONTAINS", "SPARSE"):
            for tokenized in (False, True):
                for is_literal in (False, True):
                    m = {
                        "mode": mode,
                        "analyzed": tokenized,
                        "tokenized": tokenized,
                        "is_literal": is_literal,
                    }
                    for op in ops:
                        got = sasi_supports(op, m)
                        # independent restatement of the Java conditions
                        want = op in SASI_MODE_OPS[mode]
                        if op in ("PREFIX", "SUFFIX", "CONTAINS", "MATCH") and not is_literal:
                            want = False
                        if tokenized and op == "EQ":
                            want = False
                        if tokenized and mode == "CONTAINS" and op == "PREFIX":
                            want = False
                        if is_literal and op == "RANGE":
                            want = False
                        assert got == want, (mode, tokenized, is_literal, op)
