"""CREATE MATERIALIZED VIEW statement surface (CreateViewStatement.java:
95-300; db/view/View.java; DropTableStatement.java:66-71;
ModificationStatement.java:264; TruncateStatement.java:66; test shapes
mirror test/unit/org/apache/cassandra/cql3/ViewTest.java)."""

import pytest

from cassandra_pmem_spark.cql.validator import InvalidRequest


@pytest.fixture()
def db(spark):
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE KEYSPACE mvt WITH REPLICATION = {'class': 'SimpleStrategy'}")
    db.execute("USE mvt")
    db.execute(
        "CREATE TABLE scores (game text, player text, score int, day int, "
        "PRIMARY KEY (game, player))"
    )
    return db


def _mk_view(db):
    db.execute(
        "CREATE MATERIALIZED VIEW high_scores AS "
        "SELECT game, player, score, day FROM scores "
        "WHERE game IS NOT NULL AND player IS NOT NULL AND score IS NOT NULL "
        "PRIMARY KEY (game, score, player) "
        "WITH CLUSTERING ORDER BY (score DESC, player ASC)"
    )


class TestViewDerivation:
    def test_view_reflects_base_and_filters_null_pk(self, db):
        _mk_view(db)
        db.execute("INSERT INTO scores (game, player, score, day) VALUES ('chess', 'ann', 10, 1)")
        db.execute("INSERT INTO scores (game, player, score, day) VALUES ('chess', 'bob', 30, 1)")
        # NULL score: invisible in the view (score is a view PK column)
        db.execute("INSERT INTO scores (game, player, day) VALUES ('chess', 'nil', 3)")
        r = db.execute(
            "SELECT player, score FROM high_scores WHERE game = 'chess' ORDER BY score DESC"
        ).collect()
        assert [(x.player, x.score) for x in r] == [("bob", 30), ("ann", 10)]
        # base sees all three
        assert db.execute("SELECT player FROM scores WHERE game = 'chess'").count() == 3

    def test_base_update_propagates(self, db):
        _mk_view(db)
        db.execute("INSERT INTO scores (game, player, score) VALUES ('go', 'dee', 5)")
        db.execute("UPDATE scores SET score = 50 WHERE game = 'go' AND player = 'dee'")
        r = db.execute("SELECT score FROM high_scores WHERE game = 'go'").collect()
        assert [x.score for x in r] == [50]

    def test_base_delete_propagates(self, db):
        _mk_view(db)
        db.execute("INSERT INTO scores (game, player, score) VALUES ('go', 'dee', 5)")
        db.execute("DELETE FROM scores WHERE game = 'go' AND player = 'dee'")
        assert db.execute("SELECT score FROM high_scores WHERE game = 'go'").count() == 0

    def test_writetime_passes_through_base_cells(self, db):
        _mk_view(db)
        db.execute(
            "INSERT INTO scores (game, player, score, day) VALUES ('go', 'dee', 5, 7) "
            "USING TIMESTAMP 4242"
        )
        r = db.execute(
            "SELECT writetime(day) AS wt FROM high_scores WHERE game = 'go'"
        ).collect()
        assert [x.wt for x in r] == [4242]

    def test_writetime_on_view_pk_part_rejected(self, db):
        # score is a VIEW PK part even though it is a base regular column
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="PRIMARY KEY part"):
            db.execute("SELECT writetime(score) FROM high_scores")

    def test_order_by_uses_view_clustering(self, db):
        _mk_view(db)
        for p, s in [("a", 1), ("b", 3), ("c", 2)]:
            db.execute(
                f"INSERT INTO scores (game, player, score) VALUES ('x', '{p}', {s})"
            )
        r = db.execute(
            "SELECT player FROM high_scores WHERE game = 'x' ORDER BY score DESC"
        ).collect()
        assert [x.player for x in r] == ["b", "c", "a"]


class TestViewGates:
    def test_modify_view_rejected(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="Cannot directly modify"):
            db.execute("INSERT INTO high_scores (game, player, score) VALUES ('x', 'y', 1)")
        with pytest.raises(InvalidRequest, match="Cannot TRUNCATE materialized view"):
            db.execute("TRUNCATE high_scores")

    def test_drop_table_on_view_rejected(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="Cannot use DROP TABLE on a materialized view"):
            db.execute("DROP TABLE high_scores")

    def test_drop_base_with_dependent_view_rejected(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="still depend on it"):
            db.execute("DROP TABLE scores")
        db.execute("DROP MATERIALIZED VIEW high_scores")
        db.execute("DROP TABLE scores")  # allowed once the view is gone

    def test_view_pk_must_be_is_not_null_restricted(self, db):
        with pytest.raises(InvalidRequest, match="must be restricted"):
            db.execute(
                "CREATE MATERIALIZED VIEW v AS SELECT game, player FROM scores "
                "WHERE game IS NOT NULL PRIMARY KEY (game, player)"
            )

    def test_at_most_one_non_pk_column_in_view_pk(self, db):
        with pytest.raises(InvalidRequest, match="more than one non-primary key column"):
            db.execute(
                "CREATE MATERIALIZED VIEW v AS SELECT game, player, score, day "
                "FROM scores WHERE game IS NOT NULL AND player IS NOT NULL AND "
                "score IS NOT NULL AND day IS NOT NULL "
                "PRIMARY KEY (game, score, day, player)"
            )

    def test_all_base_pk_columns_required(self, db):
        with pytest.raises(InvalidRequest, match="without primary key columns"):
            db.execute(
                "CREATE MATERIALIZED VIEW v AS SELECT player, score FROM scores "
                "WHERE player IS NOT NULL AND score IS NOT NULL "
                "PRIMARY KEY (score, player)"
            )

    def test_view_pk_column_must_be_selected(self, db):
        with pytest.raises(InvalidRequest, match="Unknown column 'score' referenced"):
            db.execute(
                "CREATE MATERIALIZED VIEW v AS SELECT game, player, day FROM scores "
                "WHERE game IS NOT NULL AND player IS NOT NULL AND score IS NOT NULL "
                "PRIMARY KEY (game, score, player)"
            )

    def test_view_on_view_rejected(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="against other"):
            db.execute(
                "CREATE MATERIALIZED VIEW v2 AS SELECT game, player FROM high_scores "
                "WHERE game IS NOT NULL AND player IS NOT NULL "
                "PRIMARY KEY (game, player)"
            )

    def test_alter_drop_selected_column_rejected(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="Cannot drop column"):
            db.execute("ALTER TABLE scores DROP day")

    def _rename_fixture(self, db):
        db.execute("CREATE TABLE t (k int, c int, v int, PRIMARY KEY (k, c))")
        db.execute(
            "CREATE MATERIALIZED VIEW mv AS SELECT k, c, v FROM t "
            "WHERE k IS NOT NULL AND c IS NOT NULL AND c > 0 "
            "PRIMARY KEY (c, k)"
        )

    def test_alter_rename_selected_pk_column_renames_it_in_the_view(self, db):
        # AlterTableStatement.RenameColumns renames the view's column; a
        # RENAME is not a DROP of the old name
        self._rename_fixture(db)
        db.execute("ALTER TABLE mvt.t RENAME c TO cc")
        db.execute("INSERT INTO mvt.t (k, cc, v) VALUES (1, 2, 3)")
        db.execute("INSERT INTO mvt.t (k, cc, v) VALUES (4, 0, 5)")
        got = [tuple(r) for r in db.execute("SELECT cc, k, v FROM mvt.mv").collect()]
        assert got == [(2, 1, 3)]

    def test_rename_under_buffered_writes_renames_the_view(self, db):
        self._rename_fixture(db)
        db.execute("INSERT INTO mvt.t (k, c, v) VALUES (1, 2, 3)")
        db.execute("ALTER TABLE mvt.t RENAME c TO cc")
        base = [tuple(r) for r in db.execute("SELECT k, cc, v FROM mvt.t").collect()]
        assert base == [(1, 2, 3)]
        got = [tuple(r) for r in db.execute("SELECT cc, k, v FROM mvt.mv").collect()]
        assert got == [(2, 1, 3)]

    def test_counter_base_rejected(self, db):
        db.execute("CREATE TABLE ctr (k int PRIMARY KEY, n counter)")
        with pytest.raises(InvalidRequest, match="not supported on counter tables"):
            db.execute(
                "CREATE MATERIALIZED VIEW cv AS SELECT k, n FROM ctr "
                "WHERE k IS NOT NULL AND n IS NOT NULL PRIMARY KEY (n, k)"
            )

    def test_non_pk_relation_rejected(self, db):
        # CASSANDRA-13798: only IS NOT NULL on non-PK base columns
        with pytest.raises(InvalidRequest, match="restricted illegally"):
            db.execute(
                "CREATE MATERIALIZED VIEW v AS SELECT game, player, score FROM scores "
                "WHERE game IS NOT NULL AND player IS NOT NULL AND score > 0 "
                "PRIMARY KEY (game, score, player)"
            )

    def test_base_pk_relation_filters_view(self, db):
        # a literal relation on a base PK column restricts view content
        db.execute(
            "CREATE MATERIALIZED VIEW chess_only AS "
            "SELECT game, player, score FROM scores "
            "WHERE game = 'chess' AND player IS NOT NULL AND score IS NOT NULL "
            "PRIMARY KEY (game, score, player)"
        )
        db.execute("INSERT INTO scores (game, player, score) VALUES ('chess', 'a', 1)")
        db.execute("INSERT INTO scores (game, player, score) VALUES ('go', 'b', 2)")
        r = db.execute("SELECT game FROM chess_only").collect()
        assert [x.game for x in r] == ["chess"]

    def test_duplicate_view_and_if_not_exists(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="already exists"):
            _mk_view(db)
        db.execute(
            "CREATE MATERIALIZED VIEW IF NOT EXISTS high_scores AS "
            "SELECT game, player, score FROM scores "
            "WHERE game IS NOT NULL AND player IS NOT NULL AND score IS NOT NULL "
            "PRIMARY KEY (game, score, player)"
        )

    def test_drop_keyspace_cascades_views(self, db):
        _mk_view(db)
        db.execute("DROP KEYSPACE mvt")
        assert ("mvt", "high_scores") not in db.registry.views
        assert ("mvt", "scores") not in db.registry.tables


class TestReviewRegressions:
    def test_non_pk_is_not_null_filters_view(self, db):
        # EVERY IS NOT NULL in the WHERE clause filters view content,
        # not only the view PK columns
        db.execute(
            "CREATE MATERIALIZED VIEW vd AS SELECT game, player, day FROM scores "
            "WHERE game IS NOT NULL AND player IS NOT NULL AND day IS NOT NULL "
            "PRIMARY KEY (game, player)"
        )
        db.execute("INSERT INTO scores (game, player, score, day) VALUES ('x', 'a', 1, 7)")
        db.execute("INSERT INTO scores (game, player, score) VALUES ('x', 'b', 2)")  # day NULL
        r = db.execute("SELECT player FROM vd WHERE game = 'x'").collect()
        assert [p.player for p in r] == ["a"]

    def test_unknown_where_column_rejected(self, db):
        with pytest.raises(InvalidRequest, match="Unknown column 'bogus'"):
            db.execute(
                "CREATE MATERIALIZED VIEW vb AS SELECT game, player FROM scores "
                "WHERE game IS NOT NULL AND player IS NOT NULL AND bogus IS NOT NULL "
                "PRIMARY KEY (game, player)"
            )

    def test_batch_inner_statement_cannot_modify_view(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="Cannot directly modify"):
            db.execute(
                "BEGIN BATCH INSERT INTO high_scores (game, player, score) "
                "VALUES ('x', 'y', 1); APPLY BATCH"
            )

    def test_collection_writetime_keeps_list_shape_through_view(self, db):
        # per-cell liveness maps ride through the view derivation
        db.execute("CREATE TABLE kv2 (k bigint PRIMARY KEY, m map<text, bigint>)")
        db.execute(
            "CREATE MATERIALIZED VIEW kv2v AS SELECT k, m FROM kv2 "
            "WHERE k IS NOT NULL PRIMARY KEY (k)"
        )
        db.execute("INSERT INTO kv2 (k, m) VALUES (1, {'a': 1}) USING TIMESTAMP 100")
        db.execute("UPDATE kv2 USING TIMESTAMP 200 SET m['b'] = 2 WHERE k = 1")
        base = db.execute("SELECT writetime(m) AS w FROM kv2").collect()[0].w
        view = db.execute("SELECT writetime(m) AS w FROM kv2v").collect()[0].w
        assert base == [100, 200] and view == [100, 200]


class TestAlterView:
    """ALTER MATERIALIZED VIEW ... WITH (Parser.g st40;
    AlterViewStatement.java:44-71) — the params-only form, round 10."""

    def test_alter_stores_params(self, db):
        _mk_view(db)
        db.execute(
            "ALTER MATERIALIZED VIEW high_scores WITH "
            "gc_grace_seconds = 3600 AND comment = 'leaderboard'"
        )
        vp = db.registry.view_params[("mvt", "high_scores")]
        assert vp == {"gc_grace_seconds": 3600, "comment": "leaderboard"}
        # later ALTER merges over the earlier params
        db.execute("ALTER MATERIALIZED VIEW high_scores WITH comment = 'v2'")
        vp = db.registry.view_params[("mvt", "high_scores")]
        assert vp == {"gc_grace_seconds": 3600, "comment": "v2"}

    def test_missing_view_errors(self, db):
        with pytest.raises(InvalidRequest, match="doesn't exist"):
            db.execute("ALTER MATERIALIZED VIEW nope WITH comment = 'x'")

    def test_default_ttl_rejected(self, db):
        # AlterViewStatement.java:66-71 — view data expires with the base
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="default_time_to_live"):
            db.execute(
                "ALTER MATERIALIZED VIEW high_scores WITH default_time_to_live = 60"
            )
        # an explicit 0 is the reference-permitted no-op
        db.execute(
            "ALTER MATERIALIZED VIEW high_scores WITH default_time_to_live = 0"
        )

    def test_gc_grace_zero_rejected(self, db):
        # AlterViewStatement.java:59-64 — 0 would expire undelivered updates
        _mk_view(db)
        with pytest.raises(InvalidRequest, match="gc_grace_seconds"):
            db.execute(
                "ALTER MATERIALIZED VIEW high_scores WITH gc_grace_seconds = 0"
            )

    def test_pk_change_does_not_parse(self, db):
        _mk_view(db)
        with pytest.raises(InvalidRequest):
            db.execute("ALTER MATERIALIZED VIEW high_scores ADD extra int")

    def test_drop_view_clears_params(self, db):
        _mk_view(db)
        db.execute("ALTER MATERIALIZED VIEW high_scores WITH comment = 'x'")
        db.execute("DROP MATERIALIZED VIEW high_scores")
        assert ("mvt", "high_scores") not in db.registry.view_params
