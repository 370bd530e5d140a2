"""CQL write-statement tests — the InsertTest / UpdateTest / DeleteTest /
TTLTest / BatchTest golden-row patterns from the reference's
validation/operations suite, driven through CqlWriteSession.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
from cassandra_pmem_spark.cql.validator import InvalidRequest
from cassandra_pmem_spark.cql.writes import CqlWriteSession

META = TableMeta(
    "kv",
    T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    ),
    partition_key=("k",),
    clustering=(ClusteringColumn("c"),),
)


@pytest.fixture()
def sess(spark):
    return CqlWriteSession(spark, META)


def rows(df, *cols):
    return sorted(tuple(r) for r in (df.select(*cols) if cols else df).collect())


class TestInsertUpdate:
    def test_insert_then_select(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'x', 'y')")
        assert rows(sess.table(), "k", "c", "a", "b") == [(1, 1, "x", "y")]

    def test_insert_is_upsert(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'old')")
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'new')")
        assert rows(sess.table(), "a") == [("new",)]

    def test_update_touches_only_named_cells(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'a0', 'b0')")
        sess.execute("UPDATE kv SET a = 'a1' WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "a", "b") == [("a1", "b0")]

    def test_using_timestamp_lww(self, sess):
        # explicit timestamps: the OLDER write arrives second but loses
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'newer') USING TIMESTAMP 100")
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'older') USING TIMESTAMP 50")
        assert rows(sess.table(), "a") == [("newer",)]

    def test_cell_level_lww_disjoint_writes(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'a0', 'b0') USING TIMESTAMP 10")
        sess.execute("UPDATE kv USING TIMESTAMP 20 SET a = 'a1' WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv USING TIMESTAMP 15 SET b = 'b1' WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "a", "b") == [("a1", "b1")]

    def test_bind_markers(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (?, ?, ?)", params=[7, 8, "bound"])
        assert rows(sess.table(), "k", "c", "a") == [(7, 8, "bound")]

    def test_missing_pk_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="primary key"):
            sess.execute("INSERT INTO kv (k, a) VALUES (1, 'x')")

    def test_unknown_column_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="unknown columns"):
            sess.execute("INSERT INTO kv (k, c, zz) VALUES (1, 1, 'x')")


class TestCounters:
    def test_counter_increments_fold(self, sess):
        sess.execute("UPDATE kv SET n = n + 5 WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv SET n = n + 3 WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv SET n = n - 2 WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "k", "c", "n") == [(1, 1, 6)]

    def test_deltas_fold_per_key_around_a_row_delete(self, sess):
        # one key's deltas interleave with another key's; the other key's
        # row delete must not touch the first key's sum
        sess.execute("UPDATE kv SET n = n + 5 WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv SET n = n + 3 WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv SET n = n + 7 WHERE k = 2 AND c = 1")
        sess.execute("UPDATE kv SET n = n - 2 WHERE k = 1 AND c = 1")
        sess.execute("DELETE FROM kv WHERE k = 2 AND c = 1")
        sess.execute("UPDATE kv SET n = n + 4 WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "k", "c", "n") == [(1, 1, 10)]


class TestDelete:
    def test_row_delete(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x')")
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 2, 'y')")
        sess.execute("DELETE FROM kv WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "k", "c", "a") == [(1, 2, "y")]

    def test_delete_shadows_by_timestamp_then_reinsert(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'a0', 'b0') USING TIMESTAMP 10")
        sess.execute("DELETE FROM kv USING TIMESTAMP 20 WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv USING TIMESTAMP 30 SET a = 'a1' WHERE k = 1 AND c = 1")
        # b0@10 stays shadowed by the delete@20; only a1@30 is visible
        assert rows(sess.table(), "k", "c", "a", "b") == [(1, 1, "a1", None)]

    def test_old_delete_does_not_shadow_newer_row(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'live') USING TIMESTAMP 100")
        sess.execute("DELETE FROM kv USING TIMESTAMP 50 WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "a") == [("live",)]

    def test_column_delete(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'x', 'y')")
        sess.execute("DELETE b FROM kv WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "a", "b") == [("x", None)]

    def test_column_delete_then_newer_write_survives(self, sess):
        sess.execute("INSERT INTO kv (k, c, b) VALUES (1, 1, 'old') USING TIMESTAMP 10")
        sess.execute("DELETE b FROM kv USING TIMESTAMP 20 WHERE k = 1 AND c = 1")
        sess.execute("UPDATE kv USING TIMESTAMP 30 SET b = 'new' WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "b") == [("new",)]


class TestRangeDelete:
    def test_clustering_range_delete(self, sess):
        for c in range(1, 6):
            sess.execute(f"INSERT INTO kv (k, c, a) VALUES (1, {c}, 'r{c}')")
        sess.execute("DELETE FROM kv WHERE k = 1 AND c > 1 AND c <= 4")
        assert rows(sess.table(), "c") == [(1,), (5,)]

    def test_open_ended_range(self, sess):
        for c in (1, 2, 3):
            sess.execute(f"INSERT INTO kv (k, c, a) VALUES (1, {c}, 'x')")
            sess.execute(f"INSERT INTO kv (k, c, a) VALUES (2, {c}, 'y')")
        sess.execute("DELETE FROM kv WHERE k = 1 AND c >= 2")
        # only partition k=1 is affected
        assert rows(sess.table(), "k", "c") == [(1, 1), (2, 1), (2, 2), (2, 3)]

    def test_range_delete_shadows_by_timestamp(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 5, 'old') USING TIMESTAMP 10")
        sess.execute("DELETE FROM kv USING TIMESTAMP 20 WHERE k = 1 AND c > 0")
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 6, 'new') USING TIMESTAMP 30")
        assert rows(sess.table(), "c", "a") == [(6, "new")]

    def test_range_delete_requires_full_pk(self, sess):
        with pytest.raises(InvalidRequest, match="full partition key"):
            sess.execute("DELETE FROM kv WHERE c > 1")

    def test_range_delete_rejects_regular_column_range(self, sess):
        with pytest.raises(InvalidRequest, match="clustering"):
            sess.execute("DELETE FROM kv WHERE k = 1 AND n > 1")


class TestTtl:
    def test_ttl_expiry_at_read_time(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'fades') USING TIMESTAMP 100 AND TTL 50")
        sess.execute("INSERT INTO kv (k, c, a) VALUES (2, 1, 'stays') USING TIMESTAMP 100")
        assert rows(sess.table(now=120), "k", "a") == [(1, "fades"), (2, "stays")]
        assert rows(sess.table(now=151), "k", "a") == [(2, "stays")]

    def test_ttl_boundary_exact(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TIMESTAMP 10 AND TTL 10")
        # live while now <= writetime + ttl is false only strictly after
        assert rows(sess.table(now=20), "k") == []


class TestInsertJson:
    def test_insert_json_row(self, sess):
        sess.execute('INSERT INTO kv JSON \'{"k": 1, "c": 2, "a": "from json"}\'')
        assert rows(sess.table(), "k", "c", "a") == [(1, 2, "from json")]

    def test_insert_json_bind_marker_and_lww(self, sess):
        sess.execute("INSERT INTO kv JSON ? USING TIMESTAMP 10", params=['{"k":1,"c":1,"a":"v1"}'])
        sess.execute("INSERT INTO kv JSON ? USING TIMESTAMP 20", params=['{"k":1,"c":1,"a":"v2"}'])
        assert rows(sess.table(), "a") == [("v2",)]

    def test_insert_json_default_null_expunges_omitted(self, sess):
        """The reference DEFAULT for INSERT JSON is NULL: regular columns
        omitted from the JSON map are written as null, i.e. deleted
        (CASSANDRA-11424; UpdateStatement.ParsedInsertJson)."""
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'old_a', 'old_b')")
        sess.execute('INSERT INTO kv JSON \'{"k": 1, "c": 1, "a": "new_a"}\'')
        assert rows(sess.table(), "a", "b", "n") == [("new_a", None, None)]

    def test_insert_json_explicit_default_null(self, sess):
        sess.execute("INSERT INTO kv (k, c, b) VALUES (1, 1, 'old_b')")
        sess.execute('INSERT INTO kv JSON \'{"k": 1, "c": 1}\' DEFAULT NULL')
        assert rows(sess.table(), "a", "b") == [(None, None)]

    def test_insert_json_default_unset_preserves_omitted(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'old_a', 'old_b')")
        sess.execute(
            'INSERT INTO kv JSON \'{"k": 1, "c": 1, "a": "new_a"}\' DEFAULT UNSET'
        )
        assert rows(sess.table(), "a", "b") == [("new_a", "old_b")]

    def test_insert_json_default_unset_lww_still_applies(self, sess):
        sess.execute("INSERT INTO kv JSON ? USING TIMESTAMP 10", params=['{"k":1,"c":1,"a":"v1","b":"w1"}'])
        sess.execute(
            "INSERT INTO kv JSON ? DEFAULT UNSET USING TIMESTAMP 20",
            params=['{"k":1,"c":1,"a":"v2"}'],
        )
        assert rows(sess.table(), "a", "b") == [("v2", "w1")]

    def test_insert_json_default_requires_null_or_unset(self, sess):
        with pytest.raises(InvalidRequest, match="NULL or UNSET"):
            sess.execute('INSERT INTO kv JSON \'{"k":1,"c":1}\' DEFAULT banana')

    def test_insert_json_rejects_bad_payloads(self, sess):
        with pytest.raises(InvalidRequest, match="invalid JSON"):
            sess.execute("INSERT INTO kv JSON '{not json'")
        with pytest.raises(InvalidRequest, match="JSON object"):
            sess.execute("INSERT INTO kv JSON '[1,2]'")
        with pytest.raises(InvalidRequest, match="unknown columns"):
            sess.execute('INSERT INTO kv JSON \'{"k":1,"c":1,"nope":2}\'')


class TestBatch:
    def test_logged_batch_applies_all(self, sess):
        sess.execute(
            """
            BEGIN BATCH
              INSERT INTO kv (k, c, a) VALUES (1, 1, 'one');
              INSERT INTO kv (k, c, a) VALUES (2, 1, 'two');
              UPDATE kv SET b = 'b2' WHERE k = 2 AND c = 1;
            APPLY BATCH
            """
        )
        assert rows(sess.table(), "k", "c", "a", "b") == [
            (1, 1, "one", None),
            (2, 1, "two", "b2"),
        ]


    def test_batch_literal_with_semicolon_and_apply(self, sess):
        # statement splitting must respect string literals: ';' and the
        # word 'apply' inside a value must not break the batch
        sess.execute(
            """
            BEGIN BATCH
              INSERT INTO kv (k, c, a) VALUES (1, 1, 'semi;colon');
              INSERT INTO kv (k, c, a) VALUES (2, 1, 'please apply; thanks');
            APPLY BATCH
            """
        )
        assert rows(sess.table(), "k", "a") == [
            (1, "semi;colon"),
            (2, "please apply; thanks"),
        ]

    def test_batch_bind_markers_span_statements(self, sess):
        # one shared param cursor: markers bind left-to-right across the
        # inner statements, not from index 0 per statement
        sess.execute(
            """
            BEGIN BATCH
              INSERT INTO kv (k, c, a) VALUES (?, ?, ?);
              INSERT INTO kv (k, c, a) VALUES (?, ?, ?);
            APPLY BATCH
            """,
            params=[1, 1, "first", 2, 2, "second"],
        )
        assert rows(sess.table(), "k", "c", "a") == [(1, 1, "first"), (2, 2, "second")]

    def test_batch_shared_timestamp_delete_beats_insert(self, sess):
        # BatchStatement stamps ONE coordinator timestamp on every inner
        # statement; at the shared timestamp a tombstone shadows the
        # insert, so insert-then-delete in one batch leaves nothing
        sess.execute(
            """
            BEGIN BATCH
              INSERT INTO kv (k, c, a) VALUES (5, 5, 'doomed');
              DELETE FROM kv WHERE k = 5 AND c = 5;
            APPLY BATCH
            """
        )
        assert rows(sess.table(), "k") == []

    def test_batch_using_timestamp(self, sess):
        sess.execute(
            """
            BEGIN BATCH USING TIMESTAMP 50
              INSERT INTO kv (k, c, a) VALUES (1, 1, 'batch50');
            APPLY BATCH
            """
        )
        # a later write with an older explicit timestamp loses to it
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'older') USING TIMESTAMP 40")
        assert rows(sess.table(), "a") == [("batch50",)]

    def test_unlogged_batch_accepted(self, sess):
        sess.execute(
            "BEGIN UNLOGGED BATCH INSERT INTO kv (k, c, a) VALUES (1, 1, 'u'); APPLY BATCH"
        )
        assert rows(sess.table(), "a") == [("u",)]

    def test_batch_without_apply_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="APPLY BATCH"):
            sess.execute("BEGIN BATCH INSERT INTO kv (k, c, a) VALUES (1, 1, 'x')")

    def test_rejected_batch_applies_nothing(self, sess):
        # prepare-then-apply (BatchStatement.java): per-statement semantic
        # validation that only fires at apply time (here: TTL bounds) must
        # not leave the earlier statements' mutations buffered
        with pytest.raises(InvalidRequest, match="TTL"):
            sess.execute(
                """
                BEGIN BATCH
                  INSERT INTO kv (k, c, a) VALUES (1, 1, 'kept?');
                  INSERT INTO kv (k, c, a) VALUES (2, 1, 'bad') USING TTL -5;
                APPLY BATCH
                """
            )
        assert rows(sess.table(), "k") == []

    def test_rejected_batch_pk_in_set_applies_nothing(self, sess):
        with pytest.raises(InvalidRequest, match="PRIMARY KEY part"):
            sess.execute(
                """
                BEGIN BATCH
                  INSERT INTO kv (k, c, a) VALUES (1, 1, 'kept?');
                  UPDATE kv SET c = 9 WHERE k = 1 AND c = 1;
                APPLY BATCH
                """
            )
        assert rows(sess.table(), "k") == []

    def test_rejected_batch_unknown_column_applies_nothing(self, sess):
        with pytest.raises(InvalidRequest):
            sess.execute(
                """
                BEGIN BATCH
                  INSERT INTO kv (k, c, a) VALUES (1, 1, 'kept?');
                  INSERT INTO kv (k, c, nope) VALUES (2, 1, 'bad');
                APPLY BATCH
                """
            )
        assert rows(sess.table(), "k") == []

    def test_failed_condition_rolls_back_whole_batch(self, sess):
        # a conditional batch is all-or-nothing: when the IF does not
        # apply, even the unconditional statements in the batch are void
        applied = sess.execute(
            """
            BEGIN BATCH
              INSERT INTO kv (k, c, a) VALUES (1, 1, 'uncond');
              UPDATE kv SET a = 'cond' WHERE k = 9 AND c = 9 IF EXISTS;
            APPLY BATCH
            """
        )
        assert applied is False
        assert rows(sess.table(), "k") == []

    def test_rejected_batch_keeps_pre_batch_rows(self, sess):
        # rollback must truncate to the pre-batch watermark, not clear
        sess.execute("INSERT INTO kv (k, c, a) VALUES (7, 7, 'pre')")
        with pytest.raises(InvalidRequest, match="TTL"):
            sess.execute(
                """
                BEGIN BATCH
                  DELETE FROM kv WHERE k = 7 AND c = 7;
                  INSERT INTO kv (k, c, a) VALUES (8, 8, 'bad') USING TTL -5;
                APPLY BATCH
                """
            )
        assert rows(sess.table(), "k", "a") == [(7, "pre")]


_AB_META = TableMeta(
    "a",
    T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    ),
    partition_key=("k",),
)
_INSERT_A = "INSERT INTO a (k, v) VALUES (:k, 'x'); "
_INSERT_B = "INSERT INTO b (k, v) VALUES (:k, 'y'); "
_PARAMS = {"ts": 5, "k": 1}
# (header, trailer) around the inner statements, and the outcome every
# entry path must give: the rows (k, v, writetime(v)) of each target
# table, or the InvalidRequest message (then no table holds a row)
_PARITY_CASES = {
    "named_timestamp": (
        "BEGIN BATCH USING TIMESTAMP :ts ", "APPLY BATCH",
        {"a": [(1, "x", 5)], "b": [(1, "y", 5)]},
    ),
    "positional_timestamp_with_dict": (
        "BEGIN BATCH USING TIMESTAMP ? ", "APPLY BATCH",
        "positional ? markers cannot bind named parameters (use :name markers with a dict)",
    ),
    "named_timestamp_and_ttl": (
        "BEGIN BATCH USING TIMESTAMP :ts AND TTL 5 ", "APPLY BATCH",
        "Global TTL on the BATCH statement is not supported.",
    ),
    "nested_batch": (
        "BEGIN BATCH BEGIN BATCH ", "APPLY BATCH; APPLY BATCH",
        "Only INSERT, UPDATE and DELETE are allowed in BATCH",
    ),
}
# entry path -> the tables its batch writes
_PATH_TABLES = {
    "session": ("a",),
    "database_one_table": ("a",),
    "database_two_tables": ("a", "b"),
}


class TestBatchEntryParity:
    """A batch gives the same rows and writetimes, or the same rejection,
    through a standalone session, through CqlDatabase with one target
    table, and through CqlDatabase with two (BatchStatement.java:56 has
    one implementation for single- and multi-table batches)."""

    @staticmethod
    def _outcome(run, tables):
        try:
            run()
        except InvalidRequest as e:
            assert all(t() == [] for t in tables.values())  # applied nothing
            return str(e)
        return {name: t() for name, t in tables.items()}

    def _session(self, spark, header, trailer):
        sess = CqlWriteSession(spark, _AB_META)
        return self._outcome(
            lambda: sess.execute(header + _INSERT_A + trailer, _PARAMS),
            {"a": lambda: rows(sess.table(with_shadows=True), "k", "v", "_writetime_v")},
        )

    def _database(self, spark, header, trailer, names):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        for t in ("a", "b"):
            db.execute(f"CREATE TABLE {t} (k int PRIMARY KEY, v text)")
        inner = {"a": _INSERT_A, "b": _INSERT_B}
        cql = header + "".join(inner[t] for t in names) + trailer
        return self._outcome(
            lambda: db.execute(cql, _PARAMS),
            {
                t: lambda t=t: rows(db.execute(f"SELECT k, v, writetime(v) FROM {t}"))
                for t in names
            },
        )

    @pytest.mark.parametrize("path", sorted(_PATH_TABLES))
    @pytest.mark.parametrize("case", sorted(_PARITY_CASES))
    def test_same_outcome_on_every_entry_path(self, spark, case, path):
        header, trailer, expected = _PARITY_CASES[case]
        names = _PATH_TABLES[path]
        if path == "session":
            got = self._session(spark, header, trailer)
        else:
            got = self._database(spark, header, trailer, names)
        if isinstance(expected, dict):
            expected = {t: expected[t] for t in names}
        assert got == expected


class TestNullKeyRefused:
    """SingleColumnRestriction appendTo: a null in a WHERE =/IN key
    relation is refused, so no buffered mutation or tombstone carries a
    null key part."""

    @pytest.mark.parametrize(
        "stmt, params",
        [
            ("UPDATE kv SET a = 'x' WHERE k = null AND c = 1", None),
            ("UPDATE kv SET n = n + 1 WHERE k = ? AND c = 1", [None]),
            ("UPDATE kv SET a = 'x' WHERE k = 1 AND c IN (1, null)", None),
            ("DELETE FROM kv WHERE k = ? AND c = 1", [None]),
            ("DELETE a FROM kv WHERE k = 1 AND c = null", None),
            ("DELETE FROM kv WHERE k = null AND c >= 1", None),
        ],
    )
    def test_null_key_relation_refused(self, sess, stmt, params):
        with pytest.raises(InvalidRequest, match="Invalid null value in condition"):
            sess.execute(stmt, params=params)
        assert not (sess._mutations or sess._row_tombs or sess._cell_tombs)
        assert not sess._range_tombs


class TestPrimaryKeyInSet:
    def test_update_set_on_partition_key_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="PRIMARY KEY part"):
            sess.execute("UPDATE kv SET k = 5 WHERE k = 1 AND c = 1")

    def test_update_set_on_clustering_key_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="PRIMARY KEY part"):
            sess.execute("UPDATE kv SET c = 5 WHERE k = 1 AND c = 1")


class TestBaseTable:
    def test_mutations_over_base_dataframe(self, spark):
        base = spark.createDataFrame(
            [(1, 1, "base_a", "base_b", 0), (2, 1, "x", "y", 0)], META.schema
        )
        sess = CqlWriteSession(spark, META, base=base)
        sess.execute("UPDATE kv SET a = 'patched' WHERE k = 1 AND c = 1")
        sess.execute("DELETE FROM kv WHERE k = 2 AND c = 1")
        assert rows(sess.table(), "k", "c", "a", "b") == [(1, 1, "patched", "base_b")]


class TestTruncate:
    def test_truncate_drops_everything(self, spark):
        base = spark.createDataFrame([(9, 9, "base", None, 0)], META.schema)
        sess = CqlWriteSession(spark, META, base=base)
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x')")
        sess.execute("DELETE FROM kv WHERE k = 9 AND c = 9")
        assert sess.execute("TRUNCATE kv")
        assert sess.table().count() == 0
        # writes after TRUNCATE start fresh
        sess.execute("INSERT INTO kv (k, c, a) VALUES (2, 2, 'fresh')")
        assert rows(sess.table(), "k", "c", "a") == [(2, 2, "fresh")]


class TestCollectionMutationRejections:
    """Reference rejection cases for textual collection mutations, ported
    from cql3/validation/entities/CollectionsTest.java and
    FrozenCollectionsTest.java (testInvalidOperations): frozen collections
    take full-value writes only; sets reject element assignment/deletes;
    element ops on non-collections are invalid; the reference-legal
    list/map element writes are surfaced as explicit not-implemented
    rejections pointing at the DataFrame operators."""

    def _db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute(
            "CREATE TABLE coll (k bigint PRIMARY KEY, l list<text>, "
            "s set<text>, m map<text, bigint>, fl frozen<list<text>>, "
            "fs frozen<set<text>>, v bigint)"
        )
        return db

    def test_set_element_assignment_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="set column 's'"):
            db.execute("UPDATE coll SET s['x'] = 'y' WHERE k = 0")

    def test_set_element_delete_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="deletion.*set column"):
            db.execute("DELETE s['x'] FROM coll WHERE k = 0")

    def test_frozen_list_element_set_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="frozen collection column 'fl'"):
            db.execute("UPDATE coll SET fl[0] = 'x' WHERE k = 0")

    def test_frozen_set_add_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="frozen collection column 'fs'"):
            db.execute("UPDATE coll SET fs = fs + {'x'} WHERE k = 0")

    def test_frozen_list_element_delete_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="frozen collection column 'fl'"):
            db.execute("DELETE fl[0] FROM coll WHERE k = 0")

    def test_element_op_on_non_collection_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="non-collection column 'v'"):
            db.execute("UPDATE coll SET v[0] = 1 WHERE k = 0")

    def test_element_op_on_undefined_column_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="undefined column"):
            db.execute("UPDATE coll SET ghost[0] = 1 WHERE k = 0")

    def test_list_index_write_reads_then_writes(self, spark):
        # Lists.SetterByIndex: the reference resolves the index by reading
        # the row first — same here; out-of-bounds raises its message
        db = self._db(spark)
        db.execute("UPDATE coll SET l = ['a', 'b', 'c'] WHERE k = 0")
        db.execute("UPDATE coll SET l[1] = 'B' WHERE k = 0")
        assert db.execute("SELECT l FROM coll WHERE k = 0").collect()[0][0] == [
            "a", "B", "c",
        ]
        db.execute("DELETE l[0] FROM coll WHERE k = 0")
        assert db.execute("SELECT l FROM coll WHERE k = 0").collect()[0][0] == [
            "B", "c",
        ]
        with pytest.raises(InvalidRequest, match="out of bound"):
            db.execute("UPDATE coll SET l[9] = 'x' WHERE k = 0")

    def test_map_element_write_applies_per_cell(self, spark):
        """Map element writes are APPLIED with per-cell liveness
        (Maps.SetterByKey/DiscarderByKey; db/rows/Cell.java): each entry
        reconciles on its own writetime, element deletes kill only their
        entry, and WRITETIME(m['k']) reads the cell's timestamp."""
        db = self._db(spark)
        db.execute("UPDATE coll USING TIMESTAMP 100 SET m['a'] = 1 WHERE k = 0")
        db.execute("UPDATE coll USING TIMESTAMP 300 SET m['b'] = 2 WHERE k = 0")
        db.execute("UPDATE coll USING TIMESTAMP 200 SET m['a'] = 9 WHERE k = 0")
        row = db.execute(
            "SELECT m, writetime(m['a']), writetime(m['b']) FROM coll WHERE k = 0"
        ).collect()[0]
        assert row[0] == {"a": 9, "b": 2}
        assert (row[1], row[2]) == (200, 300)
        db.execute("DELETE m['a'] FROM coll USING TIMESTAMP 400 WHERE k = 0")
        assert db.execute("SELECT m FROM coll WHERE k = 0").collect()[0][0] == {"b": 2}

    def test_set_add_discard_keeps_invariant(self, spark):
        # Sets.Adder/Discarder through statement text: sorted + unique
        db = self._db(spark)
        db.execute("UPDATE coll SET s = {'z', 'a'} WHERE k = 0")
        db.execute("UPDATE coll SET s = s + {'m', 'a'} WHERE k = 0")
        db.execute("UPDATE coll SET s = s - {'z'} WHERE k = 0")
        assert db.execute("SELECT s FROM coll WHERE k = 0").collect()[0][0] == [
            "a", "m",
        ]

    def test_scalar_writes_still_work_alongside(self, spark):
        db = self._db(spark)
        db.execute("INSERT INTO coll (k, v) VALUES (1, 10)")
        db.execute("UPDATE coll SET v = 20 WHERE k = 1")
        out = db.execute("SELECT k, v FROM coll WHERE k = 1")
        assert [tuple(r) for r in out.collect()] == [(1, 20)]

    def test_list_set_index_strict_out_of_bounds_raises(self, spark):
        # runtime analog of Lists.SetterByIndex's bound check
        from cassandra_pmem_spark.operators.collections import list_set_index

        df = spark.createDataFrame([([["a", "b"]][0],)], "l array<string>")
        ok = df.select(list_set_index("l", 1, "X", strict=True).alias("out"))
        assert ok.collect()[0].out == ["a", "X"]
        bad = df.select(list_set_index("l", 5, "X", strict=True).alias("out"))
        with pytest.raises(Exception, match="out of bound"):
            bad.collect()


COUNTER_META = TableMeta(
    "cnt",
    T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("m", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    ),
    partition_key=("k",),
    cql_types=(("n", "counter"), ("m", "counter")),
)


class TestReferenceWriteLimits:
    """Ports of the reference's write-validation rejection rules:
    Attributes.java:126-134 (TTL bounds), ModificationStatement.java:114,
    261-263 (conditional/counter timestamp+TTL), Operation.java:169,309
    (counter setters), UpdateStatement.java:145 (INSERT on counter table),
    BatchStatement.java:170-216 (batch kind/timestamp matrix),
    CreateTableStatement.java:229 (mixed counter tables)."""

    @pytest.fixture()
    def csess(self, spark):
        return CqlWriteSession(spark, COUNTER_META)

    # -- TTL bounds (Attributes.java, TTLTest.java) -------------------------

    def test_negative_ttl_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="greater or equal to 0"):
            sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TTL -5")

    def test_ttl_above_20_years_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="ttl is too large"):
            sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TTL 630720001")

    def test_ttl_at_cap_accepted(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TTL 630720000")
        assert sess._mutations[-1].ttl == 630720000

    def test_ttl_zero_means_no_expiry(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TIMESTAMP 10 AND TTL 0")
        assert sess._mutations[-1].ttl is None
        assert rows(sess.table(now=10**9), "a") == [("x",)]

    def test_delete_cannot_carry_ttl(self, sess):
        with pytest.raises(InvalidRequest, match="TTL for DELETE"):
            sess.execute("DELETE FROM kv USING TTL 5 WHERE k = 1 AND c = 1")

    # -- LWT x timestamp (ModificationStatement.java:261) -------------------

    def test_conditional_insert_rejects_custom_timestamp(self, sess):
        with pytest.raises(InvalidRequest, match="custom timestamp for conditional"):
            sess.execute(
                "INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') IF NOT EXISTS USING TIMESTAMP 5"
            )

    def test_conditional_update_rejects_custom_timestamp(self, sess):
        with pytest.raises(InvalidRequest, match="custom timestamp for conditional"):
            sess.execute("UPDATE kv USING TIMESTAMP 5 SET a = 'x' WHERE k = 1 AND c = 1 IF EXISTS")

    # -- counter tables (Operation.java, UpdateStatement.java:145) ----------

    def test_insert_on_counter_table_rejected(self, csess):
        with pytest.raises(InvalidRequest, match="not allowed on counter tables"):
            csess.execute("INSERT INTO cnt (k, n) VALUES (1, 5)")

    def test_counter_column_cannot_be_set(self, csess):
        with pytest.raises(InvalidRequest, match="Cannot set the value of counter column"):
            csess.execute("UPDATE cnt SET n = 5 WHERE k = 1")

    def test_delta_on_non_counter_column_rejected(self, csess):
        with pytest.raises(InvalidRequest, match="non counter column"):
            csess.execute("UPDATE cnt SET v = v + 1 WHERE k = 1")

    def test_counter_update_rejects_condition(self, csess):
        with pytest.raises(InvalidRequest, match="not supported on counter tables"):
            csess.execute("UPDATE cnt SET n = n + 1 WHERE k = 1 IF EXISTS")

    def test_counter_update_rejects_custom_timestamp(self, csess):
        with pytest.raises(InvalidRequest, match="custom timestamp for counter"):
            csess.execute("UPDATE cnt USING TIMESTAMP 5 SET n = n + 1 WHERE k = 1")

    def test_counter_update_rejects_ttl(self, csess):
        with pytest.raises(InvalidRequest, match="TTL for counter"):
            csess.execute("UPDATE cnt USING TTL 5 SET n = n + 1 WHERE k = 1")

    def test_counter_table_happy_path_folds(self, csess):
        csess.execute("UPDATE cnt SET n = n + 5, m = m + 1 WHERE k = 1")
        csess.execute("UPDATE cnt SET n = n - 2 WHERE k = 1")
        assert rows(csess.table(), "k", "n", "m") == [(1, 3, 1)]

    # -- BATCH kind/timestamp matrix (BatchStatement.java:170-216) ----------

    def test_logged_batch_rejects_counter_statement(self, sess):
        with pytest.raises(InvalidRequest, match="counter statement in a logged batch"):
            sess.execute(
                "BEGIN BATCH UPDATE kv SET n = n + 1 WHERE k = 1 AND c = 1; APPLY BATCH"
            )

    def test_counter_batch_rejects_non_counter_statement(self, sess):
        with pytest.raises(InvalidRequest, match="non-counter statement in a counter batch"):
            sess.execute(
                "BEGIN COUNTER BATCH INSERT INTO kv (k, c, a) VALUES (1, 1, 'x'); APPLY BATCH"
            )

    def test_counter_batch_happy_path(self, sess):
        sess.execute(
            "BEGIN COUNTER BATCH "
            "UPDATE kv SET n = n + 5 WHERE k = 1 AND c = 1; "
            "UPDATE kv SET n = n + 3 WHERE k = 1 AND c = 1; "
            "APPLY BATCH"
        )
        assert rows(sess.table(), "k", "n") == [(1, 8)]

    def test_mixed_counter_and_plain_rejected_even_unlogged(self, sess):
        with pytest.raises(InvalidRequest, match="cannot exist in the same batch"):
            sess.execute(
                "BEGIN UNLOGGED BATCH "
                "UPDATE kv SET n = n + 1 WHERE k = 1 AND c = 1; "
                "INSERT INTO kv (k, c, a) VALUES (2, 2, 'x'); "
                "APPLY BATCH"
            )

    def test_batch_timestamp_conflicts_with_inner_timestamp(self, sess):
        with pytest.raises(InvalidRequest, match="either on BATCH or individual"):
            sess.execute(
                "BEGIN BATCH USING TIMESTAMP 9 "
                "INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TIMESTAMP 5; "
                "APPLY BATCH"
            )

    def test_batch_timestamp_conflicts_with_conditions(self, sess):
        with pytest.raises(InvalidRequest, match="conditional BATCH"):
            sess.execute(
                "BEGIN BATCH USING TIMESTAMP 9 "
                "INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') IF NOT EXISTS; "
                "APPLY BATCH"
            )

    def test_batch_global_ttl_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="Global TTL"):
            sess.execute(
                "BEGIN BATCH USING TTL 5 "
                "INSERT INTO kv (k, c, a) VALUES (1, 1, 'x'); "
                "APPLY BATCH"
            )

    def test_truncate_not_allowed_in_batch(self, sess):
        with pytest.raises(InvalidRequest, match="allowed in BATCH"):
            sess.execute("BEGIN BATCH TRUNCATE kv; APPLY BATCH")

    def test_rejected_batch_applies_nothing(self, sess):
        # validation is a dry pass BEFORE any inner statement mutates state
        with pytest.raises(InvalidRequest):
            sess.execute(
                "BEGIN BATCH "
                "INSERT INTO kv (k, c, a) VALUES (1, 1, 'x'); "
                "UPDATE kv SET n = n + 1 WHERE k = 1 AND c = 1; "
                "APPLY BATCH"
            )
        assert sess._mutations == []

    # -- counter DDL (CreateTableStatement.java:229) ------------------------

    def test_ddl_rejects_mixed_counter_table(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        s = CqlDatabase(None)
        with pytest.raises(InvalidRequest, match="Cannot mix counter"):
            s.execute("CREATE TABLE bad (k bigint PRIMARY KEY, n counter, v text)")

    def test_ddl_rejects_counter_primary_key(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        s = CqlDatabase(None)
        with pytest.raises(InvalidRequest, match="PRIMARY KEY"):
            s.execute("CREATE TABLE bad (k counter PRIMARY KEY, n counter)")

    def test_ddl_counter_table_routes_to_enforcing_session(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        s = CqlDatabase(None)
        s.execute("CREATE TABLE good (k bigint PRIMARY KEY, n counter)")
        with pytest.raises(InvalidRequest, match="not allowed on counter tables"):
            s.execute("INSERT INTO good (k, n) VALUES (1, 5)")

    def test_alter_add_counter_to_regular_table_rejected(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        s = CqlDatabase(None)
        s.execute("CREATE TABLE reg (k bigint PRIMARY KEY, v text)")
        with pytest.raises(InvalidRequest, match="Cannot mix counter"):
            s.execute("ALTER TABLE reg ADD n counter")

    def test_alter_add_regular_to_counter_table_rejected(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        s = CqlDatabase(None)
        s.execute("CREATE TABLE ctr (k bigint PRIMARY KEY, n counter)")
        with pytest.raises(InvalidRequest, match="Cannot mix counter"):
            s.execute("ALTER TABLE ctr ADD v text")

    def test_alter_add_counter_to_counter_table_enforced(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        s = CqlDatabase(None)
        s.execute("CREATE TABLE ctr2 (k bigint PRIMARY KEY, n counter)")
        s.execute("ALTER TABLE ctr2 ADD m counter")
        with pytest.raises(InvalidRequest, match="Cannot set the value of counter column"):
            s.execute("UPDATE ctr2 SET m = 5 WHERE k = 1")


class TestRowLiveness:
    """Primary-key liveness (db/LivenessInfo.java; db/rows/Row.java
    hasLiveData): a row is visible iff INSERT stamped it alive or any
    cell is live — UPDATE grants no row liveness of its own."""

    def _db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE rl WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE rl.t (k bigint PRIMARY KEY, v bigint, m map<text, bigint>)")
        return db

    def _keys(self, db):
        return sorted(r.k for r in db.execute("SELECT k FROM t").collect())

    def test_insert_key_only_is_visible_update_null_is_not(self, spark):
        db = self._db(spark)
        db.execute("INSERT INTO t (k) VALUES (1)")  # row liveness, no cells
        db.execute("UPDATE t SET v = null WHERE k = 2")  # no liveness, no cells
        db.execute("DELETE m['x'] FROM t WHERE k = 3")  # pure cell tombstone
        assert self._keys(db) == [1]

    def test_update_with_live_cell_is_visible(self, spark):
        db = self._db(spark)
        db.execute("UPDATE t SET v = 5 WHERE k = 4")
        assert self._keys(db) == [4]

    def test_row_delete_then_key_only_reinsert_resurrects(self, spark):
        # the classic liveness case: the reinsert carries no cells, only
        # primary-key liveness newer than the tombstone
        db = self._db(spark)
        db.execute("INSERT INTO t (k, v) VALUES (9, 1) USING TIMESTAMP 100")
        db.execute("DELETE FROM t USING TIMESTAMP 200 WHERE k = 9")
        db.execute("INSERT INTO t (k) VALUES (9) USING TIMESTAMP 300")
        rows = db.execute("SELECT k, v FROM t").collect()
        assert [(r.k, r.v) for r in rows] == [(9, None)]

    def test_ttl_expires_row_liveness(self, spark):
        db = self._db(spark)
        db.execute("INSERT INTO t (k) VALUES (6) USING TTL 1")
        for _ in range(3):
            db.execute("INSERT INTO t (k) VALUES (7)")
        assert 6 not in self._keys(db)


class TestMapComplexDeletion:
    def test_full_map_write_shadows_older_cells(self, spark):
        """A full map value (INSERT JSON) is a complex deletion + cells
        (db/rows/ComplexColumnData.java): older element cells die, the
        write's own entries live, newer element writes compose on top,
        and a LATE-arriving element older than the full write stays
        shadowed."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE cdx WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE cdx.t (k bigint PRIMARY KEY, m map<text, bigint>)")
        db.execute("UPDATE t USING TIMESTAMP 100 SET m['old'] = 1 WHERE k = 1")
        db.execute(
            'INSERT INTO t JSON \'{"k": 1, "m": {"fresh": 7}}\' USING TIMESTAMP 200'
        )
        assert db.execute("SELECT m FROM t").collect()[0][0] == {"fresh": 7}
        db.execute("UPDATE t USING TIMESTAMP 300 SET m['extra'] = 9 WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 150 SET m['stale'] = 5 WHERE k = 1")
        assert db.execute("SELECT m FROM t").collect()[0][0] == {
            "fresh": 7,
            "extra": 9,
        }


class TestWritetimeListForm:
    def test_multicell_writetime_is_key_ordered_list(self, spark):
        """WRITETIME(m) on a multi-cell map returns the key-ordered
        per-cell timestamp list (CASSANDRA-8877 / WritetimeOrTTLSelector),
        while scalar columns keep the single value."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE wlf WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE wlf.t (k bigint PRIMARY KEY, m map<text, bigint>, v bigint)")
        db.execute("UPDATE t USING TIMESTAMP 100 SET m['b'] = 2 WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 200 SET m['a'] = 1 WHERE k = 1")
        db.execute("INSERT INTO t (k, v) VALUES (1, 5) USING TIMESTAMP 300")
        r = db.execute("SELECT writetime(m), writetime(v) FROM t").collect()[0]
        assert r[0] == [200, 100]  # key order: a, b
        assert r[1] == 300


class TestInsertCollectionLiterals:
    def test_insert_values_take_collection_literals(self, spark):
        """INSERT VALUES accepts [list] / {set} / {k: v} literals with
        kind-aware conversion: list order kept, set invariant normalized,
        shape mismatches rejected."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE icl WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute(
            "CREATE TABLE icl.t (k bigint PRIMARY KEY, l list<text>, "
            "s set<text>, m map<text, bigint>)"
        )
        db.execute(
            "INSERT INTO t (k, l, s, m) VALUES "
            "(1, ['b', 'a'], {'z', 'a', 'z'}, {'x': 1})"
        )
        r = db.execute("SELECT l, s, m FROM t").collect()[0]
        assert r.l == ["b", "a"] and r.s == ["a", "z"] and r.m == {"x": 1}
        with pytest.raises(InvalidRequest, match="invalid map literal"):
            db.execute("INSERT INTO t (k, l) VALUES (2, {'not': 1})")


class TestEmptyCollectionsReadNull:
    def test_empty_nonfrozen_collections_read_as_null(self, spark):
        """CQL stores no cells for an empty non-frozen collection: writing
        [] / {} or discarding the last element deletes the column (reads
        NULL); frozen collections are single cells and keep empty values."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ecn WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute(
            "CREATE TABLE ecn.t (k bigint PRIMARY KEY, l list<text>, s set<text>)"
        )
        db.execute("INSERT INTO t (k, l, s) VALUES (1, ['a'], {'x'})")
        db.execute("UPDATE t SET l = [] WHERE k = 1")
        db.execute("UPDATE t SET s = s - {'x'} WHERE k = 1")
        r = db.execute("SELECT l, s FROM t").collect()[0]
        assert r.l is None and r.s is None


class TestInOnKeyColumns:
    """UPDATE/DELETE with ck IN (…): one operation per clustering
    combination, sharing a single statement timestamp; conditions
    reject IN (ModificationStatement)."""

    def _db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE kin WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE kin.t (k bigint, c bigint, v text, PRIMARY KEY (k, c))")
        for c in range(1, 5):
            db.execute(f"INSERT INTO t (k, c, v) VALUES (1, {c}, 'r{c}')")
        return db

    def test_delete_and_update_expand(self, spark):
        db = self._db(spark)
        db.execute("DELETE FROM t WHERE k = 1 AND c IN (2, 3)")
        assert sorted(r.c for r in db.execute("SELECT c FROM t").collect()) == [1, 4]
        db.execute("UPDATE t SET v = 'X' WHERE k = 1 AND c IN (1, 4)")
        got = sorted((r.c, r.v) for r in db.execute("SELECT c, v FROM t").collect())
        assert got == [(1, "X"), (4, "X")]
        # the expanded rows share ONE statement timestamp
        wts = {r[0] for r in db.execute("SELECT writetime(v) FROM t").collect()}
        assert len(wts) == 1

    def test_condition_with_in_rejected(self, spark):
        db = self._db(spark)
        with pytest.raises(InvalidRequest, match="IN on the clustering key"):
            db.execute("UPDATE t SET v = 'Y' WHERE k = 1 AND c IN (1, 4) IF EXISTS")


class TestTtlElementSelector:
    def test_ttl_of_map_element_reads_cell_liveness(self, spark):
        """TTL(m['k']) returns the remaining liveness of ONE cell; sibling
        cells without TTL read NULL, and TTL(m) is the key-ordered list."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE tte WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE tte.t (k bigint PRIMARY KEY, m map<text, bigint>)")
        db.execute("UPDATE t USING TTL 50 SET m['a'] = 1 WHERE k = 1")
        db.execute("UPDATE t SET m['b'] = 2 WHERE k = 1")
        r = db.execute(
            "SELECT ttl(m['a']) AS ta, ttl(m['b']) AS tb, ttl(m) AS tl FROM t"
        ).collect()[0]
        assert r.ta is not None and 0 < r.ta <= 50
        assert r.tb is None
        assert r.tl == [r.ta, None]  # key order: a, b


class TestAdviceRound6Regressions:
    """Round-6 advisor findings on the write model, pinned."""

    def test_lwt_condition_sees_ttl_expiry(self, sess):
        """IF conditions read at the session clock (nowInSec), so a
        TTL-expired cell is dead to them — StorageProxy.cas reads at the
        request's nowInSeconds, never resurrecting expired cells."""
        sess.execute(
            "INSERT INTO kv (k, c, a) VALUES (1, 1, 'fades') "
            "USING TIMESTAMP 100 AND TTL 50"
        )
        sess._clock_ref[0] = 200  # past expiry (100 + 50)
        applied = sess.execute(
            "UPDATE kv SET b = 'won' WHERE k = 1 AND c = 1 IF a = 'fades'"
        )
        assert applied is False

    def test_lwt_condition_sees_live_ttl_cell(self, sess):
        sess.execute(
            "INSERT INTO kv (k, c, a) VALUES (1, 1, 'lives') "
            "USING TIMESTAMP 100 AND TTL 50"
        )
        sess._clock_ref[0] = 120  # before expiry
        applied = sess.execute(
            "UPDATE kv SET b = 'won' WHERE k = 1 AND c = 1 IF a = 'lives'"
        )
        assert applied is True

    def test_single_element_in_with_condition_accepted(self, sess):
        """SingleColumnRelation.java:208 normalizes a one-element literal
        IN to an EQ restriction at prepare time, so `c IN (5) IF EXISTS`
        is ACCEPTED (only multi-element IN combines-with-conditions is
        rejected)."""
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 5, 'x')")
        applied = sess.execute("UPDATE kv SET a = 'y' WHERE k = 1 AND c IN (5) IF EXISTS")
        assert applied is True
        assert rows(sess.table(), "a") == [("y",)]
        applied = sess.execute("DELETE FROM kv WHERE k = 1 AND c IN (5) IF EXISTS")
        assert applied is True
        assert rows(sess.table()) == []

    def test_multi_element_in_with_condition_messages(self, sess):
        """ModificationStatement.java:502 message conformance: the key
        part ('partition key' vs 'clustering key columns') and the verb
        ('updates' vs 'deletions') both match the reference."""
        with pytest.raises(
            InvalidRequest,
            match="IN on the clustering key columns is not supported "
            "with conditional updates",
        ):
            sess.execute("UPDATE kv SET a = 'y' WHERE k = 1 AND c IN (5, 6) IF EXISTS")
        with pytest.raises(
            InvalidRequest,
            match="IN on the clustering key columns is not supported "
            "with conditional deletions",
        ):
            sess.execute("DELETE FROM kv WHERE k = 1 AND c IN (5, 6) IF EXISTS")
        with pytest.raises(
            InvalidRequest,
            match="IN on the partition key is not supported "
            "with conditional updates",
        ):
            sess.execute("UPDATE kv SET a = 'y' WHERE k IN (1, 2) AND c = 5 IF EXISTS")
        with pytest.raises(
            InvalidRequest,
            match="IN on the partition key is not supported "
            "with conditional deletions",
        ):
            sess.execute("DELETE FROM kv WHERE k IN (1, 2) AND c = 5 IF EXISTS")

    def test_empty_collection_write_is_column_deletion(self, spark):
        """SET l = [] is a complex deletion: no live cells, so WRITETIME
        reads NULL and an UPDATE-created row with only an empty
        collection is not visible (matches the per-cell map path)."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE ecd WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("CREATE TABLE ecd.t (k bigint PRIMARY KEY, l list<text>)")
        # UPDATE (no row liveness) writing an empty list: row must not exist
        db.execute("UPDATE t SET l = [] WHERE k = 1")
        assert db.execute("SELECT k FROM t").collect() == []
        # INSERT keeps pk liveness but the column is dead: WRITETIME NULL
        db.execute("INSERT INTO t (k, l) VALUES (2, [])")
        r = db.execute("SELECT k, l, writetime(l) AS wl FROM t").collect()
        assert len(r) == 1 and r[0].k == 2 and r[0].l is None and r[0].wl is None


class TestListSetCellLiveness:
    """Element-granular list/set cells in the statement path
    (cql3/Lists.java:408-574 Appender/Prepender/SetterByIndex/
    DiscarderByIndex/Discarder timeuuid-position cells; Sets.java:322,364
    Adder/Discarder element-keyed cells): adds/appends/discards are pure
    cell writes, sibling cells keep their own (writetime, ttl)."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE lcl WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE lcl")
        db.execute(
            "CREATE TABLE t (k bigint PRIMARY KEY, l list<text>, "
            "s set<text>, m map<text, bigint>)"
        )
        db.execute(
            "INSERT INTO t (k, l, s, m) VALUES "
            "(1, ['a','b'], {'x'}, {'p': 1}) USING TIMESTAMP 100"
        )
        return db

    def _row(self, db, sel):
        return db.execute(f"SELECT {sel} FROM t WHERE k = 1").collect()[0]

    def test_append_and_adds_keep_sibling_writetimes(self, db):
        db.execute("UPDATE t USING TIMESTAMP 200 SET l = l + ['c'] WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 300 SET s = s + {'y'} WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 400 SET m = m + {'q': 2} WHERE k = 1")
        r = self._row(db, "l, s, m, writetime(l) AS wl, writetime(s) AS ws, writetime(m) AS wm")
        assert r.l == ["a", "b", "c"] and r.wl == [100, 100, 200]
        assert r.s == ["x", "y"] and r.ws == [100, 300]
        assert r.m == {"p": 1, "q": 2} and r.wm == [100, 400]

    def test_prepend_stacks_in_front_later_first(self, db):
        # Lists.Prepender: a later prepend statement sorts before an
        # earlier one; order within one statement is preserved
        db.execute("UPDATE t USING TIMESTAMP 500 SET l = ['p1','p2'] + l WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 600 SET l = ['p0'] + l WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["p0", "p1", "p2", "a", "b"]
        assert r.wl == [600, 500, 500, 100, 100]

    def test_discard_by_value_tombstones_matching_cells(self, db):
        db.execute("UPDATE t USING TIMESTAMP 200 SET l = l + ['a'] WHERE k = 1")
        # Lists.Discarder removes ALL occurrences, siblings keep liveness
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = l - ['a'] WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["b"] and r.wl == [100]

    def test_set_discard_keeps_sibling_liveness(self, db):
        db.execute("UPDATE t USING TIMESTAMP 300 SET s = s + {'y'} WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 800 SET s = s - {'x'} WHERE k = 1")
        r = self._row(db, "s, writetime(s) AS ws")
        assert r.s == ["y"] and r.ws == [300]

    def test_index_set_keeps_position_updates_writetime(self, db):
        db.execute("UPDATE t USING TIMESTAMP 900 SET l[0] = 'A' WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["A", "b"] and r.wl == [900, 100]

    def test_index_delete_removes_one_cell(self, db):
        db.execute("DELETE l[0] FROM t USING TIMESTAMP 1000 WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["b"] and r.wl == [100]

    def test_per_element_ttl_expires_one_cell(self, db):
        db.execute("UPDATE t USING TIMESTAMP 1100 AND TTL 50 SET s = s + {'z'} WHERE k = 1")
        r = self._row(db, "s, ttl(s) AS ts")
        assert r.s == ["x", "z"]
        assert r.ts[0] is None and r.ts[1] is not None
        sess = db._session_for_key(("lcl", "t"))
        sess._clock_ref[0] = 1200  # past 1100 + 50
        r = self._row(db, "s, writetime(s) AS ws")
        assert r.s == ["x"] and r.ws == [100]

    def test_timestamp_tie_tombstone_wins(self, db):
        # Cells.reconcile: equal timestamps -> the tombstone shadows
        db.execute("UPDATE t USING TIMESTAMP 100 SET s = s - {'x'} WHERE k = 1")
        r = db.execute("SELECT s FROM t WHERE k = 1").collect()[0]
        assert r.s is None

    def test_full_write_resets_cells(self, db):
        db.execute("UPDATE t USING TIMESTAMP 200 SET l = l + ['c'] WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = ['z'] WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["z"] and r.wl == [300]

    def test_same_timestamp_appends_both_survive(self, db):
        # reference timeuuid cell names are unique: two appends at the
        # SAME explicit timestamp keep BOTH cells, in issuance order
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = l + ['c'] WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = l + ['d'] WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["a", "b", "c", "d"] and r.wl == [100, 100, 300, 300]

    def test_same_timestamp_full_write_then_append(self, db):
        # at one timestamp: the full write's own cells survive their
        # complex deletion and a same-timestamp append lands after them
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = ['z'] WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = l + ['w'] WHERE k = 1")
        r = self._row(db, "l")
        assert r.l == ["z", "w"]

    def test_same_timestamp_prepends_later_statement_first(self, db):
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = ['p1'] + l WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 300 SET l = ['p0'] + l WHERE k = 1")
        r = self._row(db, "l")
        assert r.l == ["p0", "p1", "a", "b"]

    def test_positions_follow_issuance_not_explicit_timestamp(self, db):
        """Cell positions come from the coordinator clock (timeuuid
        issuance order), NOT from USING TIMESTAMP: an append issued
        BEFORE a full write keeps its position before that write's
        cells even with a newer explicit timestamp — and survives the
        full write's complex deletion because its liveness IS newer."""
        db.execute("UPDATE t USING TIMESTAMP 700 SET l = l + ['x'] WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 500 SET l = ['z'] WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        # deletion at 499 kills a@100/b@100; x@700 survives, issued first
        assert r.l == ["x", "z"] and r.wl == [700, 500]

    def test_index_ops_after_tied_full_writes(self, db):
        """Read-before-write sees the REAL merged cells: two full writes
        at one timestamp both keep their cells (neither's complex
        deletion shadows the other), and an index op targets the cell
        the user actually sees at that index."""
        db.execute("UPDATE t USING TIMESTAMP 500 SET l = ['p'] WHERE k = 1")
        db.execute("UPDATE t USING TIMESTAMP 500 SET l = ['q'] WHERE k = 1")
        r = self._row(db, "l")
        assert r.l == ["p", "q"]  # issuance order, both live
        db.execute("UPDATE t USING TIMESTAMP 600 SET l[0] = 'X' WHERE k = 1")
        r = self._row(db, "l, writetime(l) AS wl")
        assert r.l == ["X", "q"] and r.wl == [600, 500]

    def test_typo_after_failed_condition_still_errors(self, db):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        db.execute("INSERT INTO t (k, l) VALUES (5, ['z'])")
        with pytest.raises(InvalidRequest, match="Undefined column name"):
            db.execute(
                "UPDATE t SET l = ['w'] WHERE k = 5 IF l[0] = 'nope' AND bogus = 1"
            )

    def test_writetime_select_on_empty_table(self, db):
        """A writetime()/ttl() SELECT over a table with no writes must
        return zero rows, not fail to resolve the shadow columns."""
        db.execute("CREATE TABLE empty_t (k bigint PRIMARY KEY, v text, m map<text, bigint>)")
        r = db.execute(
            "SELECT k, writetime(v) AS wv, writetime(m) AS wm, ttl(v) AS tv "
            "FROM empty_t"
        ).collect()
        assert r == []


class TestBindTypeValidation:
    """Mis-typed bind/literal values raise InvalidRequest at prepare —
    the reference rejects them before execution; they must never leak a
    cast failure out of the read plan."""

    def test_string_for_bigint_key_rejected(self, sess):
        with pytest.raises(InvalidRequest, match='for "k" of type bigint'):
            sess.execute("INSERT INTO kv (k, c, a) VALUES (?, 1, 'x')", params=["zz"])

    def test_number_for_text_rejected(self, sess):
        with pytest.raises(InvalidRequest, match='for "a" of type string'):
            sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, ?)", params=[42])

    def test_int_accepted_for_double(self, spark):
        from cassandra_pmem_spark.catalog import TableMeta
        from pyspark.sql import types as T2

        meta = TableMeta(
            "d",
            T2.StructType(
                [T2.StructField("k", T2.LongType()), T2.StructField("x", T2.DoubleType())]
            ),
            partition_key=("k",),
        )
        s = CqlWriteSession(spark, meta)
        s.execute("INSERT INTO d (k, x) VALUES (1, 2)")  # int literal widens
        assert [tuple(r) for r in s.table().collect()] == [(1, 2.0)]


class TestNullWriteIsDelete:
    """Setting a column to null DELETES the cell (Constants.Setter /
    Operation.java null handling) — it is a tombstone at the statement
    timestamp, not a no-op."""

    def test_insert_null_deletes_cell(self, sess):
        sess.execute("INSERT INTO kv (k, c, a, b) VALUES (1, 1, 'x', 'y') USING TIMESTAMP 10")
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, null) USING TIMESTAMP 20")
        assert rows(sess.table(), "a", "b") == [(None, "y")]

    def test_update_null_deletes_cell(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'x') USING TIMESTAMP 10")
        sess.execute("UPDATE kv USING TIMESTAMP 20 SET a = null WHERE k = 1 AND c = 1")
        # row stays alive through INSERT liveness; the cell is gone
        assert rows(sess.table(), "k", "a") == [(1, None)]

    def test_older_null_write_loses(self, sess):
        sess.execute("INSERT INTO kv (k, c, a) VALUES (1, 1, 'keep') USING TIMESTAMP 50")
        sess.execute("UPDATE kv USING TIMESTAMP 40 SET a = null WHERE k = 1 AND c = 1")
        assert rows(sess.table(), "a") == [("keep",)]

    def test_null_pk_rejected(self, sess):
        with pytest.raises(InvalidRequest, match="PRIMARY KEY part"):
            sess.execute("INSERT INTO kv (k, c, a) VALUES (null, 1, 'x')")

    def test_update_only_all_null_makes_no_row(self, sess):
        sess.execute("UPDATE kv SET a = null WHERE k = 7 AND c = 7")
        assert rows(sess.table(), "k") == []


class TestFunctionTerms:
    """Constant function terms in write values (Parser.g term rule;
    BytesConversionFcts.java:36) — folded at prepare, round-tripped
    through the blob conversion pairs."""

    @pytest.fixture()
    def bsess(self, spark):
        meta = TableMeta(
            "bt",
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("b", T.BinaryType()),
                    T.StructField("n", T.LongType()),
                    T.StructField("s", T.StringType()),
                    T.StructField("ts", T.TimestampType()),
                ]
            ),
            partition_key=("k",),
        )
        return CqlWriteSession(spark, meta)

    def test_as_blob_and_back(self, bsess):
        bsess.execute("INSERT INTO bt (k, b) VALUES (1, bigintAsBlob(3))")
        bsess.execute(
            "INSERT INTO bt (k, n) VALUES (2, blobAsBigint(bigintAsBlob(-9)))"
        )
        bsess.execute(
            "INSERT INTO bt (k, s) VALUES (3, blobAsText(textAsBlob('hi')))"
        )
        rows = {r.k: (r.b, r.n, r.s) for r in bsess.table().collect()}
        assert rows[1][0] == (3).to_bytes(8, "big")
        assert rows[2][1] == -9
        assert rows[3][2] == "hi"

    def test_update_set_term(self, bsess):
        bsess.execute("INSERT INTO bt (k, n) VALUES (1, 0)")
        bsess.execute(
            "UPDATE bt SET n = blobAsBigint(bigintAsBlob(77)) WHERE k = 1"
        )
        assert [r.n for r in bsess.table().collect()] == [77]

    def test_now_folds_from_the_coordinator_clock(self, bsess):
        """now()-family terms fold from the session clock since round 10
        (TimeFcts.java:39-57 executes them coordinator-side; the engine's
        instant is SessionClockFold.EPOCH_MS + statement tick, so the
        value is deterministic per statement — test_timeuuid_now.py pins
        the full contract; outside a session the names still reject)."""
        from cassandra_pmem_spark.cql.terms import ticks_of_uuid_text

        bsess.execute("INSERT INTO bt (k, s) VALUES (1, now())")
        [row] = bsess.table().filter("k = 1").collect()
        assert ticks_of_uuid_text(row.s) > 0  # v1-uuid text landed

    def test_unknown_function_rejected(self, bsess):
        with pytest.raises(InvalidRequest, match="unknown function"):
            bsess.execute("INSERT INTO bt (k, s) VALUES (1, nosuch(1))")

    def test_width_checked(self, bsess):
        with pytest.raises(InvalidRequest, match="out of range"):
            bsess.execute("INSERT INTO bt (k, b) VALUES (1, tinyintAsBlob(300))")

    def test_statement_still_rolls_back_on_bad_term(self, bsess):
        bsess.execute("INSERT INTO bt (k, n) VALUES (1, 5)")
        with pytest.raises(InvalidRequest):
            bsess.execute("UPDATE bt SET n = blobAsBigint(textAsBlob('xx')) WHERE k = 1")
        assert [r.n for r in bsess.table().collect()] == [5]

    def test_null_argument_propagates_null(self, bsess):
        """Reference native conversion fns are RETURNS NULL ON NULL INPUT:
        fn(null) is null, so a bound None writes a null cell (deletes),
        never rejects the statement."""
        bsess.execute("INSERT INTO bt (k, n, s) VALUES (1, 5, 'keep')")
        bsess.execute(
            "UPDATE bt SET n = blobAsBigint(?) WHERE k = 1", params=[None]
        )
        r = bsess.table().collect()
        assert [(x.n, x.s) for x in r] == [(None, "keep")]

    def test_invalid_utf8_blob_raises_invalid_request(self, bsess):
        with pytest.raises(InvalidRequest, match="invalid UTF-8"):
            bsess.execute(
                "INSERT INTO bt (k, s) VALUES (1, blobAsText(bigintAsBlob(-1)))"
            )

    def test_ascii_range_checked_both_ways(self, bsess):
        with pytest.raises(InvalidRequest, match="ASCII"):
            bsess.execute(
                "INSERT INTO bt (k, b) VALUES (1, asciiAsBlob('héllo'))"
            )
        with pytest.raises(InvalidRequest, match="ASCII"):
            bsess.execute(
                "INSERT INTO bt (k, s) VALUES (1, blobAsAscii(textAsBlob('héllo')))"
            )

    def test_write_in_restriction_accepts_terms(self, bsess):
        bsess.execute("INSERT INTO bt (k, n) VALUES (1, 0)")
        bsess.execute("INSERT INTO bt (k, n) VALUES (2, 0)")
        bsess.execute(
            "UPDATE bt SET n = 9 WHERE k IN (blobAsBigint(bigintAsBlob(1)), 2)"
        )
        assert sorted((r.k, r.n) for r in bsess.table().collect()) == [(1, 9), (2, 9)]

    def test_lwt_condition_accepts_terms(self, bsess):
        bsess.execute("INSERT INTO bt (k, n) VALUES (1, 5)")
        ok = bsess.execute(
            "UPDATE bt SET n = 6 WHERE k = 1 IF n = blobAsBigint(bigintAsBlob(5))"
        )
        assert ok is True
        assert [r.n for r in bsess.table().collect()] == [6]

    def test_unknown_function_rejected_even_with_null_arg(self, bsess):
        """Name/arity validation happens BEFORE the null shortcut: a
        misspelled function must reject at prepare regardless of the
        bound value."""
        with pytest.raises(InvalidRequest, match="unknown function"):
            bsess.execute(
                "INSERT INTO bt (k, n) VALUES (1, blobAsBigInteger(?))",
                params=[None],
            )
        with pytest.raises(InvalidRequest, match="1 argument"):
            bsess.execute(
                "INSERT INTO bt (k, b) VALUES (1, textAsBlob(?, ?))",
                params=[None, None],
            )

    def test_string_timestamp_literal_parses_at_prepare(self, bsess):
        """A raw string constant bound to a timestamp column parses at
        PREPARE time (TimestampSerializer.dateStringPatterns,
        TimestampSerializer.java:43-76) — previously it leaked to the
        Arrow boundary and only pyarrow's coercion saved it (and only
        under a UTC session zone)."""
        import datetime as dt

        bsess.execute(
            "INSERT INTO bt (k, ts) VALUES (1, '2024-06-01 12:00:00+0000')"
        )
        bsess.execute("INSERT INTO bt (k, ts) VALUES (2, '2024-06-01')")
        bsess.execute(
            "INSERT INTO bt (k, ts) VALUES (3, '2024-06-01T06:30:15.250Z')"
        )
        rows = {r.k: r.ts for r in bsess.table().collect()}
        utc = dt.timezone.utc

        def inst(v):
            return v.replace(tzinfo=utc) if v.tzinfo is None else v

        assert inst(rows[1]) == dt.datetime(2024, 6, 1, 12, tzinfo=utc)
        assert inst(rows[2]) == dt.datetime(2024, 6, 1, tzinfo=utc)
        assert inst(rows[3]) == dt.datetime(
            2024, 6, 1, 6, 30, 15, 250000, tzinfo=utc)

    def test_integer_timestamp_literal_is_epoch_millis(self, bsess):
        import datetime as dt

        bsess.execute("INSERT INTO bt (k, ts) VALUES (4, 1717243200000)")
        row = {r.k: r.ts for r in bsess.table().collect()}[4]
        if row.tzinfo is None:
            row = row.replace(tzinfo=dt.timezone.utc)
        assert row == dt.datetime(2024, 6, 1, 12, tzinfo=dt.timezone.utc)

    def test_bad_timestamp_literal_rejected_at_prepare(self, bsess):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        with pytest.raises(InvalidRequest, match="formatted date"):
            bsess.execute("INSERT INTO bt (k, ts) VALUES (9, 'not a date')")

    def test_lwt_condition_on_folded_timestamp(self, bsess):
        """A toTimestamp() write then IF ts = toTimestamp(...) must apply:
        the collected cell is naive (session UTC) while the folded term is
        an aware UTC instant — the compare normalizes, equality holds, and
        ordering ops don't TypeError."""
        bsess.execute(
            "INSERT INTO bt (k, ts) VALUES (1, toTimestamp('2024-03-01 12:00:00'))"
        )
        ok = bsess.execute(
            "UPDATE bt SET n = 1 WHERE k = 1 "
            "IF ts = toTimestamp('2024-03-01 12:00:00')"
        )
        assert ok is True
        ok = bsess.execute(
            "UPDATE bt SET n = 2 WHERE k = 1 "
            "IF ts < toTimestamp('2024-03-02 00:00:00')"
        )
        assert ok is True
        assert [r.n for r in bsess.table().collect()] == [2]

    def test_to_timestamp_term_is_utc_instant(self, bsess):
        """toTimestamp folds to an AWARE UTC datetime so the stored
        instant matches toUnixTimestamp under any session timezone."""
        from cassandra_pmem_spark.cql.terms import evaluate_fn

        ts = evaluate_fn("toTimestamp", ["2024-03-01 12:00:00"])
        un = evaluate_fn("toUnixTimestamp", ["2024-03-01 12:00:00"])
        assert ts.tzinfo is not None
        assert int(ts.timestamp() * 1000) == un == 1709294400000


class TestCollectionLiteralErrors:
    def test_bare_identifier_in_braces_names_the_real_problem(self, spark):
        """A malformed set literal like {abc} starts down the UDT-literal
        path (bare identifier after '{') — the error must name the actual
        problem, not a misleading \"expected :\" (r10 ADVICE finding)."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute(
            "CREATE KEYSPACE cle WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        db.execute("USE cle")
        db.execute("CREATE TABLE t (id int PRIMARY KEY, s set<text>)")
        with pytest.raises(
            InvalidRequest,
            match="bare identifier 'abc' is neither a UDT field",
        ):
            db.execute("INSERT INTO t (id, s) VALUES (1, {abc})")


class TestVisibleFrameCacheInvalidation:
    """The table session's frame memo (CqlWriteSession.memo_frame)
    must be invisible: across random interleavings of writes, deletes,
    TTL writes, TRUNCATE, and paged reads, every cached read must equal
    the same statement re-planned from scratch (the memo cleared)."""

    def test_random_interleavings_cached_equals_fresh(self, spark):
        import random

        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        rng = random.Random(11)
        db = CqlDatabase(spark)
        db.execute(
            "CREATE KEYSPACE vfc WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        db.execute("USE vfc")
        db.execute("CREATE TABLE t (k int, c int, v int, PRIMARY KEY (k, c))")
        sess = db._session_for_key(db._table_key("t"))

        def mutate(step: int) -> None:
            r = rng.random()
            k, c = rng.randrange(4), rng.randrange(3)
            if r < 0.45:
                db.execute(
                    f"INSERT INTO t (k, c, v) VALUES ({k}, {c}, {step})"
                )
            elif r < 0.6:
                db.execute(f"UPDATE t SET v = {step * 10} WHERE k = {k} AND c = {c}")
            elif r < 0.75:
                db.execute(f"DELETE FROM t WHERE k = {k} AND c = {c}")
            elif r < 0.82:
                db.execute(
                    f"INSERT INTO t (k, c, v) VALUES ({k}, {c}, {step}) "
                    "USING TTL 2"
                )
            elif r < 0.9:
                # an explicit timestamp ticks no clock
                db.execute(
                    f"INSERT INTO t (k, c, v) VALUES ({k}, {c}, {step}) "
                    f"USING TIMESTAMP {step}"
                )
            else:
                db.execute("TRUNCATE t")

        def read(sql: str) -> list:
            cached = sorted(tuple(r) for r in db.execute(sql).collect())
            # control: clear the memo so the same statement re-plans
            # and re-executes from the raw session state
            sess.drop_frames()
            fresh = sorted(tuple(r) for r in db.execute(sql).collect())
            assert cached == fresh, sql
            return cached

        for step in range(24):
            mutate(step)
            if step % 3 == 2:
                read("SELECT k, c, v FROM t")
            if step == 11:
                # a pager mid-sequence shares the same cache machinery
                p = db.pager("SELECT k, c, v FROM t", page_size=3)
                paged = []
                while not p.is_exhausted():
                    got = p.fetch_page()
                    if not got:
                        break
                    paged.extend((r["k"], r["c"], r["v"]) for r in got)
                sess.drop_frames()
                direct = sorted(
                    tuple(r)
                    for r in db.execute("SELECT k, c, v FROM t").collect()
                )
                assert sorted(paged) == direct
        # final read after the whole interleaving
        read("SELECT k, c, v FROM t")

    def test_truncate_then_same_shape_write(self, spark):
        """A USING TIMESTAMP write ticks no clock and TRUNCATE empties the
        buffers, so the write after a TRUNCATE can leave the buffers the
        same size as before it. A SELECT, a pager and a view over the
        table must still read the new row, like a fresh database running
        the same statements."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        def new_db():
            db = CqlDatabase(spark)
            db.execute(
                "CREATE KEYSPACE tsw WITH REPLICATION = "
                "{'class': 'SimpleStrategy'}"
            )
            db.execute("USE tsw")
            db.execute("CREATE TABLE t (k int PRIMARY KEY, v text)")
            db.execute(
                "CREATE MATERIALIZED VIEW byv AS SELECT k, v FROM t "
                "WHERE k IS NOT NULL AND v IS NOT NULL PRIMARY KEY (v, k)"
            )
            return db

        def paged(db):
            p = db.pager("SELECT k, v FROM t", page_size=2)
            rows = []
            while not p.is_exhausted():
                rows.extend((r["k"], r["v"]) for r in p.fetch_page())
            return sorted(rows)

        reads = {
            "select": lambda db: sorted(
                tuple(r) for r in db.execute("SELECT k, v FROM t").collect()
            ),
            "pager": paged,
            "view": lambda db: sorted(
                tuple(r) for r in db.execute("SELECT k, v FROM byv").collect()
            ),
        }
        writes = [
            "INSERT INTO t (k, v) VALUES (1, 'a') USING TIMESTAMP 100",
            "TRUNCATE t",
            "INSERT INTO t (k, v) VALUES (2, 'b') USING TIMESTAMP 100",
        ]
        for name, read in reads.items():
            db, fresh = new_db(), new_db()
            db.execute(writes[0])
            assert read(db) == [(1, "a")], name
            for w in writes[1:]:
                db.execute(w)
            for w in writes:
                fresh.execute(w)
            assert read(db) == read(fresh) == [(2, "b")], name
            # a plain append at the same timestamp ticks no clock either
            for d in (db, fresh):
                d.execute("INSERT INTO t (k, v) VALUES (3, 'c') USING TIMESTAMP 100")
            assert read(db) == read(fresh) == [(2, "b"), (3, "c")], name


def _coll_meta(cql_types=()):
    return TableMeta(
        "cl",
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("l", T.ArrayType(T.LongType())),
                T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            ]
        ),
        partition_key=("k",),
        cql_types=cql_types,
    )


class TestCollectionFactsFromMeta:
    """A session takes its column facts from the meta alone: a declared
    `list<bigint>` is a non-frozen list, and on a bare meta (no declared
    types) an ArrayType is a non-frozen list and a MapType a non-frozen
    map. Either way every write to the column takes the per-cell merge,
    whatever the buffer already holds."""

    @pytest.mark.parametrize(
        "cql_types, statements, col, expected",
        [
            pytest.param(
                (("l", "list<bigint>"),),
                ["INSERT INTO cl (k, l) VALUES (1, [1, 2])",
                 "UPDATE cl SET l = l + [3] WHERE k = 1"],
                "l", [(1, [1, 2, 3])], id="declared_list_append",
            ),
            pytest.param(
                (),
                ["INSERT INTO cl (k, l) VALUES (1, [1, 2])",
                 "UPDATE cl SET l = l + [3] WHERE k = 1"],
                "l", [(1, [1, 2, 3])], id="bare_list_append",
            ),
            pytest.param(
                (),
                ["INSERT INTO cl (k, l) VALUES (1, [1, 2])",
                 "UPDATE cl SET l[0] = 9 WHERE k = 1"],
                "l", [(1, [9, 2])], id="bare_list_set_index",
            ),
            # Cassandra 4.0: each tied full write's complex deletion at
            # wt-1 shadows neither write's cells
            pytest.param(
                (),
                ["INSERT INTO cl (k, l) VALUES (1, [1, 2]) USING TIMESTAMP 5",
                 "INSERT INTO cl (k, l) VALUES (1, [3]) USING TIMESTAMP 5"],
                "l", [(1, [1, 2, 3])], id="bare_tied_full_writes",
            ),
            pytest.param(
                (),
                ["INSERT INTO cl (k, m) VALUES (1, {'a': 1})",
                 "UPDATE cl SET m['b'] = 2 WHERE k = 1"],
                "m", [(1, {"a": 1, "b": 2})], id="bare_map_put",
            ),
        ],
    )
    def test_collection_writes(self, spark, cql_types, statements, col, expected):
        sess = CqlWriteSession(spark, _coll_meta(cql_types))
        for stmt in statements:
            sess.execute(stmt)
        assert [tuple(r) for r in sess.table().select("k", col).collect()] == expected


class TestTupleValues:
    """tuple<...> columns take a tuple literal (Parser.g tupleLiteral) or
    a bound Python tuple; IN keeps parsing its parenthesized list as
    values."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE TABLE t (k int PRIMARY KEY, tp frozen<tuple<int, text>>)")
        return db

    def test_literal_and_bound_tuple_read_back(self, db):
        db.execute("INSERT INTO t (k, tp) VALUES (1, (1, 'a'))")
        db.execute("INSERT INTO t (k, tp) VALUES (?, ?)", [2, (1, "a")])
        db.execute("UPDATE t SET tp = (3, 'c') WHERE k = 3")
        got = sorted(
            (r.k, tuple(r.tp)) for r in db.execute("SELECT k, tp FROM t").collect()
        )
        assert got == [(1, (1, "a")), (2, (1, "a")), (3, (3, "c"))]
        in_rows = db.execute("SELECT k FROM t WHERE k IN (1, 3)").collect()
        assert sorted(r.k for r in in_rows) == [1, 3]
        db.execute("DELETE FROM t WHERE k IN (1, 2)")
        assert [r.k for r in db.execute("SELECT k FROM t").collect()] == [3]

    @pytest.mark.parametrize("value", ["(1, 'a', 2)", "('x', 'a')"])
    def test_mismatched_tuple_rejected(self, db, value):
        with pytest.raises(InvalidRequest, match="Invalid"):
            db.execute(f"INSERT INTO t (k, tp) VALUES (1, {value})")


class TestKeysStoreAsTheyPack:
    """A key stores in the form its sstable marshal packs, so two values
    that pack to the same bytes are one partition (or one row), and a
    flush of the table succeeds."""

    @pytest.fixture()
    def db(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        return CqlDatabase(spark)

    def _flush(self, db, tmp_path, table="t"):
        return db.flush_sstables(table, str(tmp_path / "flush"))

    def test_bound_list_for_a_frozen_set_key_is_one_partition(self, db, tmp_path):
        db.execute("CREATE TABLE t (k frozen<set<int>> PRIMARY KEY, v int)")
        db.execute("INSERT INTO t (k, v) VALUES ({1, 2}, 0)")
        assert not db.execute(
            "INSERT INTO t (k, v) VALUES (?, ?) IF NOT EXISTS", [[2, 1], 9]
        )
        db.execute("INSERT INTO t (k, v) VALUES (?, ?)", [[2, 1, 2], 1])
        assert rows(db.execute("SELECT k, v FROM t")) == [([1, 2], 1)]
        [m] = self._flush(db, tmp_path)
        assert (m["partitions"], m["rows"]) == (1, 1)
        # a bound read addresses the key the bound write stored
        q = "SELECT v FROM t WHERE k = ?"
        assert rows(db.execute(q, [[2, 1]])) == [(1,)]
        assert rows(db.execute(q, [[1, 2, 2]])) == [(1,)]
        assert rows(db.execute("SELECT v FROM t WHERE k = {2, 1}")) == [(1,)]
        db.execute("DELETE FROM t WHERE k = ?", [[2, 1]])
        assert rows(db.execute("SELECT k, v FROM t")) == []

    def test_bound_list_for_a_set_column_sorts_and_dedups(self, db):
        db.execute("CREATE TABLE t (k int PRIMARY KEY, s set<int>)")
        db.execute("INSERT INTO t (k, s) VALUES (?, ?)", [1, [3, 1, 3, 2]])
        assert rows(db.execute("SELECT k, s FROM t")) == [(1, [1, 2, 3])]

    def test_bound_timestamps_floor_to_the_millisecond(self, db, tmp_path):
        import datetime as dt

        db.execute("CREATE TABLE t (k timestamp PRIMARY KEY, v int)")
        ins = "INSERT INTO t (k, v) VALUES (?, ?)"
        db.execute(ins, [dt.datetime(2020, 1, 1, 0, 0, 0, 100), 0])
        db.execute(ins, [dt.datetime(2020, 1, 1, 0, 0, 0, 200), 1])
        db.execute(ins, [dt.datetime(2020, 1, 1, 0, 0, 0, 1500), 2])
        assert rows(db.execute("SELECT k, v FROM t")) == [
            (dt.datetime(2020, 1, 1), 1),
            (dt.datetime(2020, 1, 1, 0, 0, 0, 1000), 2),
        ]
        [m] = self._flush(db, tmp_path)
        assert (m["partitions"], m["rows"]) == (2, 2)
        # a read and a delete bound a sub-millisecond datetime address
        # the same key as the write did
        q = "SELECT v FROM t WHERE k = ?"
        assert rows(db.execute(q, [dt.datetime(2020, 1, 1, 0, 0, 0, 900)])) == [(1,)]
        db.execute("DELETE FROM t WHERE k = ?", [dt.datetime(2020, 1, 1, 0, 0, 0, 1999)])
        assert rows(db.execute("SELECT k, v FROM t")) == [(dt.datetime(2020, 1, 1), 1)]

    def test_frozen_collection_clustering_flushes_and_reloads(self, db, tmp_path):
        for t in ("t", "t2"):
            db.execute(
                f"CREATE TABLE {t} (k int, c frozen<list<int>>, v int, PRIMARY KEY (k, c))"
            )
        db.execute("INSERT INTO t (k, c, v) VALUES (1, [3, 1], 0)")
        db.execute("INSERT INTO t (k, c, v) VALUES (1, [1, 2], 1)")
        db.execute("INSERT INTO t (k, c, v) VALUES (2, [], 2)")
        before = rows(db.execute("SELECT k, c, v FROM t"))
        assert len(before) == 3
        self._flush(db, tmp_path)
        db.load_sstables("t2", str(tmp_path / "flush"))
        assert rows(db.execute("SELECT k, c, v FROM t2")) == before
