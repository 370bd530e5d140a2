"""Property test: CqlWriteSession vs a reference model.

Random sequences of INSERT / UPDATE / DELETE (row, column and clustering
range) with unique explicit timestamps applied both to the Spark write
session and to a plain Python model of CQL cell semantics — final visible
states must agree.
This sweeps interleavings (delete-then-reinsert, disjoint cell writes,
out-of-order timestamps) that the hand-written scenarios can't enumerate.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
from cassandra_pmem_spark.cql.writes import CqlWriteSession

META = TableMeta(
    "kv",
    T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ]
    ),
    partition_key=("k",),
    clustering=(ClusteringColumn("c"),),
)

_KEYS = [(1, 1), (1, 2), (2, 1)]
_VALS = ["v1", "v2", "v3"]


@st.composite
def op(draw):
    kind = draw(
        st.sampled_from(
            ["insert", "update_a", "update_b", "del_row", "del_col_a", "del_range"]
        )
    )
    key = draw(st.sampled_from(_KEYS))
    if kind == "del_range":
        # a clustering-range delete from the key's c up to this bound
        val = draw(st.integers(min_value=key[1], max_value=2))
    else:
        val = draw(st.sampled_from(_VALS))
    return kind, key, val


class Model:
    """Reference semantics: per-cell (value, writetime); deletes shadow
    cells with writetime <= tombstone; row visible iff any live cell."""

    def __init__(self):
        self.cells: dict = {}      # key -> {col: (val, wt)}

    def write(self, key, cols: dict, wt: int):
        d = self.cells.setdefault(key, {})
        for col, val in cols.items():
            if col not in d or d[col][1] < wt:
                d[col] = (val, wt)

    def delete_cells(self, key, cols, wt: int):
        d = self.cells.get(key, {})
        for col in cols:
            if col in d and d[col][1] <= wt:
                del d[col]

    def delete_range(self, k: int, c_lo: int, c_hi: int, wt: int):
        for kk, cc in list(self.cells):
            if kk == k and c_lo <= cc <= c_hi:
                self.delete_cells((kk, cc), ["a", "b"], wt)

    def visible(self):
        out = []
        for (k, c), d in self.cells.items():
            if d:
                out.append(
                    (k, c, d.get("a", (None,))[0], d.get("b", (None,))[0])
                )
        return sorted(out, key=str)


class TestWriteModelProperty:
    @settings(
        max_examples=16,  # each example runs Spark jobs — keep the corpus tight
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op(), min_size=1, max_size=10))
    def test_session_matches_model(self, spark, ops):
        sess = CqlWriteSession(spark, META)
        model = Model()
        for wt, (kind, (k, c), val) in enumerate(ops, start=1):
            if kind == "insert":
                sess.execute(
                    f"INSERT INTO kv (k, c, a, b) VALUES ({k}, {c}, '{val}', 'b{val}') "
                    f"USING TIMESTAMP {wt}"
                )
                model.write((k, c), {"a": val, "b": f"b{val}"}, wt)
            elif kind == "update_a":
                sess.execute(
                    f"UPDATE kv USING TIMESTAMP {wt} SET a = '{val}' WHERE k = {k} AND c = {c}"
                )
                model.write((k, c), {"a": val}, wt)
            elif kind == "update_b":
                sess.execute(
                    f"UPDATE kv USING TIMESTAMP {wt} SET b = '{val}' WHERE k = {k} AND c = {c}"
                )
                model.write((k, c), {"b": val}, wt)
            elif kind == "del_row":
                sess.execute(
                    f"DELETE FROM kv USING TIMESTAMP {wt} WHERE k = {k} AND c = {c}"
                )
                model.delete_cells((k, c), ["a", "b"], wt)
            elif kind == "del_col_a":
                sess.execute(
                    f"DELETE a FROM kv USING TIMESTAMP {wt} WHERE k = {k} AND c = {c}"
                )
                model.delete_cells((k, c), ["a"], wt)
            elif kind == "del_range":
                sess.execute(
                    f"DELETE FROM kv USING TIMESTAMP {wt} "
                    f"WHERE k = {k} AND c >= {c} AND c <= {val}"
                )
                model.delete_range(k, c, val, wt)

        got = sorted(
            (tuple(r) for r in sess.table().select("k", "c", "a", "b").collect()),
            key=str,
        )
        assert got == model.visible(), f"ops={ops}"


@st.composite
def op_ext(draw):
    kind = draw(
        st.sampled_from(
            [
                "insert", "update_a", "del_row", "del_col_a",
                "insert_ttl", "range_del", "batch_ins_del", "batch_del_ins",
            ]
        )
    )
    key = draw(st.sampled_from(_KEYS))
    val = draw(st.sampled_from(_VALS))
    ttl = draw(st.sampled_from([5, 50]))
    return kind, key, val, ttl


class ModelTtl:
    """Extended model: per-cell (value, writetime, expiry); a cell is
    visible at `now` iff it isn't shadowed by a tombstone and
    (expiry is None or expiry > now) — LivenessInfo semantics."""

    def __init__(self):
        self.cells: dict = {}

    def write(self, key, cols: dict, wt: int, ttl: int | None = None):
        d = self.cells.setdefault(key, {})
        exp = wt + ttl if ttl is not None else None
        for col, val in cols.items():
            if col not in d or d[col][1] < wt:
                d[col] = (val, wt, exp)

    def delete_cells(self, key, cols, wt: int):
        d = self.cells.get(key, {})
        for col in list(cols):
            if col in d and d[col][1] <= wt:
                del d[col]

    def delete_range(self, k: int, c_lo: int, wt: int):
        for (kk, cc) in list(self.cells):
            if kk == k and cc >= c_lo:
                self.delete_cells((kk, cc), ["a", "b"], wt)

    def visible(self, now: int):
        out = []
        for (k, c), d in self.cells.items():
            live = {
                col: v
                for col, (v, _wt, exp) in d.items()
                if exp is None or exp > now
            }
            if live:
                out.append((k, c, live.get("a"), live.get("b")))
        return sorted(out, key=str)


class TestWriteModelPropertyTtlBatch:
    """Sweeps TTL expiry, clustering-range tombstones, and shared-timestamp
    batches (insert-then-delete and delete-then-insert both resolve to the
    tombstone at an equal timestamp) against the extended model."""

    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op_ext(), min_size=1, max_size=8))
    def test_session_matches_model_with_ttl_and_batches(self, spark, ops):
        sess = CqlWriteSession(spark, META)
        model = ModelTtl()
        for wt, (kind, (k, c), val, ttl) in enumerate(ops, start=1):
            if kind == "insert":
                sess.execute(
                    f"INSERT INTO kv (k, c, a, b) VALUES ({k}, {c}, '{val}', 'b{val}') "
                    f"USING TIMESTAMP {wt}"
                )
                model.write((k, c), {"a": val, "b": f"b{val}"}, wt)
            elif kind == "update_a":
                sess.execute(
                    f"UPDATE kv USING TIMESTAMP {wt} SET a = '{val}' WHERE k = {k} AND c = {c}"
                )
                model.write((k, c), {"a": val}, wt)
            elif kind == "del_row":
                sess.execute(f"DELETE FROM kv USING TIMESTAMP {wt} WHERE k = {k} AND c = {c}")
                model.delete_cells((k, c), ["a", "b"], wt)
            elif kind == "del_col_a":
                sess.execute(f"DELETE a FROM kv USING TIMESTAMP {wt} WHERE k = {k} AND c = {c}")
                model.delete_cells((k, c), ["a"], wt)
            elif kind == "insert_ttl":
                sess.execute(
                    f"INSERT INTO kv (k, c, a) VALUES ({k}, {c}, '{val}') "
                    f"USING TIMESTAMP {wt} AND TTL {ttl}"
                )
                model.write((k, c), {"a": val}, wt, ttl=ttl)
            elif kind == "range_del":
                sess.execute(
                    f"DELETE FROM kv USING TIMESTAMP {wt} WHERE k = {k} AND c >= {c}"
                )
                model.delete_range(k, c, wt)
            elif kind == "batch_ins_del":
                sess.execute(
                    f"BEGIN UNLOGGED BATCH USING TIMESTAMP {wt} "
                    f"INSERT INTO kv (k, c, a) VALUES ({k}, {c}, '{val}'); "
                    f"DELETE FROM kv WHERE k = {k} AND c = {c}; "
                    "APPLY BATCH"
                )
                model.write((k, c), {"a": val}, wt)
                model.delete_cells((k, c), ["a", "b"], wt)
            elif kind == "batch_del_ins":
                sess.execute(
                    f"BEGIN UNLOGGED BATCH USING TIMESTAMP {wt} "
                    f"DELETE FROM kv WHERE k = {k} AND c = {c}; "
                    f"INSERT INTO kv (k, c, a) VALUES ({k}, {c}, '{val}'); "
                    "APPLY BATCH"
                )
                model.write((k, c), {"a": val}, wt)
                model.delete_cells((k, c), ["a", "b"], wt)

        for now in (3, 8, 60, 10_000):
            got = sorted(
                (
                    tuple(r)
                    for r in sess.table(now=now).select("k", "c", "a", "b").collect()
                ),
                key=str,
            )
            assert got == model.visible(now), f"now={now} ops={ops}"


class TestBatchAtomicityProperty:
    """Property: a batch containing ONE invalid statement (at any random
    position) leaves the session state EXACTLY as before — the round-4
    prepare-then-apply contract, swept over positions and prior state."""

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        pre=st.lists(op(), min_size=0, max_size=4),
        good=st.lists(op(), min_size=1, max_size=4),
        bad_pos=st.integers(min_value=0, max_value=4),
        bad_kind=st.sampled_from(
            ["ttl", "pk_in_set", "unknown_col", "batch_head"]
        ),
    )
    def test_poisoned_batch_is_a_noop(self, spark, pre, good, bad_pos, bad_kind):
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        def stmt_of(o):
            kind, (k, c), v = o
            if kind == "insert":
                return f"INSERT INTO kv (k, c, a) VALUES ({k}, {c}, '{v}')"
            if kind == "update_a":
                return f"UPDATE kv SET a = '{v}' WHERE k = {k} AND c = {c}"
            if kind == "update_b":
                return f"UPDATE kv SET b = '{v}' WHERE k = {k} AND c = {c}"
            if kind == "del_row":
                return f"DELETE FROM kv WHERE k = {k} AND c = {c}"
            if kind == "del_range":
                return f"DELETE FROM kv WHERE k = {k} AND c >= {c} AND c <= {v}"
            return f"DELETE a FROM kv WHERE k = {k} AND c = {c}"

        bad_stmt = {
            "ttl": "INSERT INTO kv (k, c, a) VALUES (9, 9, 'x') USING TTL -1",
            "pk_in_set": "UPDATE kv SET c = 5 WHERE k = 9 AND c = 9",
            "unknown_col": "INSERT INTO kv (k, c, nope) VALUES (9, 9, 'x')",
            "batch_head": "SELECT * FROM kv",
        }[bad_kind]

        sess = CqlWriteSession(spark, META)
        for i, o in enumerate(pre):
            sess.execute(stmt_of(o) + f" USING TIMESTAMP {100 + i}"
                         if o[0] in ("insert",) else stmt_of(o))
        before = sorted(tuple(r) for r in sess.table().collect())
        snap_lens = (
            len(sess._mutations), len(sess._row_tombs),
            len(sess._cell_tombs), len(sess._range_tombs), sess._clock_ref[0],
        )

        inner = [stmt_of(o) for o in good]
        inner.insert(min(bad_pos, len(inner)), bad_stmt)
        with pytest.raises(InvalidRequest):
            sess.execute("BEGIN BATCH " + "; ".join(inner) + "; APPLY BATCH")

        after_lens = (
            len(sess._mutations), len(sess._row_tombs),
            len(sess._cell_tombs), len(sess._range_tombs), sess._clock_ref[0],
        )
        assert after_lens == snap_lens
        assert sorted(tuple(r) for r in sess.table().collect()) == before


MAP_META = TableMeta(
    "pm",
    T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType(), True)),
        ]
    ),
    partition_key=("k",),
)


class MapCellModel:
    """Reference map-cell semantics: one (value, writetime) per entry,
    None = cell tombstone; a full map write is a complex deletion at
    wt-1 plus its cells; row visible iff INSERT liveness or a live cell."""

    def __init__(self):
        self.cells: dict = {}  # k -> {mk: (val | None, wt)}
        self.cdel: dict = {}   # k -> complex deletion ts
        self.live: set = set()

    def _cell(self, k, mk, v, wt):
        cur = self.cells.setdefault(k, {})
        if mk not in cur or cur[mk][1] < wt:
            cur[mk] = (v, wt)

    def full(self, k, d, wt):
        self.cdel[k] = max(self.cdel.get(k, -1), wt - 1)
        for mk, v in d.items():
            self._cell(k, mk, v, wt)

    def visible(self) -> dict:
        out = {}
        for k in set(self.cells) | self.live:
            dd = self.cdel.get(k, -1)
            m = {
                mk: v
                for mk, (v, wt) in self.cells.get(k, {}).items()
                if v is not None and wt > dd
            }
            if m:
                out[k] = m
            elif k in self.live:
                out[k] = None
        return out


@st.composite
def map_ops(draw):
    n = draw(st.integers(min_value=6, max_value=16))
    ops = [
        (
            draw(st.sampled_from(["full", "set_elem", "del_elem", "live"])),
            draw(st.sampled_from([1, 2])),
            draw(st.sampled_from(["a", "b"])),
            draw(st.integers(min_value=1, max_value=3)),
            draw(st.booleans()),  # for full: include second key too
        )
        for _ in range(n)
    ]
    wts = draw(st.permutations(list(range(1, n + 1))))
    return list(zip(ops, wts))


class TestMapCellProperty:
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=map_ops())
    def test_session_matches_map_cell_model(self, spark, ops):
        sess = CqlWriteSession(spark, MAP_META)
        model = MapCellModel()
        for (kind, k, mk, v, both), wt in ops:
            if kind == "full":
                d = {mk: v}
                if both:
                    d["b" if mk == "a" else "a"] = v + 1
                lit = ", ".join(f"'{mk2}': {v2}" for mk2, v2 in d.items())
                sess.execute(
                    f"UPDATE pm USING TIMESTAMP {wt} SET m = {{{lit}}} WHERE k = {k}"
                )
                model.full(k, d, wt)
            elif kind == "set_elem":
                sess.execute(
                    f"UPDATE pm USING TIMESTAMP {wt} SET m['{mk}'] = {v} WHERE k = {k}"
                )
                model._cell(k, mk, v, wt)
            elif kind == "del_elem":
                sess.execute(
                    f"DELETE m['{mk}'] FROM pm USING TIMESTAMP {wt} WHERE k = {k}"
                )
                model._cell(k, mk, None, wt)
            else:
                sess.execute(f"INSERT INTO pm (k) VALUES ({k}) USING TIMESTAMP {wt}")
                model.live.add(k)
        got = {r.k: r.m for r in sess.table().collect()}
        assert got == model.visible()


@st.composite
def coll_op(draw):
    kind = draw(
        st.sampled_from(
            [
                "l_append", "l_prepend", "l_full", "l_discard",
                "s_add", "s_discard", "s_full",
            ]
        )
    )
    vals = draw(st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=2))
    # a SMALL timestamp pool: ties between writes, tombstones, and full
    # writes are the interesting reconcile cases
    wt = draw(st.integers(min_value=1, max_value=4))
    return kind, vals, wt


_COLL_META = TableMeta(
    "ct",
    T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("l", T.ArrayType(T.StringType())),
            T.StructField("s", T.ArrayType(T.StringType())),
        ]
    ),
    partition_key=("k",),
    cql_types=(("l", "list<text>"), ("s", "set<text>")),
)


class CollModel:
    """Independent model of the reference's collection cell semantics
    (Lists.java/Sets.java + Cells.reconcile + ComplexColumnData
    deletions). Cell keys are TUPLES ordered like timeuuid issuance —
    prepends (0, MAX-stmt, idx) before appends/full cells
    (1, stmt, kind, idx) — deliberately NOT reusing the engine's string
    encoding, so encoding bugs are caught too. Versions reconcile by
    (writetime, tombstone-wins, value); a full write contributes a
    complex deletion at wt-1 plus fresh cells."""

    BIG = 10**9

    def __init__(self):
        self.stmt = 0
        self.l_versions: dict = {}
        self.l_del = -1
        self.s_versions: dict = {}
        self.s_del = -1

    @staticmethod
    def _winner(vers):
        return max(vers, key=lambda t: (t[0], t[1], t[2] or ""))

    def _visible(self, versions, del_wt):
        out = {}
        for key, vers in versions.items():
            wt, tomb, val = self._winner(vers)
            if tomb == 0 and wt > del_wt:
                out[key] = (val, wt)
        return out

    def l_append(self, vals, wt):
        self.stmt += 1
        for i, v in enumerate(vals):
            self.l_versions.setdefault((1, self.stmt, 1, i), []).append((wt, 0, v))

    def l_prepend(self, vals, wt):
        self.stmt += 1
        for i, v in enumerate(vals):
            self.l_versions.setdefault((0, self.BIG - self.stmt, i), []).append(
                (wt, 0, v)
            )

    def l_full(self, vals, wt):
        self.stmt += 1
        self.l_del = max(self.l_del, wt - 1)
        for i, v in enumerate(vals):
            self.l_versions.setdefault((1, self.stmt, 0, i), []).append((wt, 0, v))

    def l_discard(self, vals, wt):
        # Lists.Discarder reads the VISIBLE cells, then tombstones every
        # matching position
        self.stmt += 1
        vs = set(vals)
        for key, (val, _w) in self._visible(self.l_versions, self.l_del).items():
            if val in vs:
                self.l_versions.setdefault(key, []).append((wt, 1, None))

    def s_add(self, vals, wt):
        self.stmt += 1
        for v in set(vals):
            self.s_versions.setdefault(v, []).append((wt, 0, v))

    def s_discard(self, vals, wt):
        self.stmt += 1
        for v in set(vals):
            self.s_versions.setdefault(v, []).append((wt, 1, None))

    def s_full(self, vals, wt):
        self.stmt += 1
        self.s_del = max(self.s_del, wt - 1)
        for v in set(vals):
            self.s_versions.setdefault(v, []).append((wt, 0, v))

    def expected(self):
        lv = self._visible(self.l_versions, self.l_del)
        sv = self._visible(self.s_versions, self.s_del)
        l = [lv[k][0] for k in sorted(lv)] or None
        wl = [lv[k][1] for k in sorted(lv)] or None
        s = sorted(sv) or None
        ws = [sv[k][1] for k in sorted(sv)] or None
        visible = bool(lv or sv)
        return visible, l, wl, s, ws


class TestCollectionCellProperty:
    """Random list/set mutation interleavings (appends, prepends, full
    writes, discards, tied timestamps) vs the independent cell model —
    final values AND per-cell writetimes must agree."""

    @settings(
        max_examples=12,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(coll_op(), min_size=1, max_size=8))
    def test_session_matches_collection_model(self, spark, ops):
        sess = CqlWriteSession(spark, _COLL_META)
        model = CollModel()
        for kind, vals, wt in ops:
            lit = "[" + ", ".join(f"'{v}'" for v in vals) + "]"
            slit = "{" + ", ".join(f"'{v}'" for v in sorted(set(vals))) + "}"
            if kind == "l_append":
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET l = l + {lit} WHERE k = 1")
                model.l_append(vals, wt)
            elif kind == "l_prepend":
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET l = {lit} + l WHERE k = 1")
                model.l_prepend(vals, wt)
            elif kind == "l_full":
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET l = {lit} WHERE k = 1")
                model.l_full(vals, wt)
            elif kind == "l_discard":
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET l = l - {lit} WHERE k = 1")
                model.l_discard(vals, wt)
            elif kind == "s_add":
                if not vals:
                    continue  # `s + {}` parses as an empty MAP literal
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET s = s + {slit} WHERE k = 1")
                model.s_add(vals, wt)
            elif kind == "s_discard":
                if not vals:
                    continue
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET s = s - {slit} WHERE k = 1")
                model.s_discard(vals, wt)
            elif kind == "s_full":
                sess.execute(f"UPDATE ct USING TIMESTAMP {wt} SET s = {slit} WHERE k = 1")
                model.s_full(vals, wt)

        visible, l, wl, s_exp, ws = model.expected()
        df = sess.table(with_shadows=True)
        cols = ["l", "s"]
        if "_cellwt_l" in df.columns:
            cols.append("_cellwt_l")
        if "_cellwt_s" in df.columns:
            cols.append("_cellwt_s")
        rows = df.select(*cols).collect()
        if not visible:
            assert rows == [], f"ops={ops}"
            return
        assert len(rows) == 1, f"ops={ops}"
        got = rows[0].asDict()
        assert (got["l"] or None) == l, f"l: ops={ops}"
        assert (sorted(got["s"]) if got["s"] else None) == s_exp, f"s: ops={ops}"
        # per-cell writetimes, position/element-ordered
        cw = got.get("_cellwt_l")
        got_wl = [cw[k] for k in sorted(cw)] if cw else None
        assert got_wl == wl, f"wl: ops={ops}"
        cs = got.get("_cellwt_s")
        got_ws = [cs[k] for k in sorted(cs)] if cs else None
        assert got_ws == ws, f"ws: ops={ops}"


_UDT_META = TableMeta(
    "kv2",
    T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField(
                "u",
                T.StructType(
                    [
                        T.StructField("x", T.IntegerType()),
                        T.StructField("y", T.IntegerType()),
                    ]
                ),
            ),
        ]
    ),
    partition_key=("k",),
    clustering=(ClusteringColumn("c"),),
    cql_types=(("u", "pt"),),
)

_UKEYS = [(1, 1), (1, 2), (2, 1)]


@st.composite
def udt_op(draw):
    kind = draw(
        st.sampled_from(
            [
                "ins_scalar", "ins_udt", "upd_x", "upd_y", "upd_x_null",
                "full_set", "set_u_null", "del_x", "del_u", "del_row",
                "upd_a",
            ]
        )
    )
    key = draw(st.sampled_from(_UKEYS))
    val = draw(st.integers(min_value=1, max_value=9))
    return kind, key, val


class UdtModel:
    """Reference cell semantics for one non-frozen UDT column u(x, y)
    plus a scalar a: per-field cells with their own LWW + tombstones;
    full-value writes are a complex deletion at wt-1 + field cells
    (UserTypes.Setter); row liveness only from INSERT."""

    def __init__(self):
        self.s: dict = {}

    def _st(self, key):
        return self.s.setdefault(
            key,
            {
                "rt": 0, "row_live": 0,
                "a": None, "a_tomb": 0,
                "f": {}, "ftomb": {"x": 0, "y": 0},
            },
        )

    def write_field(self, key, f, val, wt):
        d = self._st(key)["f"]
        if f not in d or d[f][1] < wt:
            d[f] = (val, wt)

    def tomb_field(self, key, f, wt):
        t = self._st(key)["ftomb"]
        t[f] = max(t[f], wt)

    def apply(self, kind, key, val, wt):
        st_ = self._st(key)
        if kind == "ins_scalar":
            st_["row_live"] = max(st_["row_live"], wt)
            if st_["a"] is None or st_["a"][1] < wt:
                st_["a"] = (f"s{val}", wt)
        elif kind == "ins_udt":
            st_["row_live"] = max(st_["row_live"], wt)
            for f in ("x", "y"):
                self.tomb_field(key, f, wt - 1)
            self.write_field(key, "x", val, wt)
            self.write_field(key, "y", val + 1, wt)
        elif kind == "upd_x":
            self.write_field(key, "x", val, wt)
        elif kind == "upd_y":
            self.write_field(key, "y", val, wt)
        elif kind == "upd_x_null":
            self.tomb_field(key, "x", wt)
        elif kind == "full_set":
            for f in ("x", "y"):
                self.tomb_field(key, f, wt - 1)
            self.write_field(key, "x", val, wt)
        elif kind == "set_u_null" or kind == "del_u":
            for f in ("x", "y"):
                self.tomb_field(key, f, wt)
        elif kind == "del_x":
            self.tomb_field(key, "x", wt)
        elif kind == "del_row":
            st_["rt"] = max(st_["rt"], wt)
        elif kind == "upd_a":
            if st_["a"] is None or st_["a"][1] < wt:
                st_["a"] = (f"s{val}", wt)

    def visible(self):
        out = []
        for (k, c), st_ in self.s.items():
            rt = st_["rt"]
            a = None
            if st_["a"] is not None and st_["a"][1] > max(st_["a_tomb"], rt):
                a = st_["a"][0]
            fv = {}
            for f in ("x", "y"):
                cell = st_["f"].get(f)
                if cell is not None and cell[1] > max(st_["ftomb"][f], rt):
                    fv[f] = cell[0]
            u = (fv.get("x"), fv.get("y")) if fv else None
            if st_["row_live"] > rt or a is not None or u is not None:
                out.append((k, c, a, u))
        return sorted(out, key=str)


class TestUdtWriteModelProperty:
    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(udt_op(), min_size=1, max_size=8))
    def test_udt_session_matches_model(self, spark, ops):
        sess = CqlWriteSession(spark, _UDT_META)
        model = UdtModel()
        for i, (kind, (k, c), val) in enumerate(ops):
            wt = (i + 1) * 10
            where = f"WHERE k = {k} AND c = {c}"
            stmt = {
                "ins_scalar": f"INSERT INTO kv2 (k, c, a) VALUES ({k}, {c}, 's{val}') USING TIMESTAMP {wt}",
                "ins_udt": f"INSERT INTO kv2 (k, c, u) VALUES ({k}, {c}, {{x: {val}, y: {val + 1}}}) USING TIMESTAMP {wt}",
                "upd_x": f"UPDATE kv2 USING TIMESTAMP {wt} SET u.x = {val} {where}",
                "upd_y": f"UPDATE kv2 USING TIMESTAMP {wt} SET u.y = {val} {where}",
                "upd_x_null": f"UPDATE kv2 USING TIMESTAMP {wt} SET u.x = null {where}",
                "full_set": f"UPDATE kv2 USING TIMESTAMP {wt} SET u = {{x: {val}}} {where}",
                "set_u_null": f"UPDATE kv2 USING TIMESTAMP {wt} SET u = null {where}",
                "del_x": f"DELETE u.x FROM kv2 USING TIMESTAMP {wt} {where}",
                "del_u": f"DELETE u FROM kv2 USING TIMESTAMP {wt} {where}",
                "del_row": f"DELETE FROM kv2 USING TIMESTAMP {wt} {where}",
                "upd_a": f"UPDATE kv2 USING TIMESTAMP {wt} SET a = 's{val}' {where}",
            }[kind]
            sess.execute(stmt)
            model.apply(kind, (k, c), val, wt)
        got = sorted(
            (
                (r.k, r.c, r.a, tuple(r.u) if r.u is not None else None)
                for r in sess.table().collect()
            ),
            key=str,
        )
        assert got == model.visible(), f"ops={ops}"
