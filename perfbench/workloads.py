"""The four benchmark workloads.

Each workload draws its inputs from the run seed in ``make_inputs`` (the
engine sees only these generated inputs), computes every expected result
in ``expect`` outside the timed phase, warms up (six blocks on cql_read,
one session on cql_write, each op kind once on the others), and then
runs *units* in a closed loop from one client thread: a unit is a block
of six statements (cql_read), one fixed-count write session (cql_write),
two passes (tpch_analytics) or one pass (llm_pipeline). Every op is
checked against its expected result; a wrong result counts as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import numpy as np

from datagen import EMB_DIM, VOCAB


class Sample:
    __slots__ = ("kind", "ms", "ok")

    def __init__(self, kind: str, ms: float, ok: bool):
        self.kind, self.ms, self.ok = kind, ms, ok


class Workload:
    """Shared op timing and checking; subclasses define the ops."""

    name = ""
    latency_kinds: tuple[str, ...] = ()  # kinds behind op_ms.p50_gmean; () = all

    def __init__(self, spark, data_dir: str, seed: int, work_dir: str, probe):
        self.spark, self.data, self.seed = spark, data_dir, seed
        self.work, self.probe = work_dir, probe
        self.samples: list[Sample] = []
        self.errors: list[str] = []

    def rng(self, stream: str) -> np.random.Generator:
        key = f"{self.name}/{stream}/{self.seed}".encode()
        return np.random.default_rng(int.from_bytes(hashlib.sha256(key).digest()[:8], "little"))

    def timed(self, kind: str, fn, check) -> object:
        """Run one op; ``check(result)`` returns None when it is correct,
        else a message. Exceptions and wrong results count as failed."""
        ok, out = True, None
        with self.probe.op(kind) as rec:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # an op the engine refused or failed
                ok, msg = False, f"{kind}: {type(e).__name__}: {e}"[:300]
            ms = (time.perf_counter() - t0) * 1e3
        if ok:
            msg = check(out)
            ok = msg is None
        rec["ok"] = ok
        if not ok:
            self.errors.append(msg)
        self.samples.append(Sample(kind, ms, ok))
        return out

    def reset_samples(self) -> None:
        self.samples, self.errors = [], []

    # subclasses: make_inputs() -> jsonable, expect(inputs), warm_up(), unit()


def rows_equal(got, want, ordered: bool = False) -> str | None:
    g = [tuple(r) for r in got]
    w = [tuple(r) for r in want]
    if not ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b) or any(not _close(x, y) for x, y in zip(a, b)):
            return f"row {a!r} != expected {b!r}"
    return None


def _close(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        if x is None or y is None:
            return x is y
        return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def _duck(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _ts(v) -> str:
    return v.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]


# ---------------------------------------------------------------------------
# cql_read
# ---------------------------------------------------------------------------

READ_KINDS = {
    "point": ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
              "FROM customer WHERE c_custkey = ?",
              "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
              "FROM customer WHERE c_custkey = ?"),
    "pk_in": ("SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey IN (?, ?, ?, ?)",
              "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey IN (?, ?, ?, ?)"),
    "slice": ("SELECT user_id, ts, event_id, event_type, value FROM events "
              "WHERE user_id = ? AND ts >= ? AND ts < ? ORDER BY ts DESC",
              "SELECT user_id, ts, event_id, event_type, value FROM events "
              "WHERE user_id = ? AND ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP "
              "ORDER BY ts DESC, event_id DESC"),
    "token": ("SELECT c_custkey, c_acctbal FROM customer "
              "WHERE token(c_custkey) > ? AND token(c_custkey) <= ?",
              "SELECT c.c_custkey, c.c_acctbal FROM customer c JOIN cust_token t "
              "USING (c_custkey) WHERE t.tok > ? AND t.tok <= ?"),
    "per_partition_limit": (
        "SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey IN (?, ?, ?) PER PARTITION LIMIT 2",
        "SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM ("
        "SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY "
        "o_orderdate DESC, o_orderkey) AS rn FROM orders "
        "WHERE o_custkey IN (?, ?, ?)) WHERE rn <= 2"),
    "group_by_pk": ("SELECT user_id, count(*), max(value) FROM events "
                    "WHERE user_id IN (?, ?) GROUP BY user_id",
                    "SELECT user_id, count(*), max(value) FROM events "
                    "WHERE user_id IN (?, ?) GROUP BY user_id"),
}
TOKEN_WIDTH = 2**64 // 200


class CqlRead(Workload):
    """Seeded CQL SELECT stream through ``cql.parser.execute_cql``."""

    name = "cql_read"
    stream_len = 240
    warm_blocks = 6

    def _draw(self, rng, kind: str) -> list:
        n_cust, n_users = self.sizes
        if kind == "point":
            return [int(rng.integers(0, n_cust))]
        if kind == "pk_in":
            return [int(k) for k in rng.choice(n_cust, 4, replace=False)]
        if kind == "slice":
            day = int(rng.integers(1, 24))
            span = int(rng.integers(2, 7))
            return [int(rng.integers(0, n_users)), f"2024-01-{day:02d} 00:00:00",
                    f"2024-01-{day + span:02d} 12:00:00"]
        if kind == "token":
            lo = int(rng.integers(-(2**63), 2**63 - 1 - TOKEN_WIDTH))
            return [lo, lo + TOKEN_WIDTH]
        if kind == "per_partition_limit":
            return [int(k) for k in rng.choice(n_cust, 3, replace=False)]
        return [int(k) for k in rng.choice(n_users, 2, replace=False)]

    def make_inputs(self):
        import pyarrow.parquet as pq

        users = pq.read_table(f"{self.data}/events.parquet", columns=["user_id"])
        self.sizes = (pq.read_metadata(f"{self.data}/customer.parquet").num_rows,
                      int(users.column(0).to_numpy().max()) + 1)
        rng = self.rng("statements")
        kinds = list(READ_KINDS)
        stream = []
        for _ in range(self.stream_len // len(kinds)):
            for k in rng.permutation(kinds):  # every block of 6 holds each kind once
                stream.append((str(k), self._draw(rng, str(k))))
        # the JVM keeps getting faster for the first few blocks after each
        # kind's first run, so the warm-up runs whole blocks
        warm_rng = self.rng("warm-up")
        warm = [(str(k), self._draw(warm_rng, str(k)))
                for _ in range(self.warm_blocks) for k in warm_rng.permutation(kinds)]
        return {"stream": stream, "warm": warm}

    def expect(self, inputs) -> None:
        import pandas as pd

        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        con = _duck(self.data, ("customer", "orders", "events"))
        keys = [r[0] for r in con.execute("SELECT c_custkey FROM customer").fetchall()]
        tokens = pd.DataFrame({"c_custkey": keys, "tok": [murmur3_token_py(k) for k in keys]})
        con.register("tokens", tokens)
        con.execute("CREATE TABLE cust_token AS SELECT * FROM tokens")
        self.stream = inputs["stream"]
        self.warm = inputs["warm"]
        self.expected = [con.execute(READ_KINDS[k][1], p).fetchall() for k, p in self.stream]
        con.close()
        self.pos = 0

    def _op(self, kind: str, params: list, want) -> None:
        from cassandra_pmem_spark.cql.parser import execute_cql, parse_select

        text = READ_KINDS[kind][0]
        probe = self.probe

        def run():
            if probe.enabled:
                with probe.span("cql.parse"):
                    parse_select(text, params)
            with probe.span("cql.compile"):
                df = execute_cql(self.spark, text, self.data, params=params)
            return probe.collect(df)

        check = (lambda rows: None) if want is None else \
            (lambda rows: rows_equal(rows, want, ordered=(kind == "slice")))
        self.timed(kind, run, check)

    def warm_up(self) -> None:
        for kind, params in self.warm:
            self._op(kind, params, None)

    def unit(self) -> None:
        """One block: each statement kind once, in the block's seeded order."""
        n = len(READ_KINDS)
        start = (self.pos * n) % len(self.stream)
        self.pos += 1
        for i in range(start, start + n):
            kind, params = self.stream[i]
            self._op(kind, params, self.expected[i])


# ---------------------------------------------------------------------------
# cql_write
# ---------------------------------------------------------------------------

EV_DDL = ("CREATE TABLE {t} (user_id bigint, ts timestamp, event_id bigint, "
          "event_type text, value double, PRIMARY KEY (user_id, ts, event_id))")
EV_COLS = "user_id, ts, event_id, event_type, value"
WHERE_PK = "WHERE user_id = ? AND ts = ? AND event_id = ?"
WRITE_SQL = {
    "insert": f"INSERT INTO ev ({EV_COLS}) VALUES (?, ?, ?, ?, ?)",
    "update_ttl": f"UPDATE ev USING TTL 86400 SET value = ? {WHERE_PK}",
    "delete": f"DELETE FROM ev {WHERE_PK}",
    "batch": (f"BEGIN BATCH INSERT INTO ev ({EV_COLS}) VALUES (?, ?, ?, ?, ?); "
              f"UPDATE ev SET event_type = ? {WHERE_PK}; APPLY BATCH"),
    "lwt": f"UPDATE ev SET value = ? {WHERE_PK} IF value > ?",
}
READ_SQL = f"SELECT {EV_COLS} FROM ev WHERE user_id = ?"
PAGE_SQL = "SELECT user_id, ts, event_id, value FROM ev WHERE user_id = ?"
PAGE_SIZE = 40


class CqlWrite(Workload):
    """Fixed-count write sessions on a fresh ``CqlDatabase`` each."""

    name = "cql_write"
    latency_kinds = ("read",)
    users = 6
    writes = 6
    reads = 6

    def make_inputs(self):
        import duckdb
        import pyarrow.parquet as pq

        rng = self.rng("session")
        n_users = int(pq.read_table(f"{self.data}/events.parquet",
                                    columns=["user_id"]).column(0).to_numpy().max()) + 1
        users = sorted(int(u) for u in rng.choice(n_users, self.users, replace=False))
        base = duckdb.sql(
            f"SELECT user_id, date_trunc('millisecond', ts) AS ts, event_id, event_type, "
            f"value FROM '{self.data}/events.parquet' WHERE user_id IN "
            f"({', '.join(map(str, users))}) ORDER BY user_id, ts, event_id").fetchall()
        live = {(u, t, e): [et, v] for u, t, e, et, v in base}
        kinds = [str(k) for k in rng.permutation(
            (list(WRITE_SQL) * (self.writes // len(WRITE_SQL) + 1))[: self.writes])]
        ops, fresh = [], 90_000_000
        t_feb = np.datetime64("2024-02-01T00:00:00", "ms")

        def pick():
            keys = sorted(live)
            return keys[int(rng.integers(0, len(keys)))]

        def new_row():
            nonlocal fresh
            fresh += 1
            ts = (t_feb + np.timedelta64(int(rng.integers(0, 86_400_000 * 20)), "ms")).item()
            return [users[int(rng.integers(0, len(users)))], ts, fresh,
                    str(rng.choice(["click", "view", "purchase"])),
                    round(float(rng.uniform(0, 560)), 2)]

        def snapshot(u):
            return sorted([u, _ts(k[1]), k[2], c[0], c[1]] for k, c in live.items() if k[0] == u)

        for i, kind in enumerate(kinds):
            if kind == "insert":
                row = new_row()
                live[tuple(row[:3])] = row[3:]
                ops.append(("insert", [row[0], _ts(row[1])] + row[2:], None))
            elif kind == "update_ttl":
                k, v = pick(), round(float(rng.uniform(0, 560)), 2)
                live[k][1] = v
                ops.append(("update_ttl", [v, k[0], _ts(k[1]), k[2]], None))
            elif kind == "delete":
                k = pick()
                del live[k]
                ops.append(("delete", [k[0], _ts(k[1]), k[2]], None))
            elif kind == "batch":
                row, k = new_row(), pick()
                et = str(rng.choice(["signup", "error"]))
                live[tuple(row[:3])] = row[3:]
                live[k][0] = et
                ops.append(("batch", [row[0], _ts(row[1])] + row[2:]
                            + [et, k[0], _ts(k[1]), k[2]], None))
            else:
                k, v = pick(), round(float(rng.uniform(0, 560)), 2)
                thr = round(float(rng.uniform(0, 560)), 2)
                applied = live[k][1] is not None and live[k][1] > thr
                if applied:
                    live[k][1] = v
                ops.append(("lwt", [v, k[0], _ts(k[1]), k[2], thr], applied))
            if i < self.reads:
                u = users[int(rng.integers(0, len(users)))]
                ops.append(("read", [u], snapshot(u)))
            if i == self.writes // 2:
                u = users[int(rng.integers(0, len(users)))]
                ops.append(("page", [u], [r[:3] + r[4:] for r in snapshot(u)]))
        return {"users": users, "base": [[u, _ts(t), e, et, v] for u, t, e, et, v in base],
                "ops": [[k, p, w] for k, p, w in ops], "final_rows": len(live)}

    def expect(self, inputs) -> None:
        import datetime as dt

        from pyspark.sql import functions as F

        def parse(v):
            return dt.datetime.strptime(v, "%Y-%m-%d %H:%M:%S.%f")

        self.ops = []
        for kind, params, want in inputs["ops"]:
            if kind in ("read", "page"):
                want = [[r[0], parse(r[1])] + r[2:] for r in want]
            self.ops.append((kind, params, want))
        self.final_rows = inputs["final_rows"]
        # the base slice goes to sstables once, during set-up
        from cassandra_pmem_spark.sources.sstable import bulk_write_sstables

        self.base_dir = os.path.join(self.work, "base")
        db = self._new_db()
        src = (self.spark.read.parquet(f"{self.data}/events.parquet")
               .filter(F.col("user_id").isin(inputs["users"]))
               .select("user_id", F.date_trunc("millisecond", "ts").alias("ts"),
                       "event_id", "event_type", "value"))
        bulk_write_sstables(src, db.registry.tables[db._table_key("ev")],
                            self.base_dir, sstables=2, compression=True)
        self.session_no = 0

    def _new_db(self):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(self.spark)
        db.execute("CREATE KEYSPACE bench WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE bench")
        db.execute(EV_DDL.format(t="ev"))
        db.execute(EV_DDL.format(t="ev_reload"))
        return db

    def _session(self, ops, final_rows) -> None:
        """One session: import, the op stream, then flush, reload, count."""
        probe = self.probe
        self.session_no += 1
        out_dir = os.path.join(self.work, f"flush{self.session_no}")
        shutil.rmtree(out_dir, ignore_errors=True)
        state = {}

        def load():
            with probe.span("cql.ddl"):
                state["db"] = self._new_db()
            with probe.span("cql.load"):
                state["db"].load_sstables("ev", self.base_dir)

        self.timed("import", load, lambda _: None)
        db = state.get("db")
        if db is None:
            return
        for kind, params, want in ops:
            if kind == "read":
                def read(params=params):
                    if probe.enabled:
                        from cassandra_pmem_spark.cql.parser import parse_select

                        with probe.span("cql.parse"):
                            parse_select(READ_SQL, params)
                    with probe.span("cql.compile"):
                        df = db.execute(READ_SQL, params)
                    return probe.collect(df)

                self.timed("read", read, lambda rows, w=want: None if w is None
                           else rows_equal(rows, w))
            elif kind == "page":
                self.timed("page", lambda params=params: self._drain(db, params),
                           lambda rows, w=want: None if w is None else rows_equal(rows, w))
            else:
                def write(params=params, kind=kind):
                    with probe.span("cql.write"):
                        return db.execute(WRITE_SQL[kind], params)

                self.timed(kind, write, lambda applied, w=want, k=kind: None
                           if k != "lwt" or w is None or bool(applied) == w
                           else f"LWT applied={applied}, expected {w}")

        def flush():
            with probe.span("cql.flush"):
                man = db.flush_sstables("ev", out_dir, sstables=2)
            size = sum(m["data_bytes"] for m in man)
            rows = sum(m["rows"] for m in man)
            probe.record("sources.sstable.bytes", size)
            probe.record("sources.sstable.files", len(man))
            probe.record("sources.sstable.bytes_per_row", size / max(rows, 1))
            with probe.span("cql.load"):
                db.load_sstables("ev_reload", out_dir)
            with probe.span("cql.compile"):
                df = db.execute("SELECT count(*) FROM ev_reload")
            return probe.collect(df)[0][0]

        self.timed("flush", flush, lambda n: None if final_rows is None or n == final_rows
                   else f"reloaded {n} rows, expected {final_rows}")
        shutil.rmtree(out_dir, ignore_errors=True)

    def _drain(self, db, params) -> list:
        probe = self.probe
        with probe.span("cql.compile"):
            pager = db.pager(PAGE_SQL, params, page_size=PAGE_SIZE)
        rows, pages = [], 0
        while not pager.is_exhausted():
            with probe.span("spark.action"):
                got = pager.fetch_page()
            pages += 1
            rows.extend((r["user_id"], r["ts"], r["event_id"], r["value"]) for r in got)
            if not got:
                break
        probe.record("cql.pages_per_drain", pages)
        return rows

    def warm_up(self) -> None:
        """One whole session, unchecked: each kind's first run pays for
        codegen and Python workers, and the rest let the JIT settle. The
        next session still uses ~12% more CPU than the one after it, so a
        run times the same session every time: ``--seconds`` shorter than
        a session (11-26 s on 4 cores) times exactly one."""
        self._session([(kind, params, None) for kind, params, _ in self.ops], None)

    def unit(self) -> None:
        self._session(self.ops, self.final_rows)


# ---------------------------------------------------------------------------
# tpch_analytics
# ---------------------------------------------------------------------------

TPCH = ("tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier", "tpch_q6_forecast_revenue",
        "tpch_q9_product_profit", "tpch_q18_large_volume_customer",
        "tpch_q21_waiting_supplier")


class TpchAnalytics(Workload):
    """The registry's TPC-H-shaped queries, a seeded order per pass."""

    name = "tpch_analytics"

    def make_inputs(self):
        rng = self.rng("order")
        return {"passes": [[TPCH[i] for i in rng.permutation(len(TPCH))] for _ in range(50)]}

    def expect(self, inputs) -> None:
        from cassandra_pmem_spark.queries import all_queries

        reg = all_queries()
        self.fns = {q: reg[q][0] for q in TPCH}
        con = _duck(self.data, ("region", "nation", "customer", "supplier", "part",
                                "orders", "lineitem"))
        self.expected = {q: con.execute(reg[q][1]).fetchall() for q in TPCH}
        con.close()
        self.passes = inputs["passes"]
        self.pass_no = 0

    def _query(self, q: str, check: bool) -> None:
        probe = self.probe

        def run():
            with probe.span("df.build"):
                df = self.fns[q](self.spark, self.data)
            return probe.collect(df)

        self.timed(q, run, (lambda rows: rows_equal(rows, self.expected[q])) if check
                   else (lambda rows: None))

    def warm_up(self) -> None:
        for q in TPCH:
            self._query(q, False)

    def unit(self) -> None:
        """Two passes, each in its own seeded order."""
        for _ in range(2):
            for q in self.passes[self.pass_no % len(self.passes)]:
                self._query(q, True)
            self.pass_no += 1


# ---------------------------------------------------------------------------
# llm_pipeline
# ---------------------------------------------------------------------------

BPE_MERGES, BPE_CAP = 6, 200
IVF_K, IVF_QUERIES = 10, 20
IVF_MIN_RECALL = 0.8


def bpe_reference(texts, n_merges: int, cap: int) -> list[tuple[int, str, int]]:
    """Pure-Python BPE trainer over the same md5-ordered sample as
    ``pipeline.bpe.train_bpe(train_cap=cap)``: count every adjacent pair,
    take the most frequent (ties by pair), replace it with a private-use
    symbol."""
    from collections import Counter

    from cassandra_pmem_spark.pipeline.bpe import PUA_BASE

    sample = sorted(texts, key=lambda t: (hashlib.md5(t.encode()).hexdigest(),
                                          t.encode()))[:cap]
    merges = []
    for r in range(1, n_merges + 1):
        counts = Counter(t[i:i + 2] for t in sample for i in range(len(t) - 1))
        if not counts:
            break
        pair, freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0].encode()))
        if freq < 2:
            break
        merges.append((r, pair, freq))
        sample = [t.replace(pair, chr(PUA_BASE + r - 1)) for t in sample]
    return merges


class LlmPipeline(Workload):
    """Dedup, clustering, scoring, BPE and IVF stages over a seeded corpus."""

    name = "llm_pipeline"
    docs = 1500
    warm_docs = 200
    dup_share = 0.02
    stages = ("exact_dedup", "near_dup", "quality_langid", "bpe_train", "ivf_topk")

    def make_inputs(self):
        import pyarrow.parquet as pq

        rng = self.rng("corpus")
        docs = pq.read_table(f"{self.data}/documents.parquet",
                             columns=["doc_id", "text"]).to_pylist()
        keep = sorted(rng.choice(len(docs), min(self.docs, len(docs)), replace=False))
        docs = [docs[i] for i in keep]
        long_docs = [d for d in docs if len(d["text"].split()) >= 30]
        n = max(3, int(len(docs) * self.dup_share))
        picks = sorted(int(i) for i in rng.choice(len(long_docs), n, replace=False))
        extra, groups, next_id = [], [], 10_000_000
        for i in picks:
            d = long_docs[i]
            group = [d["doc_id"]]
            for _ in range(int(rng.integers(1, 3))):
                words = d["text"].split()
                how = int(rng.integers(0, 3))
                if how == 0:
                    text = d["text"] + " " + str(rng.choice(VOCAB))
                elif how == 1:
                    text = " ".join(words[:-1] + [str(rng.choice(VOCAB))])
                else:
                    text = "  " + d["text"].upper() + " "
                extra.append({"doc_id": next_id, "text": text})
                group.append(next_id)
                next_id += 1
            groups.append(group)
        corpus = docs + extra
        qrng = self.rng("ivf")
        emb = pq.read_table(f"{self.data}/embeddings.parquet",
                            columns=["embedding"]).column(0).to_pylist()
        qi = qrng.choice(len(emb), IVF_QUERIES, replace=False)
        queries = [[float(x) for x in np.asarray(emb[i]) + qrng.normal(0, 0.05, EMB_DIM)]
                   for i in qi]
        return {"corpus": corpus, "groups": groups, "queries": queries,
                "ivf_seed": int(qrng.integers(0, 2**31))}

    def expect(self, inputs) -> None:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus = inputs["corpus"]
        self.groups = inputs["groups"]
        self.n_docs = len(corpus)
        self.n_distinct = len({" ".join(d["text"].lower().split()) for d in corpus})
        self.bpe = bpe_reference([d["text"] for d in corpus], BPE_MERGES, BPE_CAP)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(pa.Table.from_pylist(corpus), self.corpus_path)
        # first-of-kind costs (codegen, Python workers) do not depend on
        # size, so the warm-up pass runs on a small slice of the corpus
        self.warm_path = os.path.join(self.work, "warm.parquet")
        pq.write_table(pa.Table.from_pylist(corpus[: self.warm_docs]), self.warm_path)
        emb = pq.read_table(f"{self.data}/embeddings.parquet").to_pandas()
        mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        q = np.asarray(inputs["queries"], dtype=np.float64)
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ \
            (mat / np.linalg.norm(mat, axis=1, keepdims=True)).T
        ids = emb["vec_id"].to_numpy()
        self.truth = {qid: set(ids[np.argsort(-sims[qid], kind="stable")[:IVF_K]].tolist())
                      for qid in range(len(q))}
        self.queries = pd.DataFrame({"query_id": np.arange(len(q), dtype=np.int64),
                                     "embedding": [list(map(float, v)) for v in q]})
        self.ivf_seed = inputs["ivf_seed"]

    def _stage(self, stage: str, path: str, check: bool) -> None:
        from pyspark.sql import functions as F

        from cassandra_pmem_spark.pipeline import dedup, similarity, text
        from cassandra_pmem_spark.pipeline.bpe import train_bpe

        probe = self.probe
        corpus = self.spark.read.parquet(path)
        if stage == "exact_dedup":
            def run():
                with probe.span("df.build"):
                    df = dedup.exact_dedup(corpus).agg(F.count("*"))
                return probe.collect(df)[0][0]

            def ok(n):
                return None if n == self.n_distinct else \
                    f"exact_dedup kept {n}, expected {self.n_distinct}"
        elif stage == "near_dup":
            def run():
                with probe.span("pipeline.components"):
                    df = dedup.near_dup_components(corpus, algorithm="star")
                return probe.collect(df)

            def ok(rows):
                comp = {r[0]: r[1] for r in rows}
                merged = sum(len({comp[d] for d in g if d in comp}) == 1 for g in self.groups)
                recall = merged / len(self.groups)
                probe.record("pipeline.dup_recall", recall)
                return None if recall == 1.0 else f"dup_recall {recall:.3f} < 1"
        elif stage == "quality_langid":
            def run():
                with probe.span("df.build"):
                    df = (text.lang_id(text.quality_score(corpus))
                          .groupBy("lang_pred")
                          .agg(F.count("*").alias("n"), F.min("quality"), F.max("quality")))
                return probe.collect(df)

            def ok(rows):
                n = sum(r[1] for r in rows)
                bad = [r for r in rows if not (0.0 <= r[2] <= r[3] <= 1.0)]
                return None if n == self.n_docs and not bad else \
                    f"quality/lang_id covered {n} of {self.n_docs} docs, bad {bad[:1]}"
        elif stage == "bpe_train":
            def run():
                with probe.span("pipeline.bpe_rounds"):
                    return train_bpe(corpus, n_merges=BPE_MERGES, train_cap=BPE_CAP)

            def ok(merges):
                got = [(int(r), p, int(f)) for r, p, f in merges]
                return None if got == self.bpe else f"bpe merges {got[:2]} != {self.bpe[:2]}"
        else:
            emb = self.spark.read.parquet(f"{self.data}/embeddings.parquet")
            queries = self.spark.createDataFrame(self.queries)

            def run():
                with probe.span("df.build"):
                    df = similarity.ivf_topk(emb, queries, k=IVF_K, seed=self.ivf_seed)
                return probe.collect(df.select("query_id", "neighbor_id"))

            def ok(rows):
                hits = sum(r[1] in self.truth[r[0]] for r in rows)
                recall = hits / (IVF_K * len(self.truth))
                probe.record("pipeline.ivf_recall", recall)
                return None if recall >= IVF_MIN_RECALL else \
                    f"ivf_recall {recall:.3f} < {IVF_MIN_RECALL}"

        self.timed(stage, run, ok if check else (lambda _: None))

    def warm_up(self) -> None:
        for s in self.stages:
            self._stage(s, self.warm_path, False)

    def unit(self) -> None:
        for s in self.stages:
            self._stage(s, self.corpus_path, True)


WORKLOADS = {w.name: w for w in (CqlRead, CqlWrite, TpchAnalytics, LlmPipeline)}
