"""Bit-exact Cassandra Murmur3 partitioner token for bigint partition keys.

Reference: dht/Murmur3Partitioner.java:214-246 (token = normalize(h1) of
MurmurHash.hash3_x64_128(serialized key, seed 0)); the hash body is
utils/MurmurHash.java:174-252. Two reference quirks are preserved:

- the tail mixes *sign-extended* bytes (``(long) key.get(i) << s`` — the
  "sign bug" the reference documents at MurmurHash.java:29 and cannot fix
  without repartitioning every cluster);
- ``normalize`` maps Long.MIN_VALUE to Long.MAX_VALUE
  (Murmur3Partitioner.java:244).

A bigint partition key serializes as 8 big-endian two's-complement bytes
(db/marshal/LongType.java), so ``length == 8``: no 16-byte blocks, the
tail consumes all 8 bytes, and the whole hash unrolls to ~6 multiplies +
4 adds — small enough for pure expressions.

Backend choice (measured, not guessed): Java longs wrap on overflow;
Spark under ANSI mode (the 4.x default) raises instead, so a pure
expression form has to emulate each wrapping multiply/add through
unsigned decimal(38,0) with when/otherwise sign shuttling. That form is
*correct* (it passed value tests) but plan-hostile: each step references
its input 2–3×, and Catalyst's project-collapse / filter-pushdown
substitute the whole chain at every reference — the ~25-step hash tree
re-expands exponentially and a simple ``filter(token > 0)`` OOMs the
driver during optimization. So the Spark backend is a vectorized Arrow
kernel instead: numpy uint64 arithmetic wraps natively, one batched
matmul-style pass, no per-row Python. The DuckDB oracle twin
(``murmur3_token_subquery``) emulates the same steps in HUGEINT SQL (DuckDB
plans it linearly). Both are pinned against ``murmur3_token_py``, a
direct port of the reference algorithm, in tests/test_murmur3.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

C1 = 0x87C37B91114253D5
C2 = 0x4CF5AD432745937F
F1 = 0xFF51AFD7ED558CCD
F2 = 0xC4CEB9FE1A85EC53
TWO64 = 1 << 64
TWO63 = 1 << 63
LONG_MIN = -(1 << 63)
LONG_MAX = (1 << 63) - 1


# --- Spark backend: vectorized Arrow kernel ----------------------------------

def _rotl_np(a: "np.ndarray", n: int) -> "np.ndarray":
    return (a << np.uint64(n)) | (a >> np.uint64(64 - n))


def _fmix_np(h: "np.ndarray") -> "np.ndarray":
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(F1)
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(F2)
    return h ^ (h >> np.uint64(33))


def _murmur3_tokens_np(v: np.ndarray) -> np.ndarray:
    """hash3_x64_128 h1 (normalized) of 8-byte big-endian keys, vectorized.

    All arithmetic in numpy uint64 (wraps like Java longs); the tail's
    sign-extension quirk is the ``b | 0xFF..00`` widen for bytes > 127."""
    u = v.astype(np.uint64)
    k1 = np.zeros_like(u)
    for j in range(8):
        b = (u >> np.uint64(56 - 8 * j)) & np.uint64(0xFF)
        sx = np.where(b > np.uint64(127), b | np.uint64(0xFFFFFFFFFFFFFF00), b)
        k1 ^= sx << np.uint64(8 * j)
    k1 = k1 * np.uint64(C1)
    k1 = _rotl_np(k1, 31)
    k1 = k1 * np.uint64(C2)
    h1 = (k1 ^ np.uint64(8)) + np.uint64(8)          # h1 = (0^k1)^len; h1 += h2(=len)
    h2 = np.uint64(8) + h1                            # h2 += h1
    h1 = _fmix_np(h1) + _fmix_np(h2)                  # h1 += h2 after fmix
    s = h1.astype(np.int64)
    return np.where(s == np.int64(LONG_MIN), np.int64(LONG_MAX), s)


def _murmur3_token_fn(keys: pd.Series) -> pd.Series:
    with np.errstate(over="ignore"):
        out = _murmur3_tokens_np(keys.to_numpy(dtype=np.int64))
    return pd.Series(out)


# LongType() instance, not the "long" DDL string: the string form is parsed
# through the active SparkContext, which would make this module unimportable
# before a session exists
_murmur3_token_udf = pandas_udf(_murmur3_token_fn, LongType())


def murmur3_token_column(col):
    """Column expression form: Cassandra Murmur3 token of a bigint column
    (non-null, as partition keys are). Usable in filters and projections.

    There is no JVM-native form, by measurement. The hash can be written
    as one wrapping long-arithmetic Column expression (ANSI off): that
    removes the Python boundary, but Catalyst then walks a ~2k-node
    tree at every reference. On the shape CQL token ranges compile to,
    ``filter(token(k) > x)`` over ``spark.range(n)`` in the engine
    session at local[4], that form took 1.64 / 9.47 / 80.5 s at
    0.1M / 1M / 10M rows against 0.44 / 0.57 / 1.64 s for this kernel
    (3.8× / 17× / 49× slower). It won only when projected and summed
    above ~1M rows (0.83 vs 1.91 s at 10M), a shape no caller has."""
    c = F.col(col) if isinstance(col, str) else col
    return _murmur3_token_udf(c.cast("long"))


def with_murmur3_token(df: DataFrame, key_col: str, name: str = "token") -> DataFrame:
    """Append the Cassandra Murmur3 token of a bigint partition key."""
    return df.withColumn(name, murmur3_token_column(key_col))


_murmur3_token_udf_once = pandas_udf(_murmur3_token_fn, LongType()).asNondeterministic()


def murmur3_token_column_once(col):
    """murmur3_token_column, pinned to ONE evaluation per row. The hash IS
    deterministic — the non-determinism marker only stops Catalyst's
    filter pushdown / project collapse from substituting the token
    expression into every downstream reference.

    Its call sites — the sketch double-hashing lanes (bloom/count-min/
    HLL) and the packing hash buckets — derive several columns from the
    token and reference them many times inside filter conditions.
    Filter pushdown has no cheapness guard: with a deterministic UDF it
    substitutes the token call into each referencing condition and
    evaluates the UDF once per reference. The pinned UDF is the
    collapse barrier that keeps those plans linear: one ArrowEvalPython
    per lane, everything above it JVM."""
    c = F.col(col) if isinstance(col, str) else col
    return _murmur3_token_udf_once(c.cast("long"))


# --- DuckDB SQL backend (oracle twin) ----------------------------------------
#
# All arithmetic runs unsigned mod 2^64 in HUGEINT (xor() accepts HUGEINT).
# NOTE: DuckDB's binder substitutes lateral column aliases the way Catalyst
# collapses projects — computing the whole hash in ONE select re-expands
# the step chain exponentially (measured ~54 s to plan a single token).
# murmur3_token_subquery therefore nests one subquery per step, so every
# step reference is a real column and the plan stays linear.

def _m3_items(k1_0: str, alias: str) -> list[tuple[str, str]]:
    """(name, expr) per step; each expr references only *previous step
    names* (plain columns once nested), never re-expanding the chain."""

    def mul(e: str, c: int) -> str:
        hi, lo = c >> 32, c & 0xFFFFFFFF
        p = f"(({e} * {lo}::HUGEINT) % {TWO64}::HUGEINT)"
        if hi:
            p = f"({p} + (({e} * {hi}::HUGEINT) % {1 << 32}::HUGEINT) * {1 << 32}::HUGEINT)"
        return f"({p} % {TWO64}::HUGEINT)"

    def rotl(e: str, n: int) -> str:
        return (
            f"((({e} * {1 << n}::HUGEINT) % {TWO64}::HUGEINT) + ({e} // {1 << (64 - n)}::HUGEINT))"
        )

    def shr33_xor(e: str) -> str:
        return f"xor({e}, {e} // {1 << 33}::HUGEINT)"

    return [
        ("m3_a", k1_0),
        ("m3_b", mul("m3_a", C1)),
        ("m3_c", f"({rotl('m3_b', 31)} % {TWO64}::HUGEINT)"),
        ("m3_d", mul("m3_c", C2)),
        ("m3_h1a", "xor(m3_d, 8::HUGEINT)"),                      # h1 = k1 ^ len
        ("m3_h1b", f"((m3_h1a + 8::HUGEINT) % {TWO64}::HUGEINT)"),  # h1 += h2(=8)
        ("m3_h2a", f"((8::HUGEINT + m3_h1b) % {TWO64}::HUGEINT)"),  # h2 += h1
        # fmix(h1)
        ("m3_h1c", shr33_xor("m3_h1b")),
        ("m3_h1d", mul("m3_h1c", F1)),
        ("m3_h1e", shr33_xor("m3_h1d")),
        ("m3_h1f", mul("m3_h1e", F2)),
        ("m3_h1g", shr33_xor("m3_h1f")),
        # fmix(h2)
        ("m3_h2b", shr33_xor("m3_h2a")),
        ("m3_h2c", mul("m3_h2b", F1)),
        ("m3_h2d", shr33_xor("m3_h2c")),
        ("m3_h2e", mul("m3_h2d", F2)),
        ("m3_h2f", shr33_xor("m3_h2e")),
        ("m3_u", f"((m3_h1g + m3_h2f) % {TWO64}::HUGEINT)"),
        (
            "m3_s",
            f"(CASE WHEN m3_u >= {TWO63}::HUGEINT THEN m3_u - {TWO64}::HUGEINT "
            f"ELSE m3_u END)::BIGINT",
        ),
        (alias, f"(CASE WHEN m3_s = {LONG_MIN} THEN {LONG_MAX} ELSE m3_s END)"),
    ]


def murmur3_token_subquery(
    source_sql: str, key_expr: str, carry: "list[str]", alias: str = "token"
) -> str:
    """A DuckDB subquery computing the token as column ``alias`` alongside
    the ``carry`` columns, one nested SELECT per hash step (linear plan —
    see the section note on why one flat select is not usable)."""

    def u(e: str) -> str:
        return (
            f"(CASE WHEN ({e}) >= 0 THEN ({e})::HUGEINT "
            f"ELSE ({e})::HUGEINT + {TWO64}::HUGEINT END)"
        )

    byte_terms = []
    for j in range(8):
        x = f"(({u(key_expr)} // {1 << (56 - 8 * j)}::HUGEINT) % 256::HUGEINT)"
        sx = f"(CASE WHEN {x} > 127 THEN {x} + {TWO64 - 256}::HUGEINT ELSE {x} END)"
        byte_terms.append(f"(({sx} * {1 << (8 * j)}::HUGEINT) % {TWO64}::HUGEINT)")
    k1_0 = byte_terms[0]
    for t in byte_terms[1:]:
        k1_0 = f"xor({k1_0}, {t})"

    sql = f"SELECT * FROM {source_sql}"
    for name, expr in _m3_items(k1_0, alias):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    cols = ", ".join(carry)
    # MATERIALIZED: an outer predicate on the token (WHERE token > x)
    # otherwise pushes down through every nested select, re-expanding
    # the step chain exponentially — the same binder blowup the nesting
    # exists to avoid (cql_token_scan's oracle ran minutes instead of
    # ~0.1 s). Materializing the ≤ table-sized token frame stops the
    # pushdown at this boundary; rows are unchanged.
    return (
        f"(WITH {alias}__m3q AS MATERIALIZED "
        f"(SELECT {cols}, {alias} FROM ({sql})) "
        f"SELECT * FROM {alias}__m3q)"
    )


# --- general-length kernel: arbitrary serialized partition keys --------------
#
# Reference: utils/MurmurHash.java:174-252 (hash3_x64_128, seed 0) over the
# partition key's serialized bytes — the marshal codecs' output
# (cassandra_pmem_spark/marshal.py): a single-column key hashes its type's
# raw serialization; a multi-column key the CompositeType layout.
# Body blocks assemble bytes little-endian *unsigned* (getblock, :160-172);
# only the tail sign-extends (the documented quirk, :29).

_SIGN_EXT = 0xFFFFFFFFFFFFFF00


def _murmur3_bytes_np(B: "np.ndarray", lens: "np.ndarray") -> "np.ndarray":
    """Vectorized hash3_x64_128 h1 (normalized) over variable-length keys.

    B: (n, Lmax) uint8, zero-padded per row; lens: (n,) actual lengths.
    Rows iterate together over max(nblocks) 16-byte blocks with an active
    mask — key serializations are tens of bytes, so the loop count is tiny.
    """
    n = len(lens)
    if B.ndim != 2 or B.shape[1] == 0:
        B = np.zeros((n, 1), dtype=np.uint8)
    Bu = B.astype(np.uint64)
    h1 = np.zeros(n, dtype=np.uint64)
    h2 = np.zeros(n, dtype=np.uint64)
    nblocks = lens >> 4
    for i in range(int(nblocks.max()) if n else 0):
        active = nblocks > i
        o = i * 16
        k1 = np.zeros(n, dtype=np.uint64)
        k2 = np.zeros(n, dtype=np.uint64)
        for j in range(8):  # unsigned little-endian block assembly
            k1 |= Bu[:, o + j] << np.uint64(8 * j)
            k2 |= Bu[:, o + 8 + j] << np.uint64(8 * j)
        k1 = _rotl_np(k1 * np.uint64(C1), 31) * np.uint64(C2)
        nh1 = h1 ^ k1
        nh1 = _rotl_np(nh1, 27) + h2
        nh1 = nh1 * np.uint64(5) + np.uint64(0x52DCE729)
        k2 = _rotl_np(k2 * np.uint64(C2), 33) * np.uint64(C1)
        nh2 = h2 ^ k2
        nh2 = _rotl_np(nh2, 31) + nh1
        nh2 = nh2 * np.uint64(5) + np.uint64(0x38495AB5)
        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)
    # tail: bytes past the last block, sign-extended (the reference quirk)
    t = (nblocks << np.int64(4)).astype(np.int64)
    rem = lens & 15
    rows = np.arange(n)
    lastcol = B.shape[1] - 1
    k1 = np.zeros(n, dtype=np.uint64)
    k2 = np.zeros(n, dtype=np.uint64)
    for i in range(8, 15):
        m = rem > i
        b = Bu[rows, np.minimum(t + i, lastcol)]
        sx = np.where(b > np.uint64(127), b | np.uint64(_SIGN_EXT), b)
        k2 = np.where(m, k2 ^ (sx << np.uint64(8 * (i - 8))), k2)
    k2m = _rotl_np(k2 * np.uint64(C2), 33) * np.uint64(C1)
    h2 = np.where(rem > 8, h2 ^ k2m, h2)
    for i in range(8):
        m = rem > i
        b = Bu[rows, np.minimum(t + i, lastcol)]
        sx = np.where(b > np.uint64(127), b | np.uint64(_SIGN_EXT), b)
        k1 = np.where(m, k1 ^ (sx << np.uint64(8 * i)), k1)
    k1m = _rotl_np(k1 * np.uint64(C1), 31) * np.uint64(C2)
    h1 = np.where(rem > 0, h1 ^ k1m, h1)
    L = lens.astype(np.uint64)
    h1 = h1 ^ L
    h2 = h2 ^ L
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix_np(h1)
    h2 = _fmix_np(h2)
    h1 = h1 + h2
    s = h1.astype(np.int64)
    return np.where(s == np.int64(LONG_MIN), np.int64(LONG_MAX), s)


def murmur3_token_key_columns(cols, codecs):
    """Column expression: bit-exact Cassandra token over one or more
    partition-key columns, each packed by its marshal codec
    (marshal.pack_key: raw bytes, or the CompositeType layout) per row
    (Arrow-batched); hashing vectorized (_murmur3_bytes_np)."""
    from cassandra_pmem_spark.marshal import pack_key

    cs = list(codecs)

    def fn(*series: pd.Series) -> pd.Series:
        n = len(series[0])
        # struct (tuple / user type) columns arrive as a pandas DataFrame
        # per Arrow conversion — flatten each to row tuples so zip sees
        # one value
        cols = [
            list(s.itertuples(index=False, name=None))
            if isinstance(s, pd.DataFrame)
            else s
            for s in series
        ]
        keys = [pack_key(cs, row) for row in zip(*cols)]
        lens = np.array([len(k) for k in keys], dtype=np.int64)
        lmax = max(1, int(lens.max()) if n else 1)
        B = np.zeros((n, lmax), dtype=np.uint8)
        for r, k in enumerate(keys):
            if k:
                B[r, : len(k)] = np.frombuffer(k, dtype=np.uint8)
        with np.errstate(over="ignore"):
            out = _murmur3_bytes_np(B, lens)
        return pd.Series(out)

    udf = pandas_udf(fn, LongType())
    return udf(*[F.col(c) if isinstance(c, str) else c for c in cols])


# --- DuckDB oracle twins for text / composite keys ---------------------------
#
# Variable-length SQL hashing is generated per key LAYOUT:
# - keys whose serialization never reaches 16 bytes (e.g. short text pks)
#   are tail-only: every byte term is a CASE on the data-dependent length;
# - fixed-width composite keys (e.g. two bigints -> always 22 bytes) get the
#   constant-length body-block + tail step chain.
# Both reuse the one-subquery-per-step nesting (see section note above).


def _m3_general_items(
    byte_exprs: list[str], len_expr: str, fixed_len: int | None, alias: str
) -> list[tuple[str, str]]:
    """Step list for one key layout. byte_exprs[i] must yield the i-th
    serialized byte (HUGEINT 0..255) — only evaluated when i < length."""

    def mul(e: str, c: int) -> str:
        hi, lo = c >> 32, c & 0xFFFFFFFF
        p = f"(({e} * {lo}::HUGEINT) % {TWO64}::HUGEINT)"
        if hi:
            p = f"({p} + (({e} * {hi}::HUGEINT) % {1 << 32}::HUGEINT) * {1 << 32}::HUGEINT)"
        return f"({p} % {TWO64}::HUGEINT)"

    def rotl(e: str, n: int) -> str:
        return (
            f"((({e} * {1 << n}::HUGEINT) % {TWO64}::HUGEINT) + ({e} // {1 << (64 - n)}::HUGEINT))"
            f" % {TWO64}::HUGEINT"
        )

    def shr33_xor(e: str) -> str:
        return f"xor({e}, {e} // {1 << 33}::HUGEINT)"

    def sx(e: str) -> str:  # tail sign extension
        return f"(CASE WHEN {e} > 127 THEN {e} + {TWO64 - 256}::HUGEINT ELSE {e} END)"

    def gated(i: int, e: str) -> str:  # byte i present only when i < length
        if fixed_len is not None:
            return e if i < fixed_len else "0::HUGEINT"
        return f"(CASE WHEN {i} < {len_expr} THEN {e} ELSE 0::HUGEINT END)"

    maxlen = fixed_len if fixed_len is not None else len(byte_exprs)
    nblocks = maxlen >> 4
    items: list[tuple[str, str]] = [("m3_len", f"({len_expr})::HUGEINT")]
    items += [("m3_h1_0", "0::HUGEINT"), ("m3_h2_0", "0::HUGEINT")]
    for blk in range(nblocks):
        o = blk * 16
        k1_terms = [
            f"(({byte_exprs[o + j]}) * {1 << (8 * j)}::HUGEINT)" for j in range(8)
        ]
        k2_terms = [
            f"(({byte_exprs[o + 8 + j]}) * {1 << (8 * j)}::HUGEINT)" for j in range(8)
        ]
        k1e = k1_terms[0]
        for tm in k1_terms[1:]:
            k1e = f"xor({k1e}, {tm})"
        k2e = k2_terms[0]
        for tm in k2_terms[1:]:
            k2e = f"xor({k2e}, {tm})"
        p = f"b{blk}"
        items += [
            (f"{p}_k1a", k1e),
            (f"{p}_k1b", mul(f"{p}_k1a", C1)),
            (f"{p}_k1c", f"({rotl(f'{p}_k1b', 31)})"),
            (f"{p}_k1d", mul(f"{p}_k1c", C2)),
            (f"{p}_h1a", f"xor(m3_h1_{blk}, {p}_k1d)"),
            (f"{p}_h1b", f"({rotl(f'{p}_h1a', 27)})"),
            (f"{p}_h1c", f"(({p}_h1b + m3_h2_{blk}) % {TWO64}::HUGEINT)"),
            (f"{p}_h1d", f"((({p}_h1c * 5::HUGEINT) % {TWO64}::HUGEINT + {0x52DCE729}::HUGEINT) % {TWO64}::HUGEINT)"),
            (f"{p}_k2a", k2e),
            (f"{p}_k2b", mul(f"{p}_k2a", C2)),
            (f"{p}_k2c", f"({rotl(f'{p}_k2b', 33)})"),
            (f"{p}_k2d", mul(f"{p}_k2c", C1)),
            (f"{p}_h2a", f"xor(m3_h2_{blk}, {p}_k2d)"),
            (f"{p}_h2b", f"({rotl(f'{p}_h2a', 31)})"),
            (f"{p}_h2c", f"(({p}_h2b + {p}_h1d) % {TWO64}::HUGEINT)"),
            (f"{p}_h2d", f"((({p}_h2c * 5::HUGEINT) % {TWO64}::HUGEINT + {0x38495AB5}::HUGEINT) % {TWO64}::HUGEINT)"),
            (f"m3_h1_{blk + 1}", f"{p}_h1d"),
            (f"m3_h2_{blk + 1}", f"{p}_h2d"),
        ]
    hb1, hb2 = f"m3_h1_{nblocks}", f"m3_h2_{nblocks}"
    tbase = nblocks * 16
    # tail k2 (bytes tbase+8 .. tbase+14), then tail k1 (tbase .. tbase+7)
    k2_terms = []
    for i in range(8, 15):
        if tbase + i >= maxlen:
            break
        k2_terms.append(gated(tbase + i, f"({sx(byte_exprs[tbase + i])} * {1 << (8 * (i - 8))}::HUGEINT) % {TWO64}::HUGEINT"))
    k1_terms = []
    for i in range(8):
        if tbase + i >= maxlen:
            break
        k1_terms.append(gated(tbase + i, f"({sx(byte_exprs[tbase + i])} * {1 << (8 * i)}::HUGEINT) % {TWO64}::HUGEINT"))

    def xor_fold(terms: list[str]) -> str:
        if not terms:
            return "0::HUGEINT"
        e = terms[0]
        for tm in terms[1:]:
            e = f"xor({e}, {tm})"
        return e

    rem = f"(m3_len % 16::HUGEINT)"
    items += [
        ("t_k2a", xor_fold(k2_terms)),
        ("t_k2b", mul("t_k2a", C2)),
        ("t_k2c", f"({rotl('t_k2b', 33)})"),
        ("t_k2d", mul("t_k2c", C1)),
        ("t_h2", f"(CASE WHEN {rem} > 8 THEN xor({hb2}, t_k2d) ELSE {hb2} END)"),
        ("t_k1a", xor_fold(k1_terms)),
        ("t_k1b", mul("t_k1a", C1)),
        ("t_k1c", f"({rotl('t_k1b', 31)})"),
        ("t_k1d", mul("t_k1c", C2)),
        ("t_h1", f"(CASE WHEN {rem} > 0 THEN xor({hb1}, t_k1d) ELSE {hb1} END)"),
        ("f_h1a", "xor(t_h1, m3_len)"),
        ("f_h2a", "xor(t_h2, m3_len)"),
        ("f_h1b", f"((f_h1a + f_h2a) % {TWO64}::HUGEINT)"),
        ("f_h2b", f"((f_h2a + f_h1b) % {TWO64}::HUGEINT)"),
        ("f_h1c", shr33_xor("f_h1b")),
        ("f_h1d", mul("f_h1c", F1)),
        ("f_h1e", shr33_xor("f_h1d")),
        ("f_h1f", mul("f_h1e", F2)),
        ("f_h1g", shr33_xor("f_h1f")),
        ("f_h2c", shr33_xor("f_h2b")),
        ("f_h2d", mul("f_h2c", F1)),
        ("f_h2e", shr33_xor("f_h2d")),
        ("f_h2f", mul("f_h2e", F2)),
        ("f_h2g", shr33_xor("f_h2f")),
        ("f_u", f"((f_h1g + f_h2g) % {TWO64}::HUGEINT)"),
        (
            "f_s",
            f"(CASE WHEN f_u >= {TWO63}::HUGEINT THEN f_u - {TWO64}::HUGEINT "
            f"ELSE f_u END)::BIGINT",
        ),
        (alias, f"(CASE WHEN f_s = {LONG_MIN} THEN {LONG_MAX} ELSE f_s END)"),
    ]
    return items


def murmur3_token_general_subquery(
    source_sql: str,
    byte_exprs: list[str],
    len_expr: str,
    carry: "list[str]",
    alias: str = "token",
    fixed_len: int | None = None,
) -> str:
    """DuckDB subquery computing the general-length token as ``alias``.

    byte_exprs[i]: HUGEINT expression for serialized byte i (see the layout
    helpers below); len_expr: the serialized length. For fixed-width layouts
    pass fixed_len to drop the per-byte length gates.

    Emitted as a FLAT ``WITH`` chain, one CTE per hash step, rather than
    nested subqueries: the binder behavior is the same (every step
    reference is a real column), but parser recursion depth stays O(1) —
    four token layouts chained as nested SELECTs (~200 levels) exhaust
    DuckDB's parser stack. CTE names are prefixed with the alias so
    chained calls (each sourcing the previous) cannot collide."""
    steps = _m3_general_items(byte_exprs, len_expr, fixed_len, alias)
    ctes = [f"{alias}__s0 AS (SELECT * FROM {source_sql})"]
    prev = f"{alias}__s0"
    for i, (name, expr) in enumerate(steps, start=1):
        cur = f"{alias}__s{i}"
        ctes.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    cols = ", ".join(carry)
    # MATERIALIZED final CTE for the same reason as murmur3_token_subquery:
    # outer token predicates must not re-expand the step chain via pushdown.
    ctes.append(
        f"{alias}__out AS MATERIALIZED (SELECT {cols}, {alias} FROM {prev})"
    )
    return f"(WITH {', '.join(ctes)} SELECT * FROM {alias}__out)"


def text_key_byte_exprs(text_col: str, max_len: int) -> tuple[list[str], str]:
    """Byte/length expressions for a single-column utf8 text key: byte i is
    hex-sliced out of encode(text). Only valid when every value's utf8
    length <= max_len (the caller picks a bound the data satisfies; the
    generated SQL is per-layout, not universal)."""
    h = f"hex(encode({text_col}))"
    # hex strings cast through BIGINT (HUGEINT has no hex parse); positions
    # past the value's end coalesce to '00' so the expression is total even
    # when the length gate would discard it (vectorized CASE may evaluate
    # both branches eagerly)
    exprs = [
        f"('0x' || coalesce(nullif(substr({h}, {2 * i + 1}, 2), ''), '00'))"
        f"::BIGINT::HUGEINT"
        for i in range(max_len)
    ]
    return exprs, f"octet_length(encode({text_col}))"


def bigint_pair_composite_byte_exprs(a_col: str, b_col: str) -> tuple[list[str], int]:
    """Byte expressions for a composite (bigint, bigint) partition key in the
    CompositeType layout: [00 08 a0..a7 00] [00 08 b0..b7 00] — fixed 22
    bytes."""

    def u(col: str) -> str:
        return (
            f"(CASE WHEN {col} >= 0 THEN {col}::HUGEINT "
            f"ELSE {col}::HUGEINT + {TWO64}::HUGEINT END)"
        )

    def be_byte(col: str, j: int) -> str:
        return f"(({u(col)} // {1 << (56 - 8 * j)}::HUGEINT) % 256::HUGEINT)"

    exprs: list[str] = []
    for col in (a_col, b_col):
        exprs.append("0::HUGEINT")  # length prefix hi
        exprs.append("8::HUGEINT")  # length prefix lo
        exprs += [be_byte(col, j) for j in range(8)]
        exprs.append("0::HUGEINT")  # end-of-component
    return exprs, 22


def uuid_key_byte_exprs(col: str) -> tuple[list[str], int]:
    """Byte expressions for a uuid/timeuuid partition key held as canonical
    36-char text: the UUIDType.java wire form is the 16 raw bytes msb||lsb
    big-endian, i.e. the dashless hex pairs in order. Fixed 16 bytes —
    exactly one body block, empty tail (the only layout that exercises the
    SQL twin's block path with zero tail bytes)."""
    h = f"replace({col}, '-', '')"
    exprs = [
        f"('0x' || substr({h}, {2 * i + 1}, 2))::BIGINT::HUGEINT" for i in range(16)
    ]
    return exprs, 16


def fixed_layout_byte_exprs(parts: "list[tuple]") -> tuple[list[str], int]:
    """Byte expressions for a FIXED serialized layout assembled from literal
    bytes and big-endian integer fields — the shape frozen-collection/UDT
    partition keys take when the collection's arity and element widths are
    constant (e.g. frozen<list<bigint>> of 2 elements = 28 bytes:
    [int32 count][int32 len][8B elem][int32 len][8B elem] —
    CollectionSerializer.pack / TupleType.buildValue layouts).

    parts: ('const', byte_value) — one literal byte — or
           ('be', sql_int_expr, width) — the width big-endian
           two's-complement bytes of an integer SQL expression."""
    exprs: list[str] = []
    for p in parts:
        if p[0] == "const":
            exprs.append(f"{int(p[1])}::HUGEINT")
        else:
            _, col, w = p
            lim = 1 << (8 * w)
            u = (
                f"(CASE WHEN ({col}) >= 0 THEN ({col})::HUGEINT "
                f"ELSE ({col})::HUGEINT + {lim}::HUGEINT END)"
            )
            exprs += [
                f"(({u} // {1 << (8 * (w - 1 - j))}::HUGEINT) % 256::HUGEINT)"
                for j in range(w)
            ]
    return exprs, len(exprs)


def inet4_key_byte_exprs(col: str) -> tuple[list[str], int]:
    """Byte expressions for an IPv4 inet partition key held as dotted-quad
    text (InetAddressType.java: the 4 address bytes). Fixed 4 bytes —
    tail-only."""
    exprs = [f"split_part({col}, '.', {i + 1})::BIGINT::HUGEINT" for i in range(4)]
    return exprs, 4


# --- pure-Python ground truth (tests only) -----------------------------------

def murmur3_token_py(v: int) -> int:
    """Direct port of the reference algorithm for an 8-byte bigint key —
    the unit tests' ground truth for both engine backends."""
    mask = TWO64 - 1

    def sx(b: int) -> int:  # unsigned byte -> sign-extended 64-bit pattern
        return b | (mask ^ 0xFF) if b > 127 else b

    vb = (v & mask).to_bytes(8, "big")
    k1 = 0
    for j in range(8):
        k1 ^= (sx(vb[j]) << (8 * j)) & mask

    def mul(a: int, c: int) -> int:
        return (a * c) & mask

    def rotl(a: int, n: int) -> int:
        return ((a << n) | (a >> (64 - n))) & mask

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = mul(h, F1)
        h ^= h >> 33
        h = mul(h, F2)
        return h ^ (h >> 33)

    k1 = mul(k1, C1)
    k1 = rotl(k1, 31)
    k1 = mul(k1, C2)
    h1 = k1 ^ 8
    h2 = 8
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    signed = h1 - TWO64 if h1 >= TWO63 else h1
    return LONG_MAX if signed == LONG_MIN else signed


def murmur3_token_bytes_py(data: bytes) -> int:
    """Direct port of the general-length reference algorithm
    (utils/MurmurHash.java:174-252, seed 0) — ground truth for the
    vectorized kernel and the generated SQL twins."""
    mask = TWO64 - 1
    length = len(data)
    nblocks = length >> 4
    h1 = h2 = 0

    def mul(a: int, c: int) -> int:
        return (a * c) & mask

    def rotl(a: int, n: int) -> int:
        return ((a << n) | (a >> (64 - n))) & mask

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = mul(h, F1)
        h ^= h >> 33
        h = mul(h, F2)
        return h ^ (h >> 33)

    def getblock(i: int) -> int:  # unsigned little-endian (MurmurHash:160)
        o = i << 3
        v = 0
        for j in range(8):
            v |= data[o + j] << (8 * j)
        return v

    for i in range(nblocks):
        k1, k2 = getblock(i * 2), getblock(i * 2 + 1)
        k1 = mul(rotl(mul(k1, C1), 31), C2)
        h1 ^= k1
        h1 = (rotl(h1, 27) + h2) & mask
        h1 = (mul(h1, 5) + 0x52DCE729) & mask
        k2 = mul(rotl(mul(k2, C2), 33), C1)
        h2 ^= k2
        h2 = (rotl(h2, 31) + h1) & mask
        h2 = (mul(h2, 5) + 0x38495AB5) & mask

    def sx(b: int) -> int:  # tail sign extension (the reference quirk)
        return b | (mask ^ 0xFF) if b > 127 else b

    t = nblocks << 4
    rem = length & 15
    k1 = k2 = 0
    for i in range(8, rem):
        k2 ^= (sx(data[t + i]) << (8 * (i - 8))) & mask
    if rem > 8:
        h2 ^= mul(rotl(mul(k2, C2), 33), C1)
    for i in range(min(rem, 8)):
        k1 ^= (sx(data[t + i]) << (8 * i)) & mask
    if rem > 0:
        h1 ^= mul(rotl(mul(k1, C1), 31), C2)

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    signed = h1 - TWO64 if h1 >= TWO63 else h1
    return LONG_MAX if signed == LONG_MIN else signed


def murmur3_x64_128_py(data: bytes) -> tuple[int, int]:
    """The full 128-bit hash (utils/MurmurHash.java:174-252 hash3_x64_128,
    seed 0) as SIGNED (h1, h2) — the pair BloomFilter key hashing
    consumes (BloomFilter.java:69-75 getHashBuckets). Same math as
    murmur3_token_bytes_py (which returns only the partitioner's h1,
    MIN-normalized); kept separate so the token ground-truth stays
    byte-for-byte pinned."""
    mask = TWO64 - 1
    length = len(data)
    nblocks = length >> 4
    h1 = h2 = 0

    def mul(a: int, c: int) -> int:
        return (a * c) & mask

    def rotl(a: int, n: int) -> int:
        return ((a << n) | (a >> (64 - n))) & mask

    def fmix(h: int) -> int:
        h ^= h >> 33
        h = mul(h, F1)
        h ^= h >> 33
        h = mul(h, F2)
        return h ^ (h >> 33)

    def getblock(i: int) -> int:
        o = i << 3
        v = 0
        for j in range(8):
            v |= data[o + j] << (8 * j)
        return v

    for i in range(nblocks):
        k1, k2 = getblock(i * 2), getblock(i * 2 + 1)
        k1 = mul(rotl(mul(k1, C1), 31), C2)
        h1 ^= k1
        h1 = (rotl(h1, 27) + h2) & mask
        h1 = (mul(h1, 5) + 0x52DCE729) & mask
        k2 = mul(rotl(mul(k2, C2), 33), C1)
        h2 ^= k2
        h2 = (rotl(h2, 31) + h1) & mask
        h2 = (mul(h2, 5) + 0x38495AB5) & mask

    def sx(b: int) -> int:
        return b | (mask ^ 0xFF) if b > 127 else b

    t = nblocks << 4
    rem = length & 15
    k1 = k2 = 0
    for i in range(8, rem):
        k2 ^= (sx(data[t + i]) << (8 * (i - 8))) & mask
    if rem > 8:
        h2 ^= mul(rotl(mul(k2, C2), 33), C1)
    for i in range(min(rem, 8)):
        k1 ^= (sx(data[t + i]) << (8 * i)) & mask
    if rem > 0:
        h1 ^= mul(rotl(mul(k1, C1), 31), C2)

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask

    def signed(v: int) -> int:
        return v - TWO64 if v >= TWO63 else v

    return signed(h1), signed(h2)
