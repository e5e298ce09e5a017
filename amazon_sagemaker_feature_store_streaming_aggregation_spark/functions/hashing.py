"""Deterministic, cross-engine-reproducible hash primitives.

The dedup/fingerprint operators need a 64-bit hash that an external
oracle (DuckDB) can reproduce bit-for-bit. ``xxhash64``/``hash`` differ
across engines, so the shared primitive is *md5 truncated to 60 bits*:

    Spark :  conv(substring(md5(s), 1, 15), 16, 10) :: bigint
    DuckDB:  CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)

15 hex chars = 60 bits → always non-negative, fits a signed int64 in
both engines. md5 is a JVM-side codegen'd builtin — this is NOT a
Python UDF. (The reference itself derives IDs the same way:
``md5(concat(...))`` in ``0_prepare_transactions_dataset.ipynb:522-525``.)

Derived per-permutation hashes for MinHash use the standard universal
family ``h_i(x) = (a_i * x + b_i) mod p`` over the base 60-bit hash,
with p = 2^61 - 1 (Mersenne prime) — this IS what
``operators/dedup.py::minhash_signatures`` uses, via
:func:`minhash_perm_constants`/:func:`minhash_perm_sql`. ``a_i * x``
would overflow int64, so both engines compute it in overflow-free
integer space via two 30-bit halves (see ``minhash_perm_sql``). The
md5-per-seed alternative ``h_i(x) = h64(concat(seed_i, s))`` was
REJECTED: one MessageDigest set-up per (seed, shingle) costs ~100 µs
in interpreted eval — 75 s at sf0.1 vs ~10 integer ops here.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.column import Column


def h64(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (oracle: DuckDB
    ``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``).

    Collision honesty: 60 bits means ~N²/2⁶¹ expected collisions —
    negligible through ~10⁸ documents, ~0.4 expected at 10⁹. The
    exact-dedup entry points take ``hash_bits=128`` (:func:`h128`)
    for the ≥10⁹-doc regime."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h128(col: Column | str) -> Column:
    """Full 128-bit content key: the 32-char md5 hex digest, kept as a
    STRING (oracle: DuckDB ``md5(x)`` verbatim). Chosen over packing
    two bigints because the whole digest survives untruncated (2¹²⁸
    key space — ~10⁻²⁰ expected collisions even at 10¹² documents)
    and the cross-engine oracle is one builtin. The trade is key
    width: a 32-byte shuffle/index key instead of 8 — still far below
    the text payloads it stands in for, which is why this is the
    opt-in for the ≥10⁹-doc regime rather than the default."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def content_key(col: Column | str, hash_bits: int = 64) -> Column:
    """The exact-dedup content key at the requested width: 64 →
    :func:`h64` (bigint), 128 → :func:`h128` (md5 hex string). Any
    other width is refused loudly — the width is baked into persisted
    hash indexes, so a typo must not silently build a new key space."""
    if hash_bits == 64:
        return h64(col)
    if hash_bits == 128:
        return h128(col)
    raise ValueError(f"hash_bits must be 64 or 128, got {hash_bits}")


MERSENNE_61 = (1 << 61) - 1
HALF_BITS = 30
HALF_MOD = 1 << HALF_BITS


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the integer MinHash
    permutation family ``perm_i(x) = (a_i * x + b_i) mod (2^61 - 1)``,
    derived host-side from md5 so both engines embed identical
    literals. ``a`` is odd and < 2^30.
    """
    import hashlib

    consts = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-perm-{i}".encode()).hexdigest()
        a = (int(d[0:8], 16) % HALF_MOD) | 1
        b = int(d[8:24], 16) % MERSENNE_61
        consts.append((a, b))
    return consts


def minhash_perm_sql(var: str, a: int, b: int) -> str:
    """``(a * var + b) mod (2^61 - 1)`` over a 60-bit bigint ``var``,
    decomposed so every intermediate fits int64 — exact and
    overflow-free in BOTH Spark (no Java wrap-around) and DuckDB
    (which errors on BIGINT overflow).

    With var = hi*2^30 + lo (30-bit halves):
      s  = a*hi                      (< 2^60)
      t  = a*hi*2^30 mod M           via 2^61 ≡ 1 (mod M):
           (s div 2^31) + (s mod 2^31)*2^30      (< 2^61 + 2^30)
      out = (t + a*lo + b) mod M     (sum < 2^63)

    The true modular multiply is what makes the family approximately
    min-wise independent; a wrap-free affine map is monotone in the
    high bits, every document elects its lowest-high-bits shingle, and
    LSH candidates explode (measured 407 -> 144k pairs at sf0.1).

    ~10 integer ops per (seed, shingle) instead of an md5 — the
    md5-per-seed variant costs ~100 us per interpreted call
    (MessageDigest set-up dominates), 75 s for sf0.1's 24 M calls.
    """
    s = f"({a} * ({var} div {HALF_MOD}))"
    t = f"(({s} div {1 << 31}) + ({s} % {1 << 31}) * {HALF_MOD})"
    return f"(({t} + {a} * ({var} % {HALF_MOD}) + {b}) % {MERSENNE_61})"


def shingle_expr(text_col: str, k: int = 5) -> str:
    """SQL expression string for the character k-gram shingle hash set
    (array<bigint>) — THE single source of shingle semantics; both
    :func:`shingle_hashes` and operators/dedup.py derive from it so
    the LSH discovery and pair-verification stages can never drift.
    Texts shorter than ``k`` yield one shingle (the whole text)."""
    return f"""
      transform(
        array_distinct(
          transform(
            sequence(1, greatest(length({text_col}) - {k - 1}, 1)),
            i -> substring({text_col}, i, {k})
          )
        ),
        g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)
      )
    """


def shingle_hashes(text_col: str, k: int = 5) -> Column:
    """Column form of :func:`shingle_expr` (JVM expressions only)."""
    return F.expr(shingle_expr(text_col, k))
