"""Portable hash Columns — the Spark side of :mod:`..semantics`'s
cross-engine hash family (poly_hash / affine_hash).

Everything here compiles to built-in expressions (aggregate/transform over
split — whole-stage codegen, no Python), and every formula has a
bit-identical DuckDB rendering in :mod:`..gate_textdata`'s oracle builders,
which is what lets MinHash/SimHash/LSH outputs be hash-compared against a
DuckDB oracle.  63-bit discipline: all operands < POLY_P ≈ 2^30, so
products stay < 2^63 under Spark ANSI overflow checks.

Inputs must be non-empty strings: Spark splits ``''`` into ``['']`` while
DuckDB yields one empty element too but ``ascii('')`` (0) has no DuckDB
``ord('')`` twin — callers filter empties upstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import semantics as S


def poly_hash_col(col: Column | str) -> Column:
    """semantics.poly_hash as a fold over the string's codepoints."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(S.POLY_SEED0).cast("long"),
        lambda acc, ch: (acc * F.lit(S.POLY_BASE) + ch) % F.lit(S.POLY_P),
    )


def affine_col(h: Column, a: int, b: int) -> Column:
    """semantics.affine_hash: (a·h + b) mod P (h must already be < P)."""
    return (F.lit(a).cast("long") * h + F.lit(b)) % F.lit(S.POLY_P)


def minhash_col(h: Column, k: int) -> Column:
    """k-th minhash permutation of a shingle hash."""
    return affine_col(h, S.MINHASH_A[k], S.MINHASH_B[k])


def simhash_vote_col(h: Column, k: int) -> Column:
    """+1/-1 vote of a token hash for simhash bit k (2·x >= P threshold)."""
    return F.when(
        affine_col(h, S.SIMHASH_A[k], S.SIMHASH_B[k]) * 2 >= F.lit(S.POLY_P),
        F.lit(1),
    ).otherwise(F.lit(-1))


def winnow_fp_udf(k: int, w: int):
    """Arrow/numpy winnowing kernel behind
    operators.textstats.winnow_fingerprints: per document, poly-hash
    every char k-gram and keep the min of each w-window, distinct.

    Pure int64 arithmetic so it is BIT-IDENTICAL to the DuckDB oracle
    (gate_textdata._o_winnow_fp): codepoints come from a utf-32 view
    (== DuckDB ``ord``), the k-char fold is k vectorized multiply-add-mod
    passes over the gram array, the window min is w shifted
    ``np.minimum`` passes.  A built-in Column form would nest three
    lambda HOFs (transform→aggregate→transform), which Spark evaluates
    interpreted — ~4k fold steps per document.

    Case contract: the kernel does NOT lowercase — the caller normalizes
    case in the Spark plan (``F.lower``, as winnow_fingerprints does), so
    the kernel hashes exactly the codepoints Spark's ``lower`` produced.
    A Python ``str.lower()`` here would apply Python's own case tables,
    which need not match an engine's for codepoints with full-vs-simple
    case mappings (e.g. U+0130 'İ' → 'i̇', two codepoints under full
    mapping, one under simple); the non-ASCII pytest pins the codepoint
    handling.
    """
    P, B, S0 = S.POLY_P, S.POLY_BASE, S.POLY_SEED0

    def one(text: str) -> list[int]:
        codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        n = len(codes)
        if n == 0:
            return []
        if n <= k:  # single gram = the whole (short) text
            acc = S0
            for c in codes:
                acc = (acc * B + int(c)) % P
            grams = np.array([acc], dtype=np.int64)
        else:
            n_grams = n - k + 1
            acc = np.full(n_grams, S0, dtype=np.int64)
            for d in range(k):
                acc = (acc * B + codes[d : d + n_grams]) % P
            grams = acc
        if len(grams) <= w:
            sel = np.array([grams.min()], dtype=np.int64)
        else:
            n_win = len(grams) - w + 1
            m = grams[0:n_win].copy()
            for d in range(1, w):
                np.minimum(m, grams[d : d + n_win], out=m)
            sel = m
        return np.unique(sel).tolist()

    @pandas_udf(T.ArrayType(T.LongType()))
    def fp(texts: pd.Series) -> pd.Series:
        return texts.map(one)

    return fp
