"""The Spark SQL string semantics that Python kernels reproduce.

Every Arrow kernel in the operator modules claims to be value-identical
to the Spark expression it replaced, and every DuckDB twin to the
Spark operator. The rules those claims rest on live here once, each
Python form next to the column form it must equal
(tests/test_dedup.py::test_spark_text_matches_spark_builtins pins them
against the Spark built-ins):

* characters are code points. Spark SQL strings (``UTF8String``) count
  and index code points in ``length``, ``substring`` and
  ``split(s, '')``, astral planes included, so Python ``len`` and
  ``str`` slicing already agree and no kernel recounts anything;
* Java's ``\\s`` is ASCII-only;
* word tokens are ``[a-z]+`` over the lowercased text;
* the whitespace-density script rule;
* Spark's XXH64 and the md5 hex sampling bucket.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import functions as F

# Java's \s is [ \t\n\x0b\f\r]; re.ASCII scopes Python's to the same
# set (U+00A0, U+3000 and the other Unicode spaces match neither).
_WS = re.compile(r"\s", re.ASCII)

# Spark split(s, '\\s+'): Java's ASCII \s, leading and trailing empty
# tokens kept (Java split with limit -1), "" -> [""].
split_ws = re.compile(r"\s+", re.ASCII).split


def code_points(s: str) -> np.ndarray:
    """The code points of ``s`` as a uint32 array: the elements of
    Spark ``split(s, '')``, one per ``length(s)``."""
    return np.frombuffer(s.encode("utf-32-le"), dtype="<u4")


# -- script rule ------------------------------------------------------------

SPACELESS_MAX_WS = 0.05  # whitespace density below this = unsegmented


def spaceless(col):
    """Script predicate: text whose whitespace density is below
    SPACELESS_MAX_WS is unsegmented (CJK and other space-free scripts) —
    word tokenization degenerates to whole-line tokens there, silently
    collapsing near-dup recall (~20% of a Common-Crawl corpus). ASCII
    whitespace only (Java regex and RE2 both scope \\s to ASCII, so the
    Spark operator and the DuckDB twin agree byte-for-byte)."""
    ws = F.length(col) - F.length(F.regexp_replace(col, r"\s", ""))
    return (F.length(col) > 0) & (ws / F.length(col) < SPACELESS_MAX_WS)


def is_spaceless(s: str) -> bool:
    """Python twin of ``spaceless``."""
    n = len(s)
    return n > 0 and (n - len(_WS.sub("", s))) / n < SPACELESS_MAX_WS


# -- word tokens and sampling buckets ---------------------------------------

WORD_RE = "[a-z]+"

HEX_DIGITS = "0123456789abcdef"


def words(col):
    """Lowercase word tokens: ``WORD_RE`` matches of ``lower(col)``.
    Python kernels take ``re.findall(WORD_RE, ...)`` of the
    JVM-lowered text, which is the same list for this ASCII class."""
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_RE), 0)


def md5_bucket(id_col: str, n_hex: int):
    """The repo's deterministic sampling bucket: the first ``n_hex``
    hex digits of md5(cast(id as string)) as an int in
    [0, 16^n_hex). Digits are read by ``instr`` into HEX_DIGITS, not
    ``conv``, so the arithmetic ports to ANSI SQL unchanged."""
    b = None
    for i in range(1, n_hex + 1):
        d = F.expr(f"instr('{HEX_DIGITS}', "
                   f"substr(md5(cast({id_col} as string)),{i},1))") - 1
        b = d if b is None else b * 16 + d
    return b


# -- Spark's XXH64 ------------------------------------------------------------

# Spark-compatible XXH64 (seed 42) over raw bytes — bit-for-bit equal to
# F.xxhash64 on a string column (validated against Spark for empty,
# ASCII, multi-byte UTF-8 and >=32-byte inputs; pinned by
# tests/test_dedup.py::test_pyxxh64_matches_spark). Pure Python: callers
# run it behind a per-batch distinct-token memo, so the cost is per
# distinct token, not per occurrence.
_XXH_M = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH_M


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64; subtract 2^64 when bit 63 is set to get Spark's
    signed long."""
    M, P1, P2, P3, P4, P5 = (_XXH_M, _XXH_P1, _XXH_P2, _XXH_P3,
                             _XXH_P4, _XXH_P5)
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 32 <= n:
            k = int.from_bytes(data[i:i + 8], "little")
            v1 = (_rotl64((v1 + k * P2) & M, 31) * P1) & M
            k = int.from_bytes(data[i + 8:i + 16], "little")
            v2 = (_rotl64((v2 + k * P2) & M, 31) * P1) & M
            k = int.from_bytes(data[i + 16:i + 24], "little")
            v3 = (_rotl64((v3 + k * P2) & M, 31) * P1) & M
            k = int.from_bytes(data[i + 24:i + 32], "little")
            v4 = (_rotl64((v4 + k * P2) & M, 31) * P1) & M
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
             + _rotl64(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl64((v * P2) & M, 31) * P1) & M) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        h = (_rotl64(h ^ (_rotl64((k * P2) & M, 31) * P1) & M, 27)
             * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl64(h ^ (k * P1) & M, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h = (_rotl64(h ^ (data[i] * P5) & M, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h
