"""Engine-agnostic deterministic text hashing, as paired expression builders.

Every helper comes in two flavors producing IDENTICAL values:
  - ``spark_*``  → a Spark SQL expression string (for ``F.expr``), built on
    ``aggregate``/``transform``/``sequence`` — evaluated JVM-side inside
    whole-stage codegen, no Python UDFs in the hot path.
  - ``duckdb_*`` → the equivalent DuckDB SQL using list comprehensions and
    ``list_reduce``.

This is what makes MinHash/SimHash/fingerprint operators *oracle-checkable*:
both engines compute the same integer hashes from the same strings.

Hash: polynomial rolling hash over character codepoints,
``h = (h * 31 + code) mod 1_000_000_007`` — all intermediates < 2^63, no
overflow on either engine.  (The reference has no hashing/dedup surface at
all; this implements the training-data-pipeline extension, SURVEY.md §7
phase 6.)
"""

from __future__ import annotations

MOD = 1_000_000_007
MULT = 31


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for h_i(x) = (a*x + b) mod MOD.
    Fixed LCG so Spark and DuckDB SQL are generated from identical constants."""
    coeffs = []
    seed = 1
    for _ in range(k):
        seed = (1103515245 * seed + 12345) % 2147483647
        a = seed % (MOD - 1) + 1
        seed = (1103515245 * seed + 12345) % 2147483647
        b = seed % MOD
        coeffs.append((a, b))
    return coeffs


# -- character polynomial hash of a string expression -----------------------

def spark_char_polyhash(s: str) -> str:
    """Spark SQL: rolling char hash of string expression ``s``."""
    return (
        f"aggregate(sequence(1, length({s})), 0L, "
        f"(acc, i) -> (acc * {MULT} + ascii(substring({s}, i, 1))) % {MOD})"
    )


def duckdb_char_polyhash(s: str) -> str:
    """DuckDB SQL: identical rolling char hash of string expression ``s``."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"[ascii(({s})[i:i])::BIGINT for i in range(1, length({s}) + 1)]), "
        f"(a, b) -> (a * {MULT} + b) % {MOD})"
    )


# -- word n-gram shingles of a text column ----------------------------------

def spark_word_shingles(text: str, n: int = 3) -> str:
    """Spark SQL: array of space-joined word n-grams (0-based indexing)."""
    toks = f"split({text}, ' ')"
    parts = ", ' ', ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(0, size({toks}) - {n}), i -> concat({parts})) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def duckdb_word_shingles(text: str, n: int = 3) -> str:
    """DuckDB SQL: identical word n-grams (1-based indexing).  ``range`` with
    an upper bound clamped to 1 yields an empty list for short texts."""
    toks = f"string_split({text}, ' ')"
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return f"[{parts} for i in range(1, greatest(len({toks}) - {n - 1}, 0) + 1)]"


# -- hash each shingle -------------------------------------------------------

def spark_shingle_hashes(shingles: str) -> str:
    """Spark SQL: distinct char-polyhash of each shingle in array expr."""
    inner = spark_char_polyhash("s")
    return f"array_distinct(transform({shingles}, s -> {inner}))"


def duckdb_shingle_hashes(shingles: str) -> str:
    inner = duckdb_char_polyhash("s")
    return f"list_distinct([{inner} for s in {shingles}])"


# -- token-hash shingles (the fast path) -------------------------------------
# Hashing whole shingle STRINGS costs O(chars) per shingle with per-char
# substring calls, and every character is hashed n times (once per shingle
# covering it).  Hashing each token once and combining n token-hashes
# arithmetically cuts the char work n-fold and drops the string concats —
# same determinism, same cross-engine equality.

SHINGLE_MULT = 1_000_003  # token-hash combiner; h*C + h2 < 2^63 for h < MOD


def spark_token_hashes(text: str) -> str:
    """Spark SQL: array of char-polyhashes, one per whitespace token."""
    inner = spark_char_polyhash("w")
    return f"transform(split({text}, ' '), w -> {inner})"


def duckdb_token_hashes(text: str) -> str:
    inner = duckdb_char_polyhash("w")
    return f"[{inner} for w in string_split({text}, ' ')]"


def spark_nonempty_token_hashes(text: str) -> str:
    """Spark SQL: ``spark_token_hashes`` without the empty tokens."""
    inner = spark_char_polyhash("w")
    return f"transform(filter(split({text}, ' '), x -> x <> ''), w -> {inner})"


def duckdb_nonempty_token_hashes(text: str) -> str:
    inner = duckdb_char_polyhash("w")
    return f"[{inner} for w in list_filter(string_split({text}, ' '), x -> x <> '')]"


def spark_hashed_shingles(th: str, n: int = 3) -> str:
    """Spark SQL: distinct n-gram shingle hashes over a token-hash ARRAY
    COLUMN ``th`` (pass a column name, not an inline expr — each element
    reference re-evaluates an inline expr)."""
    combined = f"{th}[i]"
    for j in range(1, n):
        combined = f"(({combined}) * {SHINGLE_MULT} + {th}[i + {j}]) % {MOD}"
    return (
        f"CASE WHEN size({th}) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size({th}) - {n}), i -> {combined})) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )


def duckdb_hashed_shingles(th: str, n: int = 3) -> str:
    combined = f"{th}[i]"
    for j in range(1, n):
        combined = f"(({combined}) * {SHINGLE_MULT} + {th}[i + {j}]) % {MOD}"
    return (
        f"list_distinct([{combined} "
        f"for i in range(1, greatest(len({th}) - {n - 1}, 0) + 1)])"
    )


# -- minhash signature over a hash array -------------------------------------

def spark_minhash_sig(hashes: str, k: int = 16) -> str:
    """Spark SQL: array of k minhash values over integer-hash array expr."""
    mins = ", ".join(
        f"array_min(transform({hashes}, x -> (x * {a} + {b}) % {MOD}))"
        for a, b in minhash_coeffs(k)
    )
    return f"array({mins})"


def duckdb_minhash_sig(hashes: str, k: int = 16) -> str:
    mins = ", ".join(
        f"list_min([(x * {a} + {b}) % {MOD} for x in {hashes}])"
        for a, b in minhash_coeffs(k)
    )
    return f"[{mins}]"


# -- ordered (positional) shingle hashes + winnowing -------------------------
# Substring dedup needs POSITIONAL k-gram hashes (winnowing selects by
# sliding window over positions, so order matters and duplicates must stay).

def spark_ordered_shingle_hashes(th: str, n: int = 3) -> str:
    """Spark SQL: positional n-gram hashes over token-hash ARRAY COLUMN
    ``th`` — same combiner as ``spark_hashed_shingles`` but order-preserving
    and duplicate-preserving."""
    combined = f"{th}[i]"
    for j in range(1, n):
        combined = f"(({combined}) * {SHINGLE_MULT} + {th}[i + {j}]) % {MOD}"
    return (
        f"CASE WHEN size({th}) >= {n} THEN "
        f"transform(sequence(0, size({th}) - {n}), i -> {combined}) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )


def duckdb_ordered_shingle_hashes(th: str, n: int = 3) -> str:
    combined = f"{th}[i]"
    for j in range(1, n):
        combined = f"(({combined}) * {SHINGLE_MULT} + {th}[i + {j}]) % {MOD}"
    return f"[{combined} for i in range(1, greatest(len({th}) - {n - 1}, 0) + 1)]"


def spark_winnow(h: str, w: int = 4) -> str:
    """Spark SQL: winnowing fingerprint selection over a positional hash
    ARRAY COLUMN ``h`` — the distinct set of per-window minima across every
    w-long sliding window (Schleimer/Wilkerson/Aiken 2003).  Guarantee: two
    documents sharing a span of >= k+w-1 tokens share >= 1 fingerprint.
    Short arrays (0 < len < w) winnow to their global min; empty stays
    empty.  Slice past the end clamps identically on both engines."""
    return (
        f"CASE WHEN size({h}) = 0 THEN CAST(array() AS array<bigint>) ELSE "
        f"array_distinct(transform(sequence(1, greatest(size({h}) - {w - 1}, 1)), "
        f"p -> array_min(slice({h}, p, {w})))) END"
    )


def duckdb_winnow(h: str, w: int = 4) -> str:
    return (
        f"CASE WHEN len({h}) = 0 THEN []::BIGINT[] ELSE "
        f"list_distinct([list_min(({h})[p:p + {w - 1}]) "
        f"for p in range(1, greatest(len({h}) - {w - 1}, 1) + 1)]) END"
    )
