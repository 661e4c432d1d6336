"""Text normalization / shingling primitives shared by dedup + text analysis.

Every helper has an exact DuckDB-SQL twin (the *_SQL strings) so operator outputs
are value-hash checkable against the oracle. Normalization contract:
lowercase → collapse non-alphanumeric runs to single spaces → trim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- normalized text -------------------------------------------------------

def norm_text(col) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def norm_text_sql(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'))"


# --- word tokens ------------------------------------------------------------

def tokens(col) -> Column:
    """Split normalized text on single spaces (no empty tokens by construction)."""
    return F.split(norm_text(col), " ")


def tokens_sql(expr: str) -> str:
    return f"string_split({norm_text_sql(expr)}, ' ')"


# --- word n-gram shingles ---------------------------------------------------

def shingles_from_tokens(w: Column, n: int = 3) -> Column:
    """Word n-grams from an ALREADY-MATERIALIZED token-array column.

    `w` must be a plain attribute (e.g. `F.col("w")` from a prior projection),
    never the raw `tokens(text)` expression: every `element_at` in the lambda
    re-evaluates its array child, so an inlined tokenizer would re-run
    lower→regexp_replace→split O(shingles × n) times per row. With an attribute
    the extracts are O(1) and the tokenizer runs exactly once per row — this is
    the difference between linear and quadratic cost in document length.
    """
    idx = F.sequence(F.lit(0), F.size(w) - n)  # 0-based start positions
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(w) >= n, grams).otherwise(F.array().cast("array<string>"))


def exploded_shingles(df, text_col: str = "text", id_col: str = "doc_id", n: int = 3):
    """(id, shingle) rows: tokenize once, explode 1-based start POSITIONS, then
    build each n-gram with plain `element_at`/`concat_ws` builtins.

    Same strings as `shingles_from_tokens` (value-hash identical), but the
    per-shingle work stays inside whole-stage codegen: the HOF-`transform`
    formulation evaluates its lambda interpreted per element (CodegenFallback),
    measured 2.4× slower on the sf0.1 corpus. Guard: `sequence(1, size-n+1)`
    must only run when size ≥ n — Spark's sequence(1, 0) DESCENDS ([1, 0]),
    it is not empty.

    The exploded row carries the token array once per position; arrays here are
    O(doc tokens) so the copy cost is linear in corpus token count — the same
    asymptotics as the shingle output itself.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__w"))
    starts = F.when(
        F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    pos = toked.select(id_col, "__w", F.explode(starts).alias("__i"))
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("__w"), F.col("__i") + j) for j in range(n)]
    )
    return pos.select(id_col, gram.alias("shingle"))


def shingles(col, n: int = 3) -> Column:
    """Word n-grams as space-joined strings; empty array when < n tokens.

    NOTE: inlines the tokenizer into every element extract — fine for one-shot
    scalar use, but hot paths must use exploded_shingles / shingles_from_tokens
    (see that docstring for why).
    """
    return shingles_from_tokens(tokens(col), n)
