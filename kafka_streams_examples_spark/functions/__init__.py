"""Reusable Column expression helpers.

Everything here is built-in `pyspark.sql.functions` composition — JVM-side,
whole-stage-codegen'd. No Python UDFs in this module: these run in the hot
path of 100 TB scans, so they must stay inside Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column | str) -> Column:
    """Lower-cased whitespace tokens (WordCount tokenization).

    Mirrors the reference's flatMapValues split
    (WordCountLambdaExample.java:197) with a whitespace pattern shared with
    the DuckDB oracle (`regexp_split_to_array(lower(text), '\\s+')`).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(col), TOKEN_SPLIT_RE)


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-word shingles from a token array (for MinHash / Jaccard dedup).

    `transform(sequence(...))` is a codegen'd array expression — no UDF.
    Caller must filter size(toks) >= n first (Spark's `sequence` would
    produce a descending range otherwise).
    """
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.get(toks, i + k) for k in range(n)]
        ),
    )


def stable_round(col: Column, d: int) -> Column:
    """Engine-independent rounding: floor(x·10^d + 0.5)/10^d.

    Uses only IEEE-754 ops, so Spark and DuckDB produce bit-identical
    results given bit-identical x. Built-in round() does NOT have this
    property: Spark rounds the decimal expansion via BigDecimal HALF_UP
    while DuckDB rounds in double arithmetic, and inputs that print as
    X.XX5 diverge (observed at sf0.1: ~1/1000 rows of
    round(value*1.1, 2)). Oracle-side equivalent:
    ``floor(x * 1eD + 0.5) / 1eD`` — the oracle MUST mirror this exact
    formula, never its own round().

    Negative inputs are well-defined and identical on both engines, but
    note the semantics: halves round toward +inf (e.g. -0.00005 at d=4
    -> -0.0, not -0.0001), i.e. this is round-half-up on the number
    line, not round-half-away-from-zero. Callers applying it to signed
    values (centroid cosines in semantic_prune / label_silhouette) rely
    on exactly that mirrored behavior.
    """
    scale = float(10 ** d)
    return F.floor(col * scale + F.lit(0.5)) / scale


def stable_round_sql(x: str, d: int) -> str:
    """SQL-fragment twin of :func:`stable_round` for selectExpr/F.expr
    construction (r14/r15: query CONSTRUCTION is driver-side Python and
    every F.* composition is a synchronous py4j round-trip; the trainer
    loops build hundreds of these, so hot constructors parse ONE SQL
    string instead). The `D` suffixes force double literals — bare
    `0.5` parses as DECIMAL in Spark SQL — so the parsed expression is
    bit-identical to the Column form."""
    scale = float(10 ** d)
    return f"(floor(({x}) * {scale!r}D + 0.5D) / {scale!r}D)"


def sq_dist_sql(a: str, b: str) -> str:
    """SQL-fragment twin of operators.similarity._sq_dist: squared L2 of
    two array<double> SQL expressions as one fold — same left-to-right
    association, same arithmetic."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"0.0D, (acc, x) -> acc + x)")


def dot_product_sql(a: str, b: str) -> str:
    """SQL-fragment twin of :func:`dot_product`."""
    return (f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, x) -> acc + x)")


def l2_norm_sql(a: str) -> str:
    """SQL-fragment twin of :func:`l2_norm`."""
    return (f"sqrt(aggregate(transform({a}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"0.0D, (acc, x) -> acc + x))")


def md5_hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash shared with the DuckDB oracle.

    `xxhash64` is Spark-only; for oracle-parity operators we derive a
    portable hash from the first 15 hex chars of md5 (same value as
    DuckDB's `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns in double — a codegen'd
    array fold, JVM-side (the inner loop of brute-force KNN; no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array<numeric> column, in double."""
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, x: acc + x))
