r"""Column-expression helpers shared by queries and operators.

Exactness discipline
--------------------
Results are verified against a DuckDB oracle by value hash, so floating-point
aggregation order must not leak into results. Policy (see SURVEY.md §5 on the
reference's 6-significant-digit comparisons, utils.py:449-477):

* Sums of money-like doubles are computed in DECIMAL (exact, order
  independent) and cast to double at the end — both engines then produce
  bit-identical doubles. `dec()` / `dsum()` below.
* Averages are expressed as exact-decimal-sum / count in double division.
* Inherently floating statistics (stddev, corr, regression slope) are
  rounded to 6 decimals on both sides.
* Timestamp arithmetic is integer microseconds (`unix_micros` here,
  `epoch_us` in DuckDB) under a UTC session time zone.

Text contracts
--------------
Two text primitives are defined here once; no other module restates them.

* Token: a maximal run of characters between runs of `TOKEN_SEPARATOR`,
  `[\t\n\f\r ]+`, empty tokens dropped (`tokenize`). That class means the
  same thing in Java regex and in RE2, and it is exactly RE2's (so
  DuckDB's) `\s`: the oracles' `list_filter(string_split_regex(text,
  '\s+'), x -> x <> '')` makes the same tokens. `\x0B`, `\u00a0` and
  `\u2028` are token characters, not separators. The JVM `tokenize` and
  the Arrow `shingle_sets` (operators/dedup.py) both split on it.
* Portable hash: `md5_long(x, start, n_hex)` is the integer value of
  `n_hex` hex digits of md5(x) from 1-based `start`, equal to DuckDB's
  `CAST(concat('0x', substr(md5(x), start, n_hex)) AS BIGINT)`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal(12,4) holds every money/quantity column in the synthetic tables
#: and keeps products within decimal(38,_) bounds for up to three factors.
DEC = "decimal(12,4)"


def dec(col: str | Column) -> Column:
    """Cast a double column to exact decimal(12,4) for order-independent sums."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Exact decimal sum of a double column, surfaced as double.

    Rounded to 2 decimals after the cast: decimal→double conversion is
    correctly rounded in Spark (BigDecimal.doubleValue) but computed as
    int·10^-scale in DuckDB, which can differ by 1 ulp; rounding at the
    edge absorbs it.
    """
    out = F.round(F.sum(dec(col)).cast("double"), 2)
    return out.alias(alias) if alias else out


def davg(col: str | Column, alias: str | None = None) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(F.sum(dec(c)).cast("double") / F.count(c), 6)
    return out.alias(alias) if alias else out


def micros(col: str | Column) -> Column:
    """Epoch microseconds of a timestamp (exact integer; DuckDB: epoch_us)."""
    c = F.col(col) if isinstance(col, str) else col
    # cast is a no-op for TIMESTAMP and folds TIMESTAMP_NTZ (Spark 4 parquet
    # inference) to an instant under the forced-UTC session tz — identical
    # wall-clock epoch to DuckDB's naive read of the same parquet.
    return F.unix_micros(c.cast("timestamp"))


def revenue(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """Exact decimal `price * (1 - discount)` (classic TPC revenue term)."""
    return dec(price) * (F.lit(1).cast(DEC) - dec(discount))


def r6(col: Column, alias: str | None = None) -> Column:
    """Round an inherently-floating statistic to 6 decimals (both engines)."""
    out = F.round(col, 6)
    return out.alias(alias) if alias else out


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, JVM-side.

    Uses zip_with + aggregate (whole-stage-codegen'd higher-order
    functions) — no Python UDF. Scale note: O(dim) per pair; for top-k
    search over N×M pairs see operators/similarity.py for the LSH-bucketed
    path.
    """
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (norm(ad) * norm(bd))


#: The token separator (module docstring, "Text contracts").
TOKEN_SEPARATOR = r"[\t\n\f\r ]+"


def tokenize(text: str | Column) -> Column:
    """array<string> of the tokens of `text` (module docstring, "Text
    contracts"); NULL text gives NULL."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, TOKEN_SEPARATOR), lambda t: t != "")


def md5_long(col: str | Column, start: int = 1, n_hex: int = 8) -> Column:
    """The portable md5 hash as a long (module docstring, "Text
    contracts"): uniform in [0, 16^n_hex)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), start, n_hex), 16, 10).cast("long")
