"""Per-column statistic registry (reference operators P1-P18).

Every statistic is defined ONCE as a triple of builders:

* ``spark(col)`` -> a PySpark ``Column`` aggregate expression
* ``ssql(col)``  -> the same aggregate as Spark-SQL text
* ``sql(col)``   -> the equivalent DuckDB/ANSI SQL aggregate string

so the engine's profiler and the DuckDB correctness oracle are
structurally guaranteed to compute the same thing. Reference
semantics: profiling/profiler.py:169-357 computes these in per-cell
Python loops; here each is one aggregate expression inside a single
wide aggregation per table (one scan, map-side partial aggregation).

Why a text form next to the Column form: the profiler's wide agg holds
~25 aggregates × N columns, and building hundreds of ``Column`` trees
costs a py4j round-trip per operator (~1s of pure driver-side plan
construction per profiled table, measured at 10 columns). One
``selectExpr(*strings)`` call ships the whole aggregation in a single
round-trip; the parsed plan is identical. ``spark`` builders remain for
callers composing stats into larger Column expressions.

Determinism across engines: float aggregates are computed via exact
DECIMAL(18,6) sums (order-independent, bit-identical in Spark and
DuckDB) and only converted to DOUBLE at the end, so value hashes match.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Column kinds a stat applies to.
STRINGY = "string"
NUMERIC = "numeric"
ANY = "any"
# A string COLUMN kind (never a stat kind): string stats plus the
# numeric family over try_cast, the reference's coerce-everything mode.
COERCED = "coerced"

# Regexes shared by Spark and DuckDB (RE2-compatible subset).
RE_INT = r"^-?\d+$"
RE_FLOAT = r"^-?\d+\.\d+$"
# P6 cell-numeric = the reference's exact class (dataset/column
# profiler, reference profiler.py:565): unsigned digits with at most
# ONE '.' OR ',' separator — comma covers thousands-separated and
# European-decimal cells ('379,998'), no sign. The r11 movies golden
# parity caught the old '^-?\d+(\.\d+)?$' spelling silently
# undercounting exactly those (published dataset profiles disagreed).
RE_NUMERIC = r"^[0-9]+([.,][0-9]+)?$"
RE_ALPHA_CELL = r"^[A-Za-z]+$"
RE_PUNCT_CELL = r"^[^A-Za-z0-9]+$"
RE_DATE = r"^\d{4}-\d{2}-\d{2}$"
RE_TIME_24H = r"^\d{1,2}:\d{2}(:\d{2})?$"
RE_TIME_AMPM = r"^\d{1,2}:\d{2}\s?[apAP]\.?[mM]\.?$"
RE_PERCENT = r"^-?\d+(\.\d+)?\s?%$"
RE_BOOL = r"^(true|false|yes|no|t|f|y|n|0|1)$"
RE_EMAIL = r"^[^@\s]+@[^@\s]+\.[^@\s]+$"


def _lit(pat: str) -> str:
    """Embed a regex in a Spark SQL string literal (backslashes are
    escape-processed by the SQL parser, so they must be doubled;
    DuckDB standard literals pass backslashes through untouched).

    Single quotes are rejected rather than escaped: Spark escapes them
    with a backslash while doubling ('') silently concatenates adjacent
    literals, so no one string works for both engines' oracles.
    """
    if "'" in pat:
        raise ValueError(f"regex literal may not contain a single quote: {pat!r}")
    return "'" + pat.replace("\\", "\\\\") + "'"


def _dec(c: str) -> Column:
    return F.expr(f"try_cast({c} as decimal(18,6))")


def _dec_sql(c: str) -> str:
    return f"TRY_CAST({c} AS DECIMAL(18,6))"


def _num(c: str) -> Column:
    return F.expr(f"try_cast({c} as double)")


@dataclass(frozen=True)
class Stat:
    """One profile statistic, defined for Spark (Column + SQL text)
    and DuckDB (SQL text)."""

    name: str
    kind: str  # STRINGY / NUMERIC / ANY
    spark: Callable[[str], Column]
    sql: Callable[[str], str]
    ssql: Callable[[str], str]


# P4's four character classes are all over finite ASCII sets, so the
# Spark side counts them with translate() — a per-char map lookup —
# instead of regexp_replace: one regex pass per class per string cell
# was ~35 s of the 94 s one-scan profile of 60M rows at sf10, and the
# values are bit-identical (the DuckDB oracle keeps the regex form, so
# the equivalence is oracle-checked on every profile query).
# Java regex \\s is exactly [ \\t\\n\\x0B\\f\\r].
_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"
_JAVA_WS = " \t\n\x0b\f\r"
_WS_SQL = "concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13))"


def _char_class_spark(c: str, char_re: str) -> Column:
    # total characters of a class = sum(len - len(strip(class)))
    s = F.coalesce(F.col(c).cast("string"), F.lit(""))
    if char_re == "[A-Za-z]":
        kept = F.length(s) - F.length(F.translate(s, _ALPHA, ""))
    elif char_re == "[0-9]":
        kept = F.length(s) - F.length(F.translate(s, _DIGITS, ""))
    elif char_re == r"[^A-Za-z0-9\s]":
        kept = F.length(F.translate(s, _ALPHA + _DIGITS + _JAVA_WS, ""))
    elif char_re == "[^A-Za-z0-9]":
        kept = F.length(F.translate(s, _ALPHA + _DIGITS, ""))
    else:  # non-ASCII class: regex fallback
        kept = F.length(s) - F.length(F.regexp_replace(s, char_re, ""))
    return F.sum(kept).cast("double")


def _char_class_ssql(c: str, char_re: str) -> str:
    s = f"COALESCE(CAST({c} AS STRING), '')"
    if char_re == "[A-Za-z]":
        kept = f"length({s}) - length(translate({s}, '{_ALPHA}', ''))"
    elif char_re == "[0-9]":
        kept = f"length({s}) - length(translate({s}, '{_DIGITS}', ''))"
    elif char_re == r"[^A-Za-z0-9\s]":
        kept = f"length(translate({s}, concat('{_ALPHA}{_DIGITS}', {_WS_SQL}), ''))"
    elif char_re == "[^A-Za-z0-9]":
        kept = f"length(translate({s}, '{_ALPHA}{_DIGITS}', ''))"
    else:
        kept = f"length({s}) - length(regexp_replace({s}, {_lit(char_re)}, ''))"
    return f"CAST(sum({kept}) AS DOUBLE)"


def _char_class_sql(c: str, char_re: str) -> str:
    s = f"COALESCE(CAST({c} AS VARCHAR), '')"
    return (
        f"CAST(SUM(length({s}) - length(regexp_replace({s}, '{char_re}', '', 'g'))) AS DOUBLE)"
    )


def _ratio_rlike_spark(c: str, pat: str) -> Column:
    s = F.col(c).cast("string")
    return (
        F.sum(F.when(s.rlike(pat), 1).otherwise(0)).cast("double")
        / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
    )


def _ratio_rlike_ssql(c: str, pat: str) -> str:
    return (
        f"CAST(count_if(CAST({c} AS STRING) RLIKE {_lit(pat)}) AS DOUBLE)"
        f" / nullif(CAST(count(*) AS DOUBLE), 0.0)"
    )


def _ratio_rlike_sql(c: str, pat: str) -> str:
    s = f"CAST({c} AS VARCHAR)"
    return f"CAST(count_if(regexp_matches({s}, '{pat}')) AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0)"


def _cells_rlike_spark(c: str, pat: str) -> Column:
    # the two pure-class cell patterns avoid the regex engine the same
    # way the char-class stats do (translate is a per-char map); the
    # structural patterns (numeric etc.) stay regex. NULL cells fall to
    # the otherwise(0) branch in every variant, matching rlike(NULL).
    s = F.col(c).cast("string")
    if pat == RE_ALPHA_CELL:
        cond = (s != "") & (F.translate(s, _ALPHA, "") == "")
    elif pat == RE_PUNCT_CELL:
        cond = (s != "") & (
            F.length(F.translate(s, _ALPHA + _DIGITS, "")) == F.length(s)
        )
    else:
        cond = s.rlike(pat)
    return F.sum(F.when(cond, 1).otherwise(0)).cast("double")


def _cells_rlike_ssql(c: str, pat: str) -> str:
    s = f"CAST({c} AS STRING)"
    if pat == RE_ALPHA_CELL:
        cond = f"{s} <> '' AND translate({s}, '{_ALPHA}', '') == ''"
    elif pat == RE_PUNCT_CELL:
        cond = (
            f"{s} <> '' AND length(translate({s}, '{_ALPHA}{_DIGITS}', '')) == length({s})"
        )
    else:
        cond = f"{s} RLIKE {_lit(pat)}"
    return f"CAST(count_if({cond}) AS DOUBLE)"


def _cells_rlike_sql(c: str, pat: str) -> str:
    s = f"CAST({c} AS VARCHAR)"
    return f"CAST(count_if(regexp_matches({s}, '{pat}')) AS DOUBLE)"


# the square's decimal cast is a TRY_CAST in every dialect: a coerced
# string cell can hold an arbitrary magnitude whose square overflows
# DECIMAL(38,12), and under ANSI a plain cast would abort the whole
# profile. Dropping rows SILENTLY would skew the std while count()
# still includes them (r10 review), so the CASE guard NULLs the std
# whenever any castable value falls outside the exact-sum domain
# (value beyond DECIMAL(18,6) or square beyond DECIMAL(38,12)) —
# an honest "not computable exactly" instead of a plausible wrong
# number; both engines agree on the guard.
_STD_GUARD = (
    "count(try_cast({c} as double))"
    " <> count(try_cast(try_cast({c} as double) * try_cast({c} as double) as decimal(38,12)))"
    " OR count(try_cast({c} as double)) <> count(try_cast({c} as decimal(18,6)))"
)
_STD_GUARD_SQL = (
    "count(TRY_CAST({c} AS DOUBLE))"
    " <> count(TRY_CAST(TRY_CAST({c} AS DOUBLE) * TRY_CAST({c} AS DOUBLE) AS DECIMAL(38,12)))"
    " OR count(TRY_CAST({c} AS DOUBLE)) <> count(TRY_CAST({c} AS DECIMAL(18,6)))"
)
_STD_SSQL = (
    "CASE WHEN " + _STD_GUARD + " THEN CAST(NULL AS DOUBLE) ELSE "
    "round(sqrt(greatest(0.0D, ("
    "CAST(sum(try_cast(try_cast({c} as double) * try_cast({c} as double) as decimal(38,12))) AS DOUBLE)"
    " - CAST(sum(try_cast({c} as decimal(18,6))) AS DOUBLE)"
    " * CAST(sum(try_cast({c} as decimal(18,6))) AS DOUBLE)"
    " / nullif(CAST(count(try_cast({c} as double)) AS DOUBLE), 0.0D))"
    " / nullif(CAST(count(try_cast({c} as double)) AS DOUBLE) - 1.0D, 0.0D))), 6)"
    " END"
)


# ---------------------------------------------------------------------------
# The registry
# ---------------------------------------------------------------------------

STATS: list[Stat] = [
    # P1 row count
    Stat(
        "row_num",
        ANY,
        lambda c: F.count(F.lit(1)).cast("double"),
        lambda c: "CAST(count(*) AS DOUBLE)",
        lambda c: "CAST(count(*) AS DOUBLE)",
    ),
    # P2 null ratio — reference counts empty strings (profiler.py:181).
    # Kind-specialized: a numeric value can never render as '', so the
    # NUMERIC variant skips the (expensive) double→string cast; the
    # value is identical either way.
    Stat(
        "null_ratio",
        STRINGY,
        lambda c: (
            F.sum(
                F.when(F.col(c).isNull() | (F.col(c).cast("string") == ""), 1).otherwise(0)
            ).cast("double")
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
        ),
        lambda c: (
            f"CAST(count_if({c} IS NULL OR CAST({c} AS VARCHAR) = '') AS DOUBLE)"
            f" / nullif(CAST(count(*) AS DOUBLE), 0.0)"
        ),
        lambda c: (
            f"CAST(count_if({c} IS NULL OR CAST({c} AS STRING) = '') AS DOUBLE)"
            f" / nullif(CAST(count(*) AS DOUBLE), 0.0)"
        ),
    ),
    Stat(
        "null_ratio",
        NUMERIC,
        lambda c: (
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("double")
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
        ),
        lambda c: (
            f"CAST(count_if({c} IS NULL) AS DOUBLE)"
            f" / nullif(CAST(count(*) AS DOUBLE), 0.0)"
        ),
        lambda c: (
            f"CAST(count_if({c} IS NULL) AS DOUBLE)"
            f" / nullif(CAST(count(*) AS DOUBLE), 0.0)"
        ),
    ),
    # P3 distinct count + unique ratio (exact mode computes these in the
    # profiler's distinct-value chain, not the wide agg — see profiler)
    Stat(
        "distinct_num",
        ANY,
        lambda c: F.countDistinct(F.col(c)).cast("double"),
        lambda c: f"CAST(count(DISTINCT {c}) AS DOUBLE)",
        lambda c: f"CAST(count(DISTINCT {c}) AS DOUBLE)",
    ),
    Stat(
        "unique_ratio",
        ANY,
        lambda c: F.countDistinct(F.col(c)).cast("double")
        / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
        lambda c: f"CAST(count(DISTINCT {c}) AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0)",
        lambda c: f"CAST(count(DISTINCT {c}) AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0)",
    ),
    # P16 length stats
    Stat(
        "min_len",
        STRINGY,
        lambda c: F.min(F.length(F.col(c).cast("string"))).cast("double"),
        lambda c: f"CAST(min(length(CAST({c} AS VARCHAR))) AS DOUBLE)",
        lambda c: f"CAST(min(length(CAST({c} AS STRING))) AS DOUBLE)",
    ),
    Stat(
        "max_len",
        STRINGY,
        lambda c: F.max(F.length(F.col(c).cast("string"))).cast("double"),
        lambda c: f"CAST(max(length(CAST({c} AS VARCHAR))) AS DOUBLE)",
        lambda c: f"CAST(max(length(CAST({c} AS STRING))) AS DOUBLE)",
    ),
    Stat(
        "avg_len",
        STRINGY,
        lambda c: (
            F.sum(F.length(F.col(c).cast("string"))).cast("double")
            / F.nullif(F.count(F.col(c)).cast("double"), F.lit(0.0))
        ),
        lambda c: (
            f"CAST(sum(length(CAST({c} AS VARCHAR))) AS DOUBLE)"
            f" / nullif(CAST(count({c}) AS DOUBLE), 0.0)"
        ),
        lambda c: (
            f"CAST(sum(length(CAST({c} AS STRING))) AS DOUBLE)"
            f" / nullif(CAST(count({c}) AS DOUBLE), 0.0)"
        ),
    ),
    # P4 character-class totals (per-character classification, loop-free)
    Stat(
        "characters_alphabet",
        STRINGY,
        lambda c: _char_class_spark(c, "[A-Za-z]"),
        lambda c: _char_class_sql(c, "[A-Za-z]"),
        lambda c: _char_class_ssql(c, "[A-Za-z]"),
    ),
    Stat(
        "characters_numeric",
        STRINGY,
        lambda c: _char_class_spark(c, "[0-9]"),
        lambda c: _char_class_sql(c, "[0-9]"),
        lambda c: _char_class_ssql(c, "[0-9]"),
    ),
    Stat(
        "characters_punctuation",
        STRINGY,
        lambda c: _char_class_spark(c, r"[^A-Za-z0-9\s]"),
        lambda c: _char_class_sql(c, r"[^A-Za-z0-9\s]"),
        lambda c: _char_class_ssql(c, r"[^A-Za-z0-9\s]"),
    ),
    Stat(
        "characters_miscellaneous",
        STRINGY,
        lambda c: _char_class_spark(c, r"[^A-Za-z0-9]"),
        lambda c: _char_class_sql(c, "[^A-Za-z0-9]"),
        lambda c: _char_class_ssql(c, "[^A-Za-z0-9]"),
    ),
    # P6 whole-cell classification counts
    Stat(
        "cells_alphabet",
        STRINGY,
        lambda c: _cells_rlike_spark(c, RE_ALPHA_CELL),
        lambda c: _cells_rlike_sql(c, RE_ALPHA_CELL),
        lambda c: _cells_rlike_ssql(c, RE_ALPHA_CELL),
    ),
    Stat(
        "cells_numeric",
        STRINGY,
        lambda c: _cells_rlike_spark(c, RE_NUMERIC),
        lambda c: _cells_rlike_sql(c, RE_NUMERIC),
        lambda c: _cells_rlike_ssql(c, RE_NUMERIC),
    ),
    Stat(
        "cells_punctuation",
        STRINGY,
        lambda c: _cells_rlike_spark(c, RE_PUNCT_CELL),
        lambda c: _cells_rlike_sql(c, RE_PUNCT_CELL),
        lambda c: _cells_rlike_ssql(c, RE_PUNCT_CELL),
    ),
    # P8 numeric min/max (pd.to_numeric(errors="coerce") ≡ try_cast)
    Stat(
        "numeric_min",
        NUMERIC,
        lambda c: F.min(_num(c)),
        lambda c: f"min(TRY_CAST({c} AS DOUBLE))",
        lambda c: f"min(try_cast({c} as double))",
    ),
    Stat(
        "numeric_max",
        NUMERIC,
        lambda c: F.max(_num(c)),
        lambda c: f"max(TRY_CAST({c} AS DOUBLE))",
        lambda c: f"max(try_cast({c} as double))",
    ),
    # mean/std via exact decimal sums → identical doubles in both engines
    Stat(
        "numeric_sum",
        NUMERIC,
        lambda c: F.sum(_dec(c)).cast("double"),
        lambda c: f"CAST(sum({_dec_sql(c)}) AS DOUBLE)",
        lambda c: f"CAST(sum(try_cast({c} as decimal(18,6))) AS DOUBLE)",
    ),
    Stat(
        "numeric_mean",
        NUMERIC,
        lambda c: F.sum(_dec(c)).cast("double")
        / F.nullif(F.count(_num(c)).cast("double"), F.lit(0.0)),
        lambda c: (
            f"CAST(sum({_dec_sql(c)}) AS DOUBLE)"
            f" / nullif(CAST(count(TRY_CAST({c} AS DOUBLE)) AS DOUBLE), 0.0)"
        ),
        lambda c: (
            f"CAST(sum(try_cast({c} as decimal(18,6))) AS DOUBLE)"
            f" / nullif(CAST(count(try_cast({c} as double)) AS DOUBLE), 0.0)"
        ),
    ),
    Stat(
        "numeric_std",
        NUMERIC,
        # sample std from decimal sum / sum-of-squares:
        # sqrt((sumsq - sum*sum/n) / (n-1)). Squares are computed in
        # double (bit-identical both engines) then summed as
        # DECIMAL(38,12) so each engine is order-independent and
        # rerun-stable; the double→decimal cast of the *products*
        # rounds differently across engines (~1e-13 relative), so the
        # final value is rounded to 6 decimals for cross-engine parity.
        lambda c: F.expr(_STD_SSQL.format(c=c)),
        lambda c: (
            "CASE WHEN " + _STD_GUARD_SQL.format(c=c) + " THEN CAST(NULL AS DOUBLE) ELSE "
            "round(sqrt(greatest(0.0, ("
            f"CAST(sum(TRY_CAST(TRY_CAST({c} AS DOUBLE) * TRY_CAST({c} AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)"
            f" - CAST(sum({_dec_sql(c)}) AS DOUBLE)"
            f" * CAST(sum({_dec_sql(c)}) AS DOUBLE)"
            f" / nullif(CAST(count(TRY_CAST({c} AS DOUBLE)) AS DOUBLE), 0.0))"
            f" / nullif(CAST(count(TRY_CAST({c} AS DOUBLE)) AS DOUBLE) - 1.0, 0.0))), 6)"
            " END"
        ),
        lambda c: _STD_SSQL.format(c=c),
    ),
    # P9 quartiles — exact percentile (R-7 linear interpolation) matches
    # DuckDB quantile_cont bit-for-bit; approx mode swaps in
    # percentile_approx at scale (documented tolerance)
    # the three quartiles share ONE percentile(..., array(...)) child so
    # Catalyst's aggregate deduplication builds a single sort buffer per
    # column instead of three (measured 1.6× whole-profile difference)
    Stat(
        "q1",
        NUMERIC,
        lambda c: F.expr(
            f"element_at(percentile(try_cast({c} as double), array(0.25D, 0.5D, 0.75D)), 1)"
        ),
        lambda c: f"quantile_cont(TRY_CAST({c} AS DOUBLE), 0.25)",
        lambda c: f"element_at(percentile(try_cast({c} as double), array(0.25D, 0.5D, 0.75D)), 1)",
    ),
    Stat(
        "q2",
        NUMERIC,
        lambda c: F.expr(
            f"element_at(percentile(try_cast({c} as double), array(0.25D, 0.5D, 0.75D)), 2)"
        ),
        lambda c: f"quantile_cont(TRY_CAST({c} AS DOUBLE), 0.5)",
        lambda c: f"element_at(percentile(try_cast({c} as double), array(0.25D, 0.5D, 0.75D)), 2)",
    ),
    Stat(
        "q3",
        NUMERIC,
        lambda c: F.expr(
            f"element_at(percentile(try_cast({c} as double), array(0.25D, 0.5D, 0.75D)), 3)"
        ),
        lambda c: f"quantile_cont(TRY_CAST({c} AS DOUBLE), 0.75)",
        lambda c: f"element_at(percentile(try_cast({c} as double), array(0.25D, 0.5D, 0.75D)), 3)",
    ),
    # P12 max significant digits / max decimal places
    Stat(
        "max_digits",
        NUMERIC,
        # translate (single char-table pass) instead of a regex engine:
        # numeric renderings only ever contain digits and - . E + , so
        # deleting those non-digits equals stripping [^0-9]
        lambda c: F.max(
            F.length(F.translate(F.col(c).cast("string"), "-.E+", ""))
        ).cast("double"),
        lambda c: (
            f"CAST(max(length(regexp_replace(CAST({c} AS VARCHAR), '[^0-9]', '', 'g')))"
            " AS DOUBLE)"
        ),
        lambda c: (
            f"CAST(max(length(translate(CAST({c} AS STRING), '-.E+', ''))) AS DOUBLE)"
        ),
    ),
    Stat(
        "max_decimals",
        NUMERIC,
        # decimal places after stripping trailing zeros (evaluation.py:192-200)
        lambda c: F.max(
            F.length(
                F.regexp_replace(
                    F.regexp_extract(F.col(c).cast("string"), r"\.(\d+)$", 1), r"0+$", ""
                )
            )
        ).cast("double"),
        lambda c: (
            "CAST(max(length(regexp_replace("
            f"regexp_extract(CAST({c} AS VARCHAR), '\\.(\\d+)$', 1), '0+$', '', 'g')))"
            " AS DOUBLE)"
        ),
        lambda c, _p=_lit(r"\.(\d+)$"): (
            "CAST(max(length(regexp_replace("
            f"regexp_extract(CAST({c} AS STRING), {_p}, 1), '0+$', '')))"
            " AS DOUBLE)"
        ),
    ),
    # P18 type-inference vote ratios (threshold cascade applied downstream)
    Stat(
        "type_ratio_integer",
        STRINGY,
        lambda c: _ratio_rlike_spark(c, RE_INT),
        lambda c: _ratio_rlike_sql(c, RE_INT),
        lambda c: _ratio_rlike_ssql(c, RE_INT),
    ),
    Stat(
        "type_ratio_float",
        STRINGY,
        lambda c: _ratio_rlike_spark(c, RE_FLOAT),
        lambda c: _ratio_rlike_sql(c, RE_FLOAT),
        lambda c: _ratio_rlike_ssql(c, RE_FLOAT),
    ),
    Stat(
        "type_ratio_date",
        STRINGY,
        lambda c: _ratio_rlike_spark(c, RE_DATE),
        lambda c: _ratio_rlike_sql(c, RE_DATE),
        lambda c: _ratio_rlike_ssql(c, RE_DATE),
    ),
    Stat(
        "type_ratio_boolean",
        STRINGY,
        lambda c: _ratio_rlike_spark(c, "(?i)" + RE_BOOL),
        lambda c: _ratio_rlike_sql(c, "(?i)" + RE_BOOL),
        lambda c: _ratio_rlike_ssql(c, "(?i)" + RE_BOOL),
    ),
]

STAT_BY_NAME: dict[str, Stat] = {s.name: s for s in STATS}


def _coerced_render(c: str, duck: bool = False) -> str:
    """Canonical fixed-point rendering of a string cell's coerced
    numeric value. DECIMAL(38,10) renders without an exponent in BOTH
    engines (a double→string render goes scientific past 1e7 in Spark
    but not DuckDB/python), so digit counts below are portable; values
    outside the decimal's range try_cast to NULL and drop — the same
    cells pandas' float64 would render in exponent form, where the
    reference's naive split-on-'.' digit count is meaningless anyway."""
    t = "VARCHAR" if duck else "STRING"
    return f"CAST(TRY_CAST({c} AS DECIMAL(38,10)) AS {t})"


def _coerced_digits_sql(c: str, duck: bool = False) -> tuple[str, str]:
    """(int_digits, dec_digits) of the coerced rendering — reference
    evaluation of ``str(num)``: integer part stripped of '-' and
    leading zeros, decimal part stripped of trailing zeros
    (reference profiler.py:255-267)."""
    b = _coerced_render(c, duck)
    # '^-?' — the DECIMAL rendering of a negative value leads with the
    # sign; an anchor without it zeroes the whole integer-digit count
    # for negative columns (r10 review, verified in both engines)
    intd = (
        f"length(regexp_replace(regexp_extract({b}, '^-?([0-9]+)', 1), '^0+', ''))"
    )
    decd = (
        f"length(regexp_replace(regexp_extract({b}, '[.]([0-9]+)$', 1), '0+$', ''))"
    )
    return intd, decd


def _mk_coerced_digit_stat(name: str, want_int: bool) -> Stat:
    def _expr(c: str, duck: bool) -> str:
        intd, decd = _coerced_digits_sql(c, duck)
        body = f"({intd} + {decd})" if want_int else decd
        return f"CAST(max({body}) AS DOUBLE)"

    return Stat(
        name,
        COERCED,
        lambda c: F.expr(_expr(c, False)),
        lambda c: _expr(c, True),
        lambda c: _expr(c, False),
    )


# max_digits/max_decimals for COERCED columns count digits of the
# coerced VALUE (what the reference measures on ``str(num)``), not of
# the raw cell string — '001436' coerces to 4 digits, '12.50' to 3.
COERCED_STATS: list[Stat] = [
    _mk_coerced_digit_stat("max_digits", want_int=True),
    _mk_coerced_digit_stat("max_decimals", want_int=False),
]


def stats_for_kind(kind: str) -> list[Stat]:
    """Stats applicable to a column kind ('string', 'numeric', or
    'coerced' — a string column numerically coerced per the reference's
    ``pd.to_numeric(errors="coerce")`` over every column, gaining the
    numeric family ON TOP of the string family; where both kinds define
    a stat name (null_ratio) the string variant wins, matching the
    reference's ''-as-null convention on all-string frames)."""
    if kind == NUMERIC:
        return [s for s in STATS if s.kind in (ANY, NUMERIC)]
    out = [s for s in STATS if s.kind in (ANY, STRINGY)]
    if kind == COERCED:
        seen = {s.name for s in out} | {s.name for s in COERCED_STATS}
        out += [s for s in STATS if s.kind == NUMERIC and s.name not in seen]
        out += COERCED_STATS
    return out
