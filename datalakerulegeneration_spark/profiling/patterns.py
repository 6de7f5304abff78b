"""Pattern generalization + dynamic type inference (P17, P18, F1).

Reference semantics:
* symbolic pattern (profiling/profiler.py:134-151): digit→'0',
  alpha→'A', whitespace→'_', everything else kept;
* type inference (profiling/profiler.py:74-127): per-type match ratio
  with a 0.7 threshold vote (``TYPE_THRESHOLD``; the vote itself runs
  in ``profiling.profiler`` and ``profiling.wide_sql``).

All expressed as chained ``regexp_replace`` (whole-stage codegen, no
Python in the hot path). The same chains are emitted as DuckDB SQL for
the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TYPE_THRESHOLD = 0.7


def symbolic_pattern(col: Column) -> Column:
    """Generalize a value to the reference's symbolic signature.

    ``"AB-12 x"`` → ``"AA-00_A"``. Digits first so the literal 'A'/'0'
    replacement characters cannot be re-replaced.
    """
    s = col.cast("string")
    s = F.regexp_replace(s, r"[0-9]", "0")
    s = F.regexp_replace(s, r"[A-Za-z]", "A")
    s = F.regexp_replace(s, r"\s", "_")
    return s


def symbolic_pattern_sql(col: str) -> str:
    """DuckDB-equivalent of :func:`symbolic_pattern`."""
    s = f"CAST({col} AS VARCHAR)"
    s = f"regexp_replace({s}, '[0-9]', '0', 'g')"
    s = f"regexp_replace({s}, '[A-Za-z]', 'A', 'g')"
    s = f"regexp_replace({s}, '\\s', '_', 'g')"
    return s

