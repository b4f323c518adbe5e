"""Per-group top-k: the one ranked-retrieval tail.

Every operator that keeps the first ``k`` rows of each group (retrieval
top-k, per-group caps and quotas, the funnel valve) goes through
:func:`top_k_per`, so the physical choice lives here: a ``row_number``
window filtered by a constant, which Spark plans with a partial
``WindowGroupLimit`` below the window's exchange. The window is parsed
from one SQL string rather than assembled as a py4j Column tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _literal(text: str) -> str:
    """``text`` as a SQL string literal: the parser unescapes
    backslashes, so they are doubled along with the quote."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def top_k_per(
    df: DataFrame, by: str, order: str, k: int, rank: str = "rn"
) -> DataFrame:
    """Rows of ``df`` ranked ``1..k`` within each group of column ``by``
    under ``order`` (a SQL ``ORDER BY`` list; quote column names with
    :func:`_quote`), with the rank in column ``rank``.

    Rows that tie on the whole order are ranked arbitrarily among
    themselves, so end it in a unique key wherever the kept set must be
    deterministic. Callers select or drop ``rank`` themselves.
    """
    window = f"row_number() OVER (PARTITION BY {_quote(by)} ORDER BY {order})"
    return df.withColumn(rank, F.expr(window)).where(
        f"{_quote(rank)} <= {int(k)}"
    )
