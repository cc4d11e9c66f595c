"""Table-evaluation metrics as DataFrame aggregations.

Replicates the reference's evaluation semantics (evaluation.py:53-134) in
distributed form: exact-match text accuracy over aligned cells, and masked
MSE / RMSE / R^2 over numeric-coercible cell pairs (R^2 undefined -> NULL
when the reference variance is zero, mirroring the reference's NaN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _coerce(col):
    """evaluation.py:46-50: '' and '-' -> NULL, else numeric-or-NULL
    (pd.to_numeric(errors='coerce') semantics; try_cast is ANSI-safe)."""
    c = F.trim(col)
    return F.when((c == "") | (c == "-"), F.lit(None)).otherwise(
        c.try_cast("double")
    )


def text_accuracy(cells: DataFrame) -> DataFrame:
    """cells: one (ref, pred) row per aligned cell."""
    matched = (F.col("ref") == F.col("pred")).cast("int")
    return cells.agg(
        F.count("*").alias("total_cells"),
        F.sum(matched).alias("matched_cells"),
        F.round(F.sum(matched) / F.count("*"), 6).alias("text_accuracy"),
    )


def numeric_metrics(pairs: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Masked pairwise MSE/RMSE/R^2 (evaluation.py:53-73).

    ``pairs`` carries raw string or numeric ``y_true``/``y_pred`` columns;
    masking keeps rows where both sides coerce.  Group keys via ``by`` give
    per-column metrics.
    """
    t = _coerce(F.col("y_true").cast("string"))
    p = _coerce(F.col("y_pred").cast("string"))
    masked = pairs.select(*(by or []), t.alias("t"), p.alias("p")).where(
        F.col("t").isNotNull() & F.col("p").isNotNull()
    )
    grouped = masked.groupBy(*(by or []))
    agg = grouped.agg(
        F.count("*").alias("n"),
        F.avg(F.pow(F.col("p") - F.col("t"), 2)).alias("mse"),
        F.sum(F.pow(F.col("p") - F.col("t"), 2)).alias("_sse"),
        F.sum(F.col("t")).alias("_sum_t"),
        F.sum(F.pow(F.col("t"), 2)).alias("_sum_t2"),
    )
    denom = F.col("_sum_t2") - F.pow(F.col("_sum_t"), 2) / F.col("n")
    return agg.select(
        *(by or []),
        "n",
        F.round("mse", 6).alias("mse"),
        F.round(F.sqrt(F.col("mse")), 6).alias("rmse"),
        F.round(
            F.when(denom != 0, 1.0 - F.col("_sse") / denom), 6
        ).alias("r2"),
    )
