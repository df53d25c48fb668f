"""Privacy governance: k-anonymity / l-diversity census and suppression.

Training corpora assembled from user-generated data carry re-identification
risk alongside the literal-PII channel that ``functions/pii.py`` scrubs:
a row whose quasi-identifier combination (event type × value band × day,
zip × age × gender, …) is shared by only a handful of users is linkable
even after direct identifiers are removed. The standard releasability
gates are

- **k-anonymity** — every released quasi-identifier (QI) group contains
  at least ``k`` records, and
- **l-diversity** — every group spans at least ``l`` distinct values of
  the sensitive attribute (a group of 50 rows all belonging to one user
  is k-anonymous yet still identifies that user's behaviour).

The reference's Jinja-SQL surface (reference ``models/deepbook_margin/*``)
has no privacy counterpart — public on-chain data needs none — but a
general training-data engine does, so this family follows the repo's
beyond-reference extension pattern (``operators/novelty.py``,
``operators/dsir.py``).

Scale shape (100 TB): the census is ONE map-side-combined groupBy on the
QI key — ``count`` and ``count_distinct(sensitive)`` both partial-aggregate
(distinct via Spark's two-phase EXPAND, keyed by (QI, sensitive), still
shuffle-bounded by the distinct pair count, not the corpus). Suppression
re-joins the census verdict on the same QI key: the census side is
|QI-combinations| rows — orders of magnitude smaller than the corpus —
so AQE picks a broadcast join at any realistic grain, and the corpus side
never shuffles. Generalization (banding) is a narrow map. Nothing here
windows, sorts, or collects.

Cross-engine determinism: group sizes and distinct counts are exact
integers; band edges use integer ``div`` so Spark and the DuckDB oracle
agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def generalize_band(col: Column | str, width: float | int) -> Column:
    """Generalize a numeric column to the lower edge of its ``width`` band.

    ``floor(x / width) * width`` as exact integer arithmetic when ``width``
    is integral — the QI-coarsening move that trades resolution for larger
    (hence releasable) groups. Narrow map; pushes through the scan.
    """
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(width, int):
        return (F.floor(c / F.lit(width)).cast("long") * F.lit(width)).cast("long")
    return F.floor(c / F.lit(float(width))) * F.lit(float(width))


def k_anonymity_census(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """Per-QI-group census with k-anonymity and l-diversity verdicts.

    Returns one row per distinct QI combination with ``n_rows`` (group
    size), ``n_sensitive`` (distinct sensitive values), and integer flags
    ``k_ok`` (``n_rows >= k``) / ``l_ok`` (``n_sensitive >= l_div``).
    The census IS the privacy audit artifact; :func:`suppress_below_k`
    applies it back to the data.

    One shuffle on the QI key, map-side combined; output is
    |QI-combinations| rows.
    """
    if k < 1 or l_div < 1:
        raise ValueError(f"k and l_div must be >= 1, got k={k}, l_div={l_div}")
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("n_sensitive"),
        (F.count(F.lit(1)) >= k).cast("long").alias("k_ok"),
        (F.count_distinct(F.col(sensitive_col)) >= l_div).cast("long").alias("l_ok"),
    )


def suppress_below_k(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 1,
) -> DataFrame:
    """Drop every row whose QI group fails the k-anonymity / l-diversity
    gate (cell suppression — the conservative release transform).

    The verdict join is a plain equi-join on the QI key: at a coarse
    grain AQE broadcasts the |QI|-row census side at runtime, and at a
    FINE grain (|QI| approaching the corpus — exactly when privacy risk
    is highest) a forced broadcast would OOM the driver, so there is no
    broadcast hint. Suppression is monotone in ``k``: raising ``k`` only
    removes rows.
    """
    census = k_anonymity_census(df, qi_cols, sensitive_col, k=k, l_div=l_div)
    keep = census.filter((F.col("k_ok") == 1) & (F.col("l_ok") == 1)).select(*qi_cols)
    return df.join(keep, on=qi_cols, how="inner")


def suppression_report(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    report_col: str,
    k: int = 5,
    l_div: int = 1,
) -> DataFrame:
    """Per-``report_col`` retention audit of the suppression transform:
    total rows, retained rows, and the retained share (fixed-point 1e6).

    Computed entirely from the census (no second corpus pass): group
    sizes already carry the per-group row counts, so the report is a
    rollup of |QI| census rows — the audit costs O(|QI|) after the one
    census shuffle.
    """
    census = k_anonymity_census(df, qi_cols, sensitive_col, k=k, l_div=l_div)
    if report_col not in qi_cols:
        raise ValueError(f"report_col {report_col!r} must be one of qi_cols {qi_cols}")
    return (
        census.groupBy(report_col)
        .agg(
            F.sum("n_rows").cast("long").alias("n_total"),
            F.sum(F.when((F.col("k_ok") == 1) & (F.col("l_ok") == 1), F.col("n_rows")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_retained"),
        )
        .withColumn("retained_share_e6", F.expr("n_retained * 1000000L div n_total"))
    )


def generalization_ladder(
    df: DataFrame,
    qi_static: list[str],
    value_col: str,
    widths: list[int],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 1,
    target_share_e6: int = 900_000,
) -> DataFrame:
    """Adaptive generalization search: per candidate band width, the share
    of rows that would survive the (k, l) gate — and the SMALLEST width
    (= least information destroyed) meeting ``target_share_e6``.

    The standard k-anonymity trade: coarser bands → bigger groups → less
    suppression but blunter data. Instead of |widths| corpus scans, the
    candidate widths EXPLODE into the group key, so the whole ladder is
    ONE pass and one shuffle on (width, QI) — |widths|× the single-width
    exchange volume, map-side combined, followed by an O(|widths|)
    rollup. Output: one row per width with the retention census and the
    ``chosen`` flag (no width meets the target → all-zero ``chosen``).

    Ladder discipline: pass a NESTED hierarchy (each width divides the
    next) and every coarsening exactly merges the previous bands, making
    group count non-increasing and the k-anonymous row share
    non-decreasing up the ladder; non-nested widths re-cut band edges
    and can split a group while merging another, so "smallest meeting
    width" loses its monotone-search meaning. Not enforced — hierarchies
    over non-numeric QIs arrive as precomputed columns instead.
    """
    if not widths or any(w < 1 for w in widths):
        raise ValueError(f"widths must be positive, got {widths}")
    if len(set(widths)) != len(widths):
        raise ValueError(f"widths must be distinct, got {widths}")
    expanded = df.select(
        *qi_static,
        F.col(value_col),
        F.col(sensitive_col),
        F.explode(F.array(*[F.lit(int(w)) for w in widths])).alias("band_width"),
    ).withColumn(
        "value_band",
        (
            F.floor(F.col(value_col) / F.col("band_width")).cast("long")
            * F.col("band_width")
        ).cast("long"),
    )
    census = expanded.groupBy("band_width", *qi_static, "value_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("n_sensitive"),
    )
    ok = (F.col("n_rows") >= k) & (F.col("n_sensitive") >= l_div)
    per_width = (
        census.groupBy("band_width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_rows").cast("long").alias("n_total"),
            F.sum(F.when(ok, F.col("n_rows")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_retained"),
        )
        .withColumn("retained_share_e6", F.expr("n_retained * 1000000L div n_total"))
        .withColumn(
            "meets_target",
            (F.col("retained_share_e6") >= target_share_e6).cast("long"),
        )
        # |widths| rows, but BOTH consumers below (the best-width scalar
        # and the final output) branch off it — materialize so Catalyst
        # doesn't recompute the corpus-sized census once per branch (the
        # novelty/DSIR branch-recompute lesson, PERF.md r9)
        .localCheckpoint(eager=False)
    )
    best = per_width.filter(F.col("meets_target") == 1).agg(
        F.min("band_width").alias("_best_w")
    )
    return (
        per_width.crossJoin(F.broadcast(best))
        .withColumn(
            "chosen",
            F.when(F.col("band_width") == F.col("_best_w"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_best_w")
        .withColumn("band_width", F.col("band_width").cast("long"))
    )
