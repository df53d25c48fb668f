"""Scalar JSON-path function surface (SURVEY §2.7 F1-F4).

The reference's entire JSON API is three Trino functions; their Spark twins:

- ``json_extract_scalar(j, '$.p')`` → ``F.get_json_object`` (exact twin:
  scalar at JSONPath as string, NULL if absent; deep paths supported) —
  reference usage e.g.
  ``models/deepbook_margin/events/deepbook_margin_loan_borrowed.sql:34-38``,
  ``models/deepbook_margin/objects/stg_deepbook_margin_pool_object.sql:48-89``.
- ``json_format(json_extract(j, '$.p'))`` → ``F.get_json_object`` already
  returns non-scalar matches *serialized*, covering F2+F3 in one call —
  reference ``stg_deepbook_margin_pool_object.sql:92``.
- ``try_cast(x as T)`` → ``Column.try_cast`` (NULL on failure) — reference
  ``stg_deepbook_margin_pool_object.sql:51-89``.

All JVM-side Catalyst expressions — no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_extract_scalar(col: Column | str, path: str) -> Column:
    """Trino ``json_extract_scalar``: scalar at JSONPath as string.

    ``get_json_object`` alone diverges on NON-scalar matches: it returns
    the object/array serialized, where Trino returns NULL. Guarded here —
    a match whose text starts with ``{``/``[`` is NULLed — so a malformed
    event whose field unexpectedly holds a nested value degrades to NULL
    (then NULL through try_cast) instead of leaking a JSON blob into
    string columns like ``margin_pool_id``.

    Residual divergence (unresolvable from ``get_json_object``'s unquoted
    output alone): a STRING scalar whose text itself starts with ``{``/
    ``[`` is indistinguishable from a serialized container and is also
    NULLed. The reference's extracted fields are ids/addresses/numbers
    (``stg_deepbook_margin_pool_object.sql:48-89``), where this cannot
    occur.
    """
    raw = F.get_json_object(F.col(col) if isinstance(col, str) else col, path)
    return F.when(raw.rlike(r"^[\[{]"), F.lit(None)).otherwise(raw)


def json_extract(col: Column | str, path: str) -> Column:
    """Trino ``json_format(json_extract(...))``: sub-JSON serialized to string.

    ``get_json_object`` returns matched objects/arrays as their JSON text,
    which is exactly the reference's serialize-back-to-varchar behavior.
    """
    return F.get_json_object(F.col(col) if isinstance(col, str) else col, path)


def try_cast_scalar(col: Column, dtype: str) -> Column:
    """Trino ``try_cast``: NULL on conversion failure (never raises).

    Known cross-engine quirk (hypothesis-found, pinned in
    ``tests/test_properties.py::test_try_cast_matches_duckdb``): on
    sign-only spellings — ``'-'``, ``'+'``, ``'- '`` (sign then
    whitespace) — Spark returns NULL (a sign must be followed by digits)
    while DuckDB's ``TRY_CAST`` parses sign-then-whitespace as an empty
    digit string equal to 0. Trino agrees with Spark (NULL). No reference
    model casts free-form text (only JSON-extracted id/number fields), so
    the divergence is unreachable in the pipeline; the property test
    carves these spellings out of the strict parity claim.

    Three more spellings differ; the property test pins Spark's values
    for each:

    - a decimal or exponent spelling cast to BIGINT (``'0.'``, ``'1.5'``,
      ``'1e2'``): Spark accepts integer syntax only and returns NULL,
      DuckDB rounds to the nearest integer (``'0.'`` → 0, ``'1.5'`` → 2);
    - a Java type suffix ``d``/``D``/``f``/``F`` (``'0D'``, ``'1.5f'``):
      Spark's DOUBLE cast parses it as Java's ``Double.parseDouble`` does
      (``'0D'`` → 0.0), DuckDB returns NULL; both NULL it as BIGINT;
    - ``_`` digit separators (``'1_000'``): DuckDB reads 1000, Spark NULL.

    None of these is JSON number text (JSON allows no trailing dot, type
    suffix or separator), so they are engine divergences the pipeline
    cannot reach, not faults of it.
    """
    return col.try_cast(dtype)
