"""Shared pieces of the DeepBook margin models (reference ``README.md:139``)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..engine.model import ModelContext
from ..functions.json import json_extract_scalar

PACKAGE = "0x97d9473771b01f77b0940c589484184b49f6444627ec121314fae6a6d36fb86b"


def slice_floor_ms(ctx: ModelContext) -> int:
    """The ``timestamp_ms`` lower bound of a source slice: the incremental
    watermark ``coalesce(max(timestamp_ms), 0)`` of ``{{ this }}`` (P4),
    or the 30-day first-run backfill floor (P5)."""
    return ctx.watermark_ms() if ctx.is_incremental() else ctx.backfill_floor_ms()


def decode_json_fields(json_col: str, fields: list[tuple[str, str, str | None]]) -> list[Column]:
    """One column per ``(out_col, json_path, cast_type | None)``:
    ``json_extract_scalar`` (F1), ``try_cast`` when a type is given (F4)."""
    cols = []
    for out_col, path, cast_t in fields:
        c = json_extract_scalar(F.col(json_col), path)
        cols.append((c.try_cast(cast_t) if cast_t else c).alias(out_col))
    return cols
