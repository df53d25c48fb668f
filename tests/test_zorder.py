"""Z-order layout contracts (``operators/zorder.py``).

Oracle parity for ``corpus_zorder_stats`` runs in ``test_oracle_parity.py``;
these pin what parity can't see: the Morton key against a Python bit-twiddle
reference, the pruning advantage of the interleaved layout over a
single-column sort on REAL written parquet footers, and the plan shape
(range exchange, no single-partition stage).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.operators import zorder as Z


def _py_morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_python_reference(spark):
    pts = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", Z.zvalue("x", "y", bits=6)).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton(x, y, 6), (x, y)


def test_zvalue_sql_twin_is_identical(spark):
    """The generated ANSI-SQL expression computes the same key in Spark's
    own SQL engine (and therefore in DuckDB — pure integer bit algebra)."""
    df = spark.createDataFrame(
        [(x, y) for x in range(0, 1024, 97) for y in range(0, 1024, 101)],
        "x long, y long",
    )
    both = df.select(
        Z.zvalue("x", "y", bits=10).alias("a"),
        F.expr(Z.sql_zvalue("x", "y", bits=10)).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def _file_stats(path: str, col: str) -> list[tuple[int, int]]:
    """(min, max) of ``col`` per parquet file, straight from the footers —
    the statistics a scan planner prunes on."""
    spans = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(names[col]).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append((lo, hi))
    return spans


def _hit_fraction(spans, lo, hi):
    live = [s for s in spans if s[0] is not None]
    return sum(1 for a, b in live if not (b < lo or a > hi)) / len(live)


def test_layout_prunes_both_dimensions(spark, tmp_path):
    """Write a 64×64 grid two ways and read back the real footer stats:
    an x-sorted layout prunes x-slices perfectly but scans every file for
    a y-slice; the z-ordered layout prunes BOTH slices to a small
    fraction of files."""
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    n_files = 16

    zpath = str(tmp_path / "zorder")
    Z.zorder_layout(grid, "x", "y", bits=6, n_files=n_files).write.parquet(zpath)
    xpath = str(tmp_path / "xsort")
    grid.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(xpath)

    # a 1/8-wide slice on each dimension
    for col, lo, hi in (("x", 8, 15), ("y", 8, 15)):
        zfrac = _hit_fraction(_file_stats(zpath, col), lo, hi)
        assert zfrac <= 0.5, (col, zfrac)
    # the single-column layout cannot prune the other dimension at all
    assert _hit_fraction(_file_stats(xpath, "y"), 8, 15) == 1.0
    assert _hit_fraction(_file_stats(xpath, "x"), 8, 15) <= 0.25


def test_layout_plan_has_range_exchange_no_single_partition(spark):
    grid = spark.range(1000).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    plan = (
        Z.zorder_layout(grid, "x", "y", bits=5, n_files=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "singlepartition" not in plan.lower()


def test_bucket_stats_bucket_arithmetic(spark):
    """Buckets are the top bits of the key: every row lands in exactly
    one bucket and bucket envelopes nest inside the global envelope."""
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    stats = Z.zorder_bucket_stats(grid, "x", "y", bits=6, bucket_bits=4).collect()
    assert sum(r["n_rows"] for r in stats) == 4096
    assert len(stats) == 16  # full grid touches every bucket
    for r in stats:
        assert 0 <= r["min_x"] <= r["max_x"] <= 63
        assert 0 <= r["min_y"] <= r["max_y"] <= 63


def test_optimize_zorder_by_lays_out_both_dims(spark, tmp_path):
    """store.optimize(zorder_by=[x, y]) rewrites an unpartitioned table
    along the Morton curve: written footer stats prune BOTH dimensions
    (the Delta OPTIMIZE ZORDER BY analog, wired through the model
    post-hook config)."""
    import pytest as _pytest

    from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
    from sample_deepbook_margin_dune_dbt_spark.engine.model import model, _REGISTRY

    store = TableStore(spark, str(tmp_path))
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    store.write_full(grid.repartition(16), "t")
    store.optimize("t", target_files=16, zorder_by=["x", "y"])
    path = store._data_dir("t")
    for col in ("x", "y"):
        frac = _hit_fraction(_file_stats(path, col), 8, 15)
        assert frac <= 0.5, (col, frac)
    assert store.read("t").count() == 64 * 64
    assert store.read("t").columns == ["x", "y"]  # no layout-key leak

    with _pytest.raises(ValueError, match="exactly two"):
        store.optimize("t", zorder_by=["x"])
    with _pytest.raises(ValueError, match="not both"):
        store.optimize("t", cluster_by=["x"], zorder_by=["x", "y"])
    with _pytest.raises(ValueError, match="not both"):
        model("zb_bad", materialized="table", cluster_by=["x"], zorder_by=["x", "y"])(
            lambda ctx: None
        )
    _REGISTRY.pop("zb_bad", None)


def test_optimize_zorder_normalizes_wide_ranges(spark, tmp_path):
    """Columns whose ranges dwarf 2^bits (timestamps-ms, big ids) must be
    min/max-normalized before interleaving — without it the Morton key
    would wrap mod 1024 and the layout would silently degenerate."""
    from sample_deepbook_margin_dune_dbt_spark.engine import TableStore

    store = TableStore(spark, str(tmp_path))
    base_ts, base_id = 1_700_000_000_000, 5_000_000_000
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64 * 3_600_000 + base_ts).alias("ts_ms"),
        ((F.col("id") / 64).cast("long") * 977 + base_id).alias("big_id"),
    )
    store.write_full(grid.repartition(16), "t")
    store.optimize("t", target_files=16, zorder_by=["ts_ms", "big_id"])
    path = store._data_dir("t")
    # a 1/8 slice of each dimension's actual range must prune files
    for col, lo, hi in (
        ("ts_ms", base_ts + 8 * 3_600_000, base_ts + 15 * 3_600_000),
        ("big_id", base_id + 8 * 977, base_id + 15 * 977),
    ):
        frac = _hit_fraction(_file_stats(path, col), lo, hi)
        assert frac <= 0.5, (col, frac)
    assert store.read("t").count() == 64 * 64
