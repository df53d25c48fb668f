"""r11 fourth-decade probe (VERDICT r10 item 2).

Part A: complete the ``dedup_clusters`` 1000x datapoint that timed out in
the r10 probe window — standalone run at 48 GB driver / sp=128 with the
DISK_ONLY fp-array staging, over the streamed ``docs0.1x1000`` fixture
(477k docs). Records rows + wall.

Part B: measure the bucketed co-location alternative named by the r10
strategy x heap x partitions matrix conclusion ("size executor memory to
the exchange, or bucket the corpus so the self-join co-locates"): write
the exploded (_id, _fp) shingle projection ONCE as a bucketed+sorted
parquet table (bucketBy(_fp) + sortBy(_fp)), then re-run the pairwise
self-intersection as a bucket-local sort-merge join (no exchange, no
sort on either side) at the 8 GB heap that every shuffle strategy failed
at. The question the matrix left open: is the 8 GB floor the *exchange +
resident hash build*, or the join itself?

Usage: python tools/probe_clusters_1000x.py [a|b|b8] [fixture_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, ".scale_fixtures", "docs0.1x1000")


def _spark(mem: str, sp: int, extra: dict | None = None):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(sp)
    from sample_deepbook_margin_dune_dbt_spark.engine.session import get_spark

    return get_spark(app_name=f"probe-clusters-1000x-{mem}-{sp}", extra_conf=extra)


def part_a(fixture: str) -> None:
    """dedup_clusters end-to-end at 48 GB / sp=128 (r10 matrix PASS point)."""
    spark = _spark("48g", 128)
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import q_dedup_clusters

    t0 = time.time()
    out = q_dedup_clusters(spark, fixture)
    n = out.count()
    wall = time.time() - t0
    n_clusters = out.select("cluster_id").distinct().count()
    print(f"PART_A dedup_clusters rows={n} clusters={n_clusters} wall={wall:.1f}s", flush=True)
    spark.stop()


def part_b(fixture: str, mem: str = "8g") -> None:
    """Bucketed co-location for the shingle self-join at the failing heap.

    Stage 1 (one exchange, the 'write the projection once' cost a real
    warehouse pays once per corpus version): explode (_id, _fp) and write
    bucketBy(128, _fp) sortBy(_fp). Stage 2: self-join two reads of the
    bucketed table — bucket-local SMJ, zero exchange, zero sort — then the
    (id_a, id_b) count agg (its shuffle carries pair rows, not shingles).
    """
    import pyspark.sql.functions as F

    from sample_deepbook_margin_dune_dbt_spark.operators.dedup import (
        _intersect_shingle_rows,
    )

    spark = _spark(mem, 128)
    docs = spark.read.parquet(os.path.join(fixture, "documents.parquet"))
    sh, sizes = _intersect_shingle_rows(docs, "doc_id", "text", 3)

    wh = os.path.join(REPO, "spark-warehouse")
    tbl = "probe_sh_bucketed_1000x"
    t0 = time.time()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        sh.write.mode("overwrite")
        .format("parquet")
        .bucketBy(128, "_fp")
        .sortBy("_fp")
        .saveAsTable(tbl)
    )
    t_write = time.time() - t0
    print(f"PART_B[{mem}] bucketed write wall={t_write:.1f}s", flush=True)

    a = spark.table(tbl).alias("a")
    b = spark.table(tbl).alias("b")
    t0 = time.time()
    inter = (
        a.join(b, (F.col("a._fp") == F.col("b._fp")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    plan = inter._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    n = inter.count()
    wall = time.time() - t0
    print(
        f"PART_B[{mem}] bucketed self-join pairs={n} wall={wall:.1f}s "
        f"exchanges_in_plan={n_exchanges}",
        flush=True,
    )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.stop()


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "a"
    fixture = sys.argv[2] if len(sys.argv) > 2 else FIXTURE
    if which == "a":
        part_a(fixture)
    elif which == "b":
        part_b(fixture, "48g")
    elif which == "b8":
        part_b(fixture, "8g")
    else:
        raise SystemExit(f"unknown part {which!r}")
