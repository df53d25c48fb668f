"""r11: the embedding family's fourth decade (VERDICT r10 item 8).

Runs the IVF-candidate near-dup tier (`cosine_pairs_ivf` + exact
bucket-local refine) over the streamed `sf0.1x1000` embeddings fixture
(~2M rotated-copy vectors, every within-copy cosine preserved), with the
query-level planted-near-dup augmentation — the same protocol as the r9
LSH decades and the r10 1x/10x/100x IVF comparison.

The default `n_lists` cap (4096) BINDS at this scale (wanted ~62.5k):
occupancy would rise to ~2000 vs the 128 target and in-bucket pair
expansion is quadratic in occupancy — the probe therefore passes
`n_lists` explicitly at the target-occupancy sizing (the move the new
clamp WARNING tells an operator to make) and records recall against the
75 planted pairs.

Usage: python tools/probe_ivf_1000x.py [n_lists] [train_sample] [n_probes] [train_strategy] [train_iters]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, ".scale_fixtures", "sf0.1x1000")


def main(n_lists: int | None, train_sample: int, n_probes: int = 4, train_strategy: str = "driver", train_iters: int = 5) -> None:
    # default to the harness heap; overridable (the r11 run needed the
    # r10 matrix's 48 GB PASS point — the old join refine tail's hash
    # builds hit the same per-task memory floor as the shingle self-join
    # family)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "128")
    from pyspark.sql import functions as F

    from sample_deepbook_margin_dune_dbt_spark.engine.session import get_spark
    from sample_deepbook_margin_dune_dbt_spark.operators import similarity as S
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import (
        _augment_near_dups,
        _augmented_count,
    )

    spark = get_spark(app_name="probe-ivf-1000x")
    raw = load(spark, FIXTURE, "embeddings")
    emb = _augment_near_dups(raw)
    n = _augmented_count(raw)
    print(f"n_vectors={n} n_lists={n_lists} train_sample={train_sample} strategy={train_strategy}", flush=True)

    t0 = time.time()
    pairs = S.cosine_pairs_ivf(
        emb,
        "vec_id",
        "embedding",
        0.9,
        n_lists=n_lists,
        train_sample=train_sample,
        n_vectors=n,
        n_probes=n_probes,
        train_strategy=train_strategy,
        train_iters=train_iters,
    )
    rows = pairs.count()
    wall = time.time() - t0
    # recall: every planted pair is (base, base+1e6|2e6) or (1e6, 2e6) twin
    planted = pairs.filter(
        (F.col("id_b") >= 1_000_000) & (F.col("id_b") < 3_000_000)
    ).count()
    print(
        f"IVF_1000X p={n_probes} strategy={train_strategy} pairs={rows} planted={planted} wall={wall:.1f}s",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    nl = int(sys.argv[1]) if len(sys.argv) > 1 else 62502
    ts = int(sys.argv[2]) if len(sys.argv) > 2 else 125_000
    np_ = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    strat = sys.argv[4] if len(sys.argv) > 4 else "driver"
    iters = int(sys.argv[5]) if len(sys.argv) > 5 else 5
    main(nl, ts, np_, strat, iters)
