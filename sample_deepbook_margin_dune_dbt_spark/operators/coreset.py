"""Diversity selection: distributed k-center greedy over embeddings.

The coreset step of a training-data pipeline: pick k maximally-diverse
representatives (Gonzalez's farthest-first traversal, the classic
2-approximation for the k-center objective) — used for dataset
distillation seeds, eval-set anchors, labeling-budget allocation, and
topic-coverage audits. The reference repo's SQL-rollup surface
(reference ``models/deepbook_margin/*``) has no counterpart; this
extends SURVEY §2.10's embedding family alongside the k-means
centroids (``operators/similarity.py``) and the ANN tiers.

Iterative-algorithm shape on Spark (the same discipline as BPE
induction in ``operators/bpe.py``):

- per round, the corpus is touched by exactly ONE narrow Arrow pass
  (score every vector against the newly-selected center — the
  dimension-sequential IEEE operation order of
  ``similarity._anchor_cosines_vectorized``, so results are
  deterministic doubles, not merely close) and one ``greatest()``
  column update; no shuffle at all inside a round;
- the argmax-of-min-distance selection is a global
  ``orderBy().limit(1)`` — Spark plans TakeOrderedAndProject
  (per-partition 1-row heaps + driver merge), and the two driver
  collects per round move exactly one row each: k-bounded driver
  traffic, never corpus-bounded;
- lineage is truncated every round with ``localCheckpoint`` — k
  chained column updates would otherwise stack k Arrow stages into one
  task's plan (the BPE lesson); the checkpoint holds only
  (id, vec, max_sim), the working set a 1000-executor cluster already
  holds for the scan, and each round releases the one before it (the
  result is built on the driver, so none outlives the call);
- distances are cosine (vectors L2-normalized inside the scoring
  pass); selection compares ``floor(sim · 1e6)`` ints with id
  tiebreaks, so the chosen sequence is deterministic across runs,
  partitionings, and replays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..engine.staging import release

_E6 = 1_000_000


def _cos_to_center(center_vec: list[float]):
    """Arrow-batched cosine of every row vector against one center —
    the 1-anchor specialization of ``_anchor_cosines_vectorized``,
    reproducing its dimension-sequential accumulation order exactly."""
    q = np.asarray(center_vec, dtype=np.float64)
    qacc = 0.0
    for x in q:
        qacc += x * x
    qnorm = float(np.sqrt(qacc))

    @pandas_udf("double")
    def _cos(s: pd.Series) -> pd.Series:  # type: ignore[no-untyped-def]
        m = np.asarray([np.asarray(a, dtype=np.float64) for a in s])
        if m.shape[0] == 0:
            return pd.Series([0.0] * len(s))
        if m.ndim != 2:
            # Ragged batch (mixed vector dims): np.asarray degrades to an
            # object array. Silently returning 0.0 would corrupt _max_sim
            # for every well-formed row in the batch (ADVICE r11) — fail.
            dims = sorted({len(a) for a in s})
            raise ValueError(
                f"kcenter_greedy requires a uniform embedding dimension; "
                f"batch mixes dims {dims}"
            )
        mt = np.ascontiguousarray(m.T)
        n_rows, dim = m.shape
        nacc = np.zeros(n_rows)
        acc = np.zeros(n_rows)
        for d in range(dim):
            nacc = nacc + mt[d] * mt[d]
            acc = acc + mt[d] * q[d]
        return pd.Series(acc / (qnorm * np.sqrt(nacc)))

    return _cos


def kcenter_greedy(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
) -> DataFrame:
    """Farthest-first traversal: k diverse centers + the radius ladder.

    Output (k rows): ``(center_rank, id, dist_e6)`` where ``dist_e6``
    is the chosen point's cosine distance ``floor((1 − max_sim)·1e6)``
    to the previously-selected set at the moment of selection — rank 1
    is the deterministic seed (lowest id; dist_e6 = 2e6, the cosine-
    distance supremum, by convention — no prior set exists)
    and the sequence is non-increasing (each pick covers its
    neighborhood, so the farthest remaining point only gets closer):
    ``dist_e6`` of row j is the covering radius of the first j−1
    centers. Ties break on the lowest id, so the selection is a pure
    function of the input set.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    state = (
        vectors.filter(F.size(F.col(vec_col)) > 0)
        .select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).alias("_vec"),
        )
        .withColumn("_max_sim", F.lit(-1.0))
        .localCheckpoint()
    )

    try:
        seed = state.orderBy(F.asc("_id")).limit(1).collect()
        if not seed:
            raise ValueError("kcenter_greedy: empty vector set")
        chosen = [(int(seed[0]["_id"]), 2 * _E6)]
        center_vec = list(seed[0]["_vec"])

        while len(chosen) < k:
            sim = _cos_to_center(center_vec)(F.col("_vec"))
            updated = state.withColumn(
                "_max_sim", F.greatest(F.col("_max_sim"), sim)
            ).localCheckpoint()
            release(state)
            state = updated
            chosen_ids = [c[0] for c in chosen]
            cand = (
                state.filter(~F.col("_id").isin(chosen_ids))
                .withColumn(
                    "_dist_e6",
                    F.floor((F.lit(1.0) - F.col("_max_sim")) * _E6).cast("long"),
                )
                .orderBy(F.desc("_dist_e6"), F.asc("_id"))
                .limit(1)
                .collect()
            )
            if not cand:
                break  # fewer distinct points than k
            row = cand[0]
            chosen.append((int(row["_id"]), int(row["_dist_e6"])))
            center_vec = list(row["_vec"])
    finally:
        release(state)

    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(r + 1, cid, d) for r, (cid, d) in enumerate(chosen)],
        f"center_rank long, {id_col} long, dist_e6 long",
    )
