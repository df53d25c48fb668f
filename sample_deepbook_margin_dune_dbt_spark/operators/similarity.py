"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the usual ANN playbook:

- **Brute-force cosine** (`cosine_topk`, `cosine_pairs`): exact, O(N·Q).
  `cosine_pairs` folds the dot product in a single Catalyst ``aggregate``
  over zipped arrays — JVM-side, no Python — and is the verification
  reference for the pair tiers; `cosine_topk` scores the corpus against a
  closure-shipped anchor matrix in one Arrow pass at the fold's exact
  IEEE operation order.
- **Hyperplane-LSH bucketed ANN** (`lsh_ann_topk`): random-hyperplane
  signatures (SimHash for vectors) shard vectors into buckets; queries only
  score their own bucket (plus optional multi-probe neighbors). At 100 TB
  this is the difference between a full cross join and a bucket-local join:
  shuffle is on the bucket key, each bucket is independent, and recall is
  tunable by signature bits / probes.

All math is on doubles with a fixed left-to-right summation order so an
external engine (DuckDB oracle) reproduces values bit-for-bit.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def _plane_weights(dim: int, planes: int, plane_offset: int = 0) -> list[list[float]]:
    """Hyperplane weight matrix (planes × dim), computed once driver-side.

    Each plane is an independent standard-normal direction drawn from a
    PCG64 stream seeded by the ABSOLUTE plane index, so plane p is the
    same vector for every (planes, plane_offset) window and every dim
    prefix — callers can band, window, or widen without changing existing
    planes. Gaussian components make directions uniform on the sphere
    AND planes mutually independent; the r1–r7 sin-lattice family
    (``sin(1 + (p·7919 + d·104729) mod M)``) was neither — adjacent
    planes correlated as cos(7919 mod 2π)/2 ≈ −0.39, so a k-plane band
    had far fewer than k effective bits and band-collision rates ran
    ~11× the independence model (measured r8 on the 10× embeddings
    fixture: 95M observed bucket pairs vs 8.7M modeled; PERF.md).

    Both signature paths (Catalyst expression and vectorized pandas_udf)
    consume these exact float64 literals, so their projections differ only
    in summation order — and therefore agree on the sign (the signature bit)
    unless a projection sits within float-rounding of zero, which the
    parity test rules out empirically.
    """
    return [
        np.random.Generator(np.random.PCG64(1_000_003 * (p + plane_offset) + 17))
        .standard_normal(dim)
        .tolist()
        for p in range(planes)
    ]


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _window_topk(
    scored: DataFrame,
    k: int,
    score_col: str = "cosine",
    ascending: bool = False,
    id_col: str = "neighbor_id",
) -> DataFrame:
    """row_number-over-window ranking — the oracle twin of ``_bounded_topk``.

    Buffers every candidate of a query in one sort partition; exactly the
    shape the DuckDB oracle SQL expresses, so it stays as the
    cross-checkable reference implementation (and the plan of record at
    small candidate fan-in)."""
    order = [
        F.asc(score_col) if ascending else F.desc(score_col),
        F.asc(id_col),
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _bounded_topk(
    scored: DataFrame,
    k: int,
    score_col: str = "cosine",
    ascending: bool = False,
    id_col: str = "neighbor_id",
    keep_cols: tuple[str, ...] = (),
    n_salts: int = 32,
) -> DataFrame:
    """Per-query top-k by two-level bounded aggregation (VERDICT r2 #7).

    ``row_number`` over ``Window.partitionBy(query_id)`` sorts and buffers
    EVERY candidate of a query in one task — the failure mode at extreme
    candidate fan-in (a hot query × a big bucket). Here candidates first
    reduce within (query, salt-of-neighbor) cells — hash aggregation with
    map-side partials, each cell keeping only its local top-k via
    ``slice(sort_array(collect_list(...)))`` — then the ≤ k·n_salts
    survivors per query merge to the final top-k. No full-candidate sort,
    no unbounded window buffer; ties break on ascending ``id_col`` exactly
    like the window twin, so results are row-identical (asserted in
    tests/test_operators.py) and the driver's row_number-based oracle SQL
    still hash-matches.

    Caveat: a NaN score sorts FIRST under the window twin's ``desc`` but
    LAST here (the negated key keeps NaN greatest under asc) — irrelevant
    for cosine over non-zero vectors, where the score is never NaN.
    """
    sort_key = F.col(score_col) if ascending else -F.col(score_col)
    item = F.struct(
        sort_key.alias("_key"),
        F.col(id_col).alias("_id"),
        F.col(score_col).alias("_score"),
        *[F.col(c).alias(c) for c in keep_cols],
    )
    first = (
        scored.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        .groupBy("query_id", "_salt")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("_top"))
    )
    return (
        first.groupBy("query_id")
        .agg(F.slice(F.sort_array(F.flatten(F.collect_list("_top"))), 1, k).alias("_top"))
        .select("query_id", F.posexplode("_top").alias("_pos", "_it"))
        .select(
            "query_id",
            F.col("_it._id").alias(id_col),
            F.col("_it._score").alias(score_col),
            *[F.col(f"_it.{c}").alias(c) for c in keep_cols],
            (F.col("_pos") + 1).alias("rank"),
        )
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, cross-join).

    Output: (id_a, id_b, cosine), id_a < id_b. Quadratic — the
    verification oracle and within-bucket scorer ONLY. Any corpus-scale
    caller should use ``cosine_pairs_lsh``, which produces the same pairs
    through banded-LSH candidates without the cross join.
    """
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), _norm(F.col(vec_col)).alias("_na")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), _norm(F.col(vec_col)).alias("_nb")
    )
    # norms precomputed once per row (not once per pair): same arithmetic,
    # O(N·d) instead of O(N²·d) norm work
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (brute force).

    Output: (query_id, neighbor_id, cosine, rank). Deterministic tie-break
    on neighbor id. Every vector is scored against the closure-shipped
    anchor matrix in one Arrow pass (bit-parity contract with the
    ``_dot``/``_norm`` fold in :func:`_anchor_cosines_vectorized`).
    """
    anchors = queries.select(query_id_col, vec_col).collect()
    scored = _anchor_cosines_vectorized(vectors, id_col, vec_col, anchors).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _bounded_topk(scored, k).select("query_id", "neighbor_id", "cosine", "rank")


def _anchor_cosines_vectorized(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    anchors: list,
) -> DataFrame:
    """(neighbor_id, query_id, cosine) rows: every vector scored against
    the closure-shipped anchor matrix in ONE Arrow batch pass (a
    crossJoin(broadcast) × interpreted-HOF form measured ~29 s for 10
    anchors at the 100× embeddings fixture; this path is one narrow map).

    BIT-parity with ``_dot``/``_norm``: the numpy accumulation runs
    dimension-sequentially (``acc = acc + M[:, d] * q[d]``), reproducing
    the HOF fold's exact IEEE operation order per row — same products,
    same addition sequence, same sqrt and division — so the doubles (and
    the floor-e6 projection computed downstream by a Catalyst
    expression) equal the DuckDB oracle's, not merely come close. Pinned
    by the ``ann_cosine_topk`` / ``emb_hard_negatives`` oracle hashes;
    anchors are |queries|-bounded by contract (driver-side list,
    closure-shipped like the Bloom filter words).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qids = [int(r[0]) for r in anchors]
    qvecs = [np.asarray(list(r[1]), dtype=np.float64) for r in anchors]
    qnorms = []
    for qv in qvecs:
        acc = 0.0
        for x in qv:
            acc += x * x
        qnorms.append(float(np.sqrt(acc)))

    @pandas_udf("array<double>")
    def _cos(s: pd.Series) -> pd.Series:  # type: ignore[no-untyped-def]
        m = np.asarray([np.asarray(a, dtype=np.float64) for a in s])
        n_rows, dim = m.shape if m.ndim == 2 else (len(s), 0)
        if n_rows == 0 or dim == 0:
            return pd.Series([[] for _ in range(len(s))])
        # dim-major contiguous layout: the d-sequential loops read mt[d]
        # contiguously instead of striding the row-major matrix (same
        # values, same IEEE operation order — layout, not math)
        mt = np.ascontiguousarray(m.T)
        nacc = np.zeros(n_rows)
        for d in range(dim):
            nacc = nacc + mt[d] * mt[d]
        norms = np.sqrt(nacc)
        res = np.empty((n_rows, len(qvecs)))
        for j, qv in enumerate(qvecs):
            acc = np.zeros(n_rows)
            for d in range(dim):
                acc = acc + mt[d] * qv[d]
            res[:, j] = acc / (qnorms[j] * norms)
        return pd.Series([row.tolist() for row in res])

    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    return (
        vectors.filter(F.size(F.col(vec_col)) > 0)
        .select(F.col(id_col).alias("neighbor_id"), _cos(F.col(vec_col)).alias("_cs"))
        .select("neighbor_id", F.posexplode("_cs").alias("_pos", "cosine"))
        .select(
            F.element_at(qid_arr, F.col("_pos") + 1).alias("query_id"),
            "neighbor_id",
            "cosine",
        )
    )


def max_cosine_vs_anchors(
    vectors: DataFrame,
    anchors_df: DataFrame,
    id_col: str,
    vec_col: str,
    anchor_vec_col: str,
) -> DataFrame:
    """(id, max_cosine): each vector's maximum cosine against an anchor
    set — the semantic-decontamination / benchmark-proximity screen shape.

    The anchor matrix ships in an Arrow UDF closure and a RUNNING max
    across anchors is kept inside the batch pass — O(rows) working memory
    however many anchors (unlike materializing the full rows × anchors
    cosine frame), one narrow map, no corpus shuffle. Per-anchor cosines
    reproduce the ``_dot``/``_norm`` fold's IEEE operation order exactly
    (the :func:`_anchor_cosines_vectorized` contract — IEEE
    multiplication commutes, so the denominator's factor order is
    immaterial), and the max of identical doubles is order-independent,
    so the DuckDB oracle's crossJoin + MAX form hash-matches.
    """
    from pyspark.sql.functions import pandas_udf

    rows = anchors_df.select(anchor_vec_col).collect()
    qvecs = [np.asarray(list(r[0]), dtype=np.float64) for r in rows]
    if not qvecs:
        # the oracle's crossJoin form returns zero rows against an empty
        # anchor set; a silent -inf-per-row answer would diverge, so
        # an empty benchmark is a caller error here
        raise ValueError("max_cosine_vs_anchors: empty anchor set")
    qnorms = []
    for qv in qvecs:
        acc = 0.0
        for x in qv:
            acc += x * x
        qnorms.append(float(np.sqrt(acc)))

    q_mat = np.asarray(qvecs)  # (n_anchors, dim)
    qn_arr = np.asarray(qnorms)
    q_dim = int(q_mat.shape[1])

    @pandas_udf("double")
    def _maxcos(s: pd.Series) -> pd.Series:  # type: ignore[no-untyped-def]
        n_rows = len(s)
        if n_rows == 0:
            return pd.Series([], dtype="float64")
        # per-row degenerate masking (null / dim-mismatched embeddings
        # get NaN individually) so one bad row can't poison its whole
        # Arrow batch — results must not depend on batch composition
        m = np.zeros((n_rows, q_dim))
        valid = np.zeros(n_rows, dtype=bool)
        for i, a in enumerate(s):
            if a is None:
                continue
            v = np.asarray(a, dtype=np.float64)
            if v.ndim == 1 and v.shape[0] == q_dim:
                m[i] = v
                valid[i] = True
        # dim-major contiguous layout: the d-sequential loops read
        # mt[d] contiguously instead of striding a row-major matrix
        # (same values, same operation order — layout, not math)
        mt = np.ascontiguousarray(m.T)
        nacc = np.zeros(n_rows)
        for d in range(q_dim):
            nacc = nacc + mt[d] * mt[d]
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.sqrt(nacc)
            best = np.full(n_rows, -np.inf)
            for j in range(q_mat.shape[0]):
                qv, qn = q_mat[j], qn_arr[j]
                acc = np.zeros(n_rows)
                for d in range(q_dim):
                    acc = acc + mt[d] * qv[d]
                best = np.maximum(best, acc / (qn * norms))
        best[~valid] = np.nan
        return pd.Series(best)

    return vectors.select(
        F.col(id_col), _maxcos(F.col(vec_col)).alias("max_cosine")
    )


def cosine_hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 5,
    max_cosine_e6: int = 980_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the ``k``
    MOST similar vectors that are NOT near-duplicates.

    Contrastive embedding training (and reranker distillation) wants, per
    anchor, negatives that are as close as possible to the decision
    boundary — the nearest neighbors AFTER excluding positives/near-dups.
    The exclusion threshold is applied on the fixed-point projection
    ``floor(cosine * 1e6) < max_cosine_e6`` so the band edge is an integer
    comparison identical on both engines (same floor contract as the ANN
    oracles) rather than a float ``<`` at the rounding boundary.

    Scale shape: identical to :func:`cosine_topk` — anchors broadcast,
    one corpus scan, the band filter runs before the two-level bounded
    top-k, so no task buffers more than its per-salt heap. Production
    path at 100 TB swaps the exact scan for the IVF/LSH candidate
    generator and keeps this band + top-k tail unchanged.
    """
    # |queries|-bounded driver list, closure-shipped to one Arrow pass
    # (see _anchor_cosines_vectorized for the parity contract)
    anchors = queries.select(query_id_col, vec_col).collect()
    scored = _anchor_cosines_vectorized(vectors, id_col, vec_col, anchors).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = scored.withColumn(
        "cosine_e6", F.floor(F.col("cosine") * 1e6).cast("long")
    ).filter(F.col("cosine_e6") < max_cosine_e6)
    return _bounded_topk(scored, k, keep_cols=("cosine_e6",)).select(
        "query_id", "neighbor_id", "cosine_e6", "rank"
    )


def ensure_k_neighbors(
    out: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Guarantee exactly ``k`` neighbors per query (probe escalation).

    LSH/IVF probing does not algorithmically guarantee ≥ k candidates in
    the probed buckets — it holds empirically for a given dataset and
    parameterization, and a regenerated or rescaled corpus can break it
    (ADVICE r4). Production ANN services escalate on a miss; here the
    escalation is the exact scan: queries whose approximate result has
    fewer than ``k`` rows are re-answered by ``cosine_topk`` (brute
    force), the rest keep their approximate lists untouched.

    The deficit probe is one bounded aggregate over the output (≤
    |queries|·k rows) and a driver-side collect of at most |queries| ids
    — the parameterize-the-scan pattern, never a corpus-side collect.
    The exact fallback scans the corpus only when a deficit exists, and
    only for the deficient queries (broadcast on the query side).

    The approximate result materializes ONCE via ``localCheckpoint``
    (it is ≤ |queries|·k rows — trivially bounded): without it, the
    probe executes the whole upstream ANN pipeline and the caller's
    action executes it again (measured 2×: 0.78 s of a 2.2 s IVF-PQ
    query was this double execution). Lazy (r14): the eager default ran
    the materialization as its own job; deferring it folds it into the
    deficit-probe collect — same single materialization, one fewer
    scheduled action per ANN query.
    """
    out = out.localCheckpoint(eager=False)
    counts = (
        queries.select(F.col(query_id_col).alias("query_id"))
        .join(
            out.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n")),
            "query_id",
            "left",
        )
        .filter(F.coalesce(F.col("_n"), F.lit(0)) < k)
        .select("query_id")
    )
    deficit = [r[0] for r in counts.collect()]  # bounded by |queries|
    if not deficit:
        return out
    dq = queries.filter(F.col(query_id_col).isin(deficit))
    exact = cosine_topk(vectors, dq, id_col, vec_col, query_id_col, k=k)
    kept = out.filter(~F.col("query_id").isin(deficit))
    return kept.unionByName(exact)


def hyperplane_signature(
    vec_col: F.Column, dim: int, planes: int = 8, plane_offset: int = 0
) -> F.Column:
    """Random-hyperplane LSH signature (bigint in [0, 2^planes)).

    Bit p = 1 iff Σ_d v[d]·w(p,d) > 0 with the deterministic weights above.
    Pure Catalyst expression — usable for bucketing in any join/groupBy —
    but the expression tree carries ``planes × dim`` literal weights, so
    codegen blows up at production embedding dims. Use
    ``hyperplane_signature_vectorized`` (bit-identical on real data; parity
    asserted in tests) when ``dim × planes`` is large; the default cutover
    lives in callers like ``cosine_pairs_lsh``.
    """
    weights = _plane_weights(dim, planes, plane_offset)
    sig = None
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(w) for w in weights[p]]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else (sig + bit)
    return sig


def hyperplane_signature_vectorized(
    vec_col: Column | str, dim: int, planes: int = 8, plane_offset: int = 0
) -> Column:
    """Vectorized twin of ``hyperplane_signature``: one NumPy matmul per
    Arrow batch instead of ``planes × dim`` scalar expression nodes.

    At production dims (768–4096) the expression form emits tens of
    thousands of codegen literals per plane set; here the weight matrix is
    baked into the UDF closure once and each batch is a single
    ``X @ W.T > 0`` — the standard Arrow-batched escape hatch when Catalyst
    expression size becomes the bottleneck. Same deterministic weights, so
    signatures agree with the expression path bit-for-bit (asserted in
    ``tests/test_operators.py``).
    """
    from pyspark.sql.functions import pandas_udf

    w_t = np.array(_plane_weights(dim, planes, plane_offset), dtype=np.float64).T
    bit_values = (2 ** np.arange(planes)).astype(np.int64)

    @pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(((x @ w_t) > 0.0) @ bit_values)

    return _sig(vec_col)


def band_signatures(
    vec_col: Column | str, dim: int, band_planes: int, bands: int
) -> Column:
    """Array of ``bands`` independent LSH band keys (array<long>), one
    matmul for all ``bands × band_planes`` planes.

    Band b uses planes [b·band_planes, (b+1)·band_planes) of the same
    deterministic family, so bands are independent hash tables — the
    minhash-banding construction applied to hyperplane signatures. Vectorized
    (Arrow batch × NumPy) because the all-bands plane count is exactly the
    regime where the expression path's codegen falls over.
    """
    from pyspark.sql.functions import pandas_udf

    total = band_planes * bands
    w_t = np.array(_plane_weights(dim, total), dtype=np.float64).T  # dim × total
    bit_values = (2 ** np.arange(band_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _sigs(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        bits = (x @ w_t) > 0.0  # n × total
        keys = bits.reshape(len(x), bands, band_planes) @ bit_values  # n × bands
        return pd.Series(list(keys.astype(np.int64)))

    return _sigs(vec_col)


def lsh_autotune(
    n: int,
    threshold: float,
    target_bucket: int = 32,
    miss_prob: float = 3e-4,
) -> tuple[int, int]:
    """Size (band_planes, bands) for ``cosine_pairs_lsh`` from corpus
    size and threshold — the LSH S-curve made explicit.

    Bucket-pair work is the quadratic axis: with ``p`` planes a band has
    ``2^p`` keys, so random-bucket occupancy is ~``n / 2^p`` and
    within-bucket pair expansion grows with its SQUARE. Fixed planes
    therefore scale quadratically in n — measured r8 on a 10× embeddings
    fixture: the fixed (6, 16) defaults went from 4.8 s to >20 min
    (PERF.md). Holding ``n / 2^p ≈ target_bucket`` (planes =
    ⌈log2(n / target_bucket)⌉) makes candidate volume ~linear in n.

    More planes cut per-band recall, so bands must rise to compensate —
    the linear axis: a true pair at cosine = ``threshold`` collides in
    one band with p_band = (1 − acos(threshold)/π)^planes, and bands are
    chosen so missing ALL of them has probability ≤ ``miss_prob``
    (bands = ⌈ln miss_prob / ln(1 − p_band)⌉). Bands multiply the
    exploded id rows and signature matmul width only — cheap versus
    quadratic buckets.

    Clamps: planes ∈ [4, 24] (2^24 keys ≈ 16M buckets serves ~500M
    vectors at the default target; beyond that raise target_bucket),
    bands ∈ [8, 64]. A BINDING clamp is warned about (ADVICE r8): a
    planes clamp at 24 means bucket occupancy — and so pair work — grows
    linearly past ~500M vectors at the default target; a bands clamp at
    64 means the documented ≤ ``miss_prob`` all-bands miss bound no
    longer holds (the warning reports the achievable bound).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    want_planes = max(4, math.ceil(math.log2(max(n, 1) / target_bucket)))
    planes = min(24, want_planes)
    if want_planes > planes:
        warnings.warn(
            f"lsh_autotune: planes clamped {want_planes}->{planes}; bucket "
            f"occupancy ~{max(n, 1) / 2**planes:.0f} exceeds target_bucket="
            f"{target_bucket} — raise target_bucket or shard the corpus",
            stacklevel=2,
        )
    p_plane = 1.0 - math.acos(threshold) / math.pi
    p_band = p_plane**planes
    want_bands = max(8, math.ceil(math.log(miss_prob) / math.log1p(-p_band)))
    bands = min(64, want_bands)
    if want_bands > bands:
        achievable = (1.0 - p_band) ** bands
        warnings.warn(
            f"lsh_autotune: bands clamped {want_bands}->{bands}; the "
            f"documented miss bound {miss_prob:g} is void at threshold="
            f"{threshold} (achievable all-bands miss ≈ {achievable:.2g})",
            stacklevel=2,
        )
    return planes, bands


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    band_planes: int | None = None,
    bands: int | None = None,
    max_bucket_size: int = 10_000,
    n_vectors: int | None = None,
) -> DataFrame:
    """Scale-safe near-duplicate pairs: banded-LSH candidates + exact refine.

    The production replacement for ``cosine_pairs``'s all-pairs cross join:

    1. Every vector gets ``bands`` independent band keys (one vectorized
       matmul). Rows explode to (band, key, id, vector).
    2. Bucket-collect per (band, key) — same no-self-join construction as
       ``minhash_lsh_candidates``: the signature pipeline runs ONCE and pair
       expansion happens inside each bucket. Buckets above
       ``max_bucket_size`` are dropped (a degenerate bucket means the band
       hashes collapsed, e.g. all-zero vectors — exact dedup's job, not
       LSH's); ``lsh_bucket_stats`` reports what a cap would drop.
    3. The vectors ride into their buckets, so verification is
       bucket-local (:func:`_bucket_local_verified_pairs`): in-task
       pairwise cosines at the ``_dot`` fold's exact IEEE order, and only
       threshold survivors exchange again. ONE corpus × ``bands``
       exchange, linear in the corpus. The r11 fourth-decade probe showed
       the older candidate×vector join tail filling a 250 GB disk at ~10⁹
       candidates; the bucket-local tail completes there and is ~2.3×
       faster at bench scale too (0.95 s vs 2.17 s warm, sf0.1).

    ``band_planes``/``bands`` default to :func:`lsh_autotune` — planes
    track log2(n) so bucket occupancy (the quadratic axis) stays constant
    and candidate volume scales ~linearly, bands rise with planes so the
    all-bands miss probability for a pair AT the threshold stays ≤ 3e-4
    (r8: the previous fixed (6, 16) defaults were quadratic in n —
    4.8 s → >20 min on a 10× corpus, PERF.md). Auto-sizing costs one
    ``df.count()`` job unless the caller passes ``n_vectors`` (or pins
    both knobs explicitly). Deterministic weights → for a fixed corpus
    and parameters the recall outcome is fixed, and the planted-pair test
    pins it at 1.0.
    Shuffles: one groupBy on (band, key) plus the survivors' dedup — no
    cross join, no BNLJ, no join at all (asserted in tests/test_plans.py).
    """
    if band_planes is None or bands is None:
        n = n_vectors if n_vectors is not None else df.count()
        auto_planes, auto_bands = lsh_autotune(n, threshold)
        band_planes = band_planes if band_planes is not None else auto_planes
        bands = bands if bands is not None else auto_bands
    ids = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.posexplode(
            band_signatures(F.col(vec_col), dim, band_planes, bands)
        ).alias("_band", "_key"),
    )
    buckets = (
        ids.groupBy("_band", "_key")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_v"))).alias("items"))
        .filter((F.size("items") > 1) & (F.size("items") <= max_bucket_size))
        .select(
            F.transform("items", lambda s: s["_id"]).alias("ids"),
            F.transform("items", lambda s: s["_v"]).alias("vecs"),
        )
    )
    return _bucket_local_verified_pairs(buckets, threshold)


def _mm_block_rows(k: int, budget_bytes: int = 1 << 26) -> int:
    """Row-block size whose (block × k) float64 distance intermediate
    stays under ``budget_bytes`` (default 64 MB), floored at 128 rows so
    BLAS still amortizes. The r11 fourth-decade probe found the fixed
    16384-row block OOM-killing the host at n_lists = 62 502 (8.2 GB
    per Python worker × 32 workers) — the same bug class as the r10
    benchmark-broadcast finding: an intermediate scaling with a tuning
    knob instead of being budgeted."""
    return max(128, min(16384, budget_bytes // (8 * max(k, 1))))


def _top_cells_mm(
    x: "np.ndarray", centers: "np.ndarray", n_probes: int, block: int | None = None
) -> "np.ndarray":
    """Indices of each row's ``n_probes`` nearest centers by squared L2,
    via the ``−2xCᵀ + ‖c‖²`` matmul expansion (BLAS; the per-row ``‖x‖²``
    term is constant within a row so it can't change the ordering),
    evaluated in row blocks to bound the (block × k) intermediate —
    block rows budgeted by :func:`_mm_block_rows` so worker memory stays
    ~64 MB at ANY ``n_lists``.

    This is the FAST distance path for the IVF pair-candidate tier, where
    cell assignment only needs to be *consistent across rows of the same
    run* (both members of a near-dup pair must rank cells identically —
    they do, their inputs are near-identical), not bit-stable against the
    reference broadcast form ``_sq_dists`` (which the PQ tier keeps for
    its pinned codebooks). At k = 4096 lists the broadcast form is ~dim×
    the flops and non-BLAS — minutes per Lloyd iteration vs ~a second.
    """
    if block is None:
        block = _mm_block_rows(len(centers))
    cc = (centers * centers).sum(1)[None, :]
    out = np.empty((len(x), n_probes), dtype=np.int32)
    for i in range(0, len(x), block):
        d = x[i : i + block] @ centers.T
        d *= -2.0
        d += cc
        if n_probes == 1:
            out[i : i + block, 0] = d.argmin(1).astype(np.int32)
        else:
            part = np.argpartition(d, n_probes - 1, axis=1)[:, :n_probes]
            row = np.arange(len(part))[:, None]
            order = np.argsort(d[row, part], axis=1)
            out[i : i + block] = part[row, order].astype(np.int32)
    return out


def _np_kmeans_fast(
    x: "np.ndarray", k: int, iters: int = 10, seed: int = 42
) -> "np.ndarray":
    """Lloyd's k-means tuned for LARGE k (thousands of coarse cells):
    BLAS matmul assignment (:func:`_top_cells_mm`) + bincount centroid
    updates — O(n·dim) per iteration with no per-cluster Python loop.
    Used by the IVF pair-candidate tier; the PQ tier keeps
    :func:`_np_kmeans` whose broadcast distances its codebook pins
    depend on. Empty clusters keep their previous centroid."""
    rng = np.random.RandomState(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].astype(
        np.float64
    )
    if len(centers) < k:
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]
    dim = x.shape[1]
    for _ in range(iters):
        assign = _top_cells_mm(x, centers, 1)[:, 0]
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, dim))
        for d in range(dim):
            sums[:, d] = np.bincount(assign, weights=x[:, d], minlength=k)
        nz = counts > 0
        centers[nz] = sums[nz] / counts[nz][:, None]
    return centers


def _distributed_spherical_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 5,
    seed: int = 42,
) -> "np.ndarray":
    """Distributed Lloyd training for LARGE coarse quantizers (r12,
    VERDICT r11 item 3): the driver-sample trainer hits a hard wall —
    balanced cells need ≥ ~16 samples/center (PERF.md r11 finding 3),
    so ``n_lists = 62k`` demands a ≥ 1M-row driver collect AND a
    driver-core-bound Lloyd loop. Here every round is one Arrow corpus
    pass (the BPE-loop discipline):

    1. centers ship executor-side in closure (k × dim × 8 B — 32 MB at
       62.5k × 64, far under the broadcast ceiling, and bounded by the
       TUNING KNOB, not the corpus — the r10 broadcast-contract rule);
    2. ``mapInPandas`` assigns each partition's vectors to their nearest
       cell (:func:`_top_cells_mm` — byte-budgeted blocks) and emits ONE
       partial row per (partition, nonempty cell): (cell, count,
       sum_vec) — ≤ k rows per partition however large the partition;
    3. ``applyInPandas`` over ``cell`` folds partials (≤ n_partitions
       rows per group) into the new centroid; empty cells keep their
       previous centroid (the `_np_kmeans_fast` rule).

    Per-round cost: one corpus matmul pass + a ≤ k·partitions-row
    shuffle of (cell, count, dim-array) partials — linear in the corpus
    and in k, never a driver collect of the training set. Trade,
    documented honestly: cross-partition float64 partial sums make the
    trained centers reproducible only up to partitioning (ulp-level
    drift), unlike the bit-deterministic driver trainer — fine for a
    candidate GENERATOR whose output pairs are verified by exact
    cosine, which is why ``train_strategy='driver'`` (bit-stable,
    hash-pinned) stays the default and this is the opt-in scale path.

    Init: k rows by deterministic hash-order sample (driver holds only
    the k × dim init matrix). Returns the trained centers ndarray.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from .sampling import hash_uniform

    dim = len(df.select(vec_col).first()[0])
    # init sample: threshold-filter on the hash uniform, NOT orderBy+limit
    # — a global TakeOrdered at k = tens of thousands ships k rows PER
    # TASK to the driver (measured r12: 573 tasks × 62.5k rows blew the
    # 1 GB maxResultSize on the 2M fixture); the filter prunes
    # executor-side so the collect is ~1.5k·dim·8 B total. The top-k-by-u
    # within the oversample keeps init deterministic for a given corpus.
    n_total = df.count()
    frac = min(1.0, 1.5 * k / max(n_total, 1))
    init_rows = df.select(
        F.col(vec_col).cast("array<double>").alias("v"),
        hash_uniform(id_col, f"ivf-dist-init-{seed}").alias("u"),
    ).filter(F.col("u") < F.lit(frac)).collect()
    init_rows.sort(key=lambda r: r["u"])
    init_rows = init_rows[:k]
    if not init_rows:
        raise ValueError(
            "distributed k-means: empty init sample (empty input?)"
        )
    x0 = np.array([r["v"] for r in init_rows], dtype=np.float64)
    n0 = np.linalg.norm(x0, axis=1, keepdims=True)
    centers = x0 / np.where(n0 == 0.0, 1.0, n0)
    if len(centers) < k:
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]

    partial_schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
        ]
    )
    centroid_schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("c", ArrayType(DoubleType())),
        ]
    )
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))

    def _make_partials(_cc):
        # one-arg closure: mapInPandas calls fn(batch_iterator)
        def _partials(batches):
            acc_n = np.zeros(len(_cc), dtype=np.int64)
            acc_s = np.zeros((len(_cc), dim))
            for pdf in batches:
                if not len(pdf):
                    continue
                xx = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                nn = np.linalg.norm(xx, axis=1, keepdims=True)
                xx = xx / np.where(nn == 0.0, 1.0, nn)
                assign = _top_cells_mm(xx, _cc, 1)[:, 0]
                acc_n += np.bincount(assign, minlength=len(_cc))
                for d in range(dim):
                    acc_s[:, d] += np.bincount(
                        assign, weights=xx[:, d], minlength=len(_cc)
                    )
            nz = np.nonzero(acc_n)[0]
            # dtype=object even when empty: an EMPTY partition otherwise
            # yields a float64 "s" column, and Arrow's NumPyConverter
            # cannot cast that to list<double> (measured r12 on the 2M
            # fixture — 573 input splits, some empty after the scan)
            yield pd.DataFrame(
                {
                    "cell": nz.astype(np.int32),
                    "n": acc_n[nz],
                    "s": pd.Series(list(acc_s[nz]), dtype=object),
                }
            )

        return _partials

    def _fold(pdf):
        # one-arg closure: a two-parameter fn would be called (key, pdf)
        cell = int(pdf["cell"].iloc[0])
        n = int(pdf["n"].sum())
        c = np.sum(np.stack(pdf["s"].to_numpy()), axis=0) / n
        return pd.DataFrame({"cell": [cell], "c": pd.Series([c], dtype=object)})

    for _ in range(iters):
        updated = (
            vecs.mapInPandas(_make_partials(centers), schema=partial_schema)
            .groupBy("cell")
            .applyInPandas(_fold, schema=centroid_schema)
            .collect()
        )
        centers = centers.copy()
        for r in updated:
            centers[r["cell"]] = np.asarray(r["c"], dtype=np.float64)
    return centers


def _train_ivf_centers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    *,
    train_sample: int = 100_000,
    seed: int = 42,
    train_strategy: str = "driver",
    train_iters: int = 5,
    n: int = 0,
    caller: str = "cosine_pairs_ivf",
    salt: str = "ivf-pairs-train",
) -> "np.ndarray":
    """Spherical-k-means coarse quantizer training shared by the IVF
    candidate tiers (``cosine_pairs_ivf``, ``bitext.mine_parallel_pairs``
    strategy='ivf'). Semantics identical to the inline r12 code this was
    extracted from: ``'driver'`` trains on a hash-bounded deterministic
    sample (bit-stable centers — the ``hash_uniform`` sample sorted by
    id); ``'distributed'`` runs Arrow-batched Lloyd rounds over the full
    corpus (no driver collect; centers reproducible only up to
    partitioning)."""
    from .sampling import hash_uniform

    if train_strategy == "distributed":
        if n == 0:
            raise ValueError(
                f"{caller}: no vectors to train on (empty input) — "
                "the IVF tier needs a non-empty corpus"
            )
        return _distributed_spherical_kmeans(
            df, id_col, vec_col, min(n_lists, n), iters=train_iters, seed=seed
        )
    if train_strategy != "driver":
        raise ValueError(
            f"train_strategy must be 'driver' or 'distributed', got "
            f"{train_strategy!r}"
        )
    # bounded deterministic sample, bit-stable centers (hash-pinned)
    frac = min(1.0, 1.25 * train_sample / max(n, 1))
    sample = (
        df.select(
            F.col(id_col).alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
            hash_uniform(id_col, salt).alias("u"),
        )
        .filter(F.col("u") < F.lit(frac))
        .collect()
    )
    sample.sort(key=lambda r: r["i"])
    if not sample:
        raise ValueError(
            f"{caller}: no vectors to train on (empty input or an "
            "all-filtered training sample) — the IVF tier needs a non-empty "
            "corpus; use the exact tier for degenerate inputs"
        )
    x = np.array([r["v"] for r in sample[:train_sample]], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0.0, 1.0, norms)
    return _np_kmeans_fast(x, min(n_lists, len(x)), seed=seed)


def _cell_assign_udf(centers: "np.ndarray", n_probes: int):
    """Pandas UDF mapping a vector column to its ``n_probes`` nearest
    coarse cells (L2-normalized first — cosine geometry; see
    ``cosine_pairs_ivf`` step 2). One Arrow pass, centers closure-shipped
    (n_lists × dim float64 — bounded by the tuning knob)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        xx = np.stack(v.to_numpy()).astype(np.float64)
        nn = np.linalg.norm(xx, axis=1, keepdims=True)
        xx = xx / np.where(nn == 0.0, 1.0, nn)
        return pd.Series(list(_top_cells_mm(xx, centers, n_probes)))

    return _cells


def cosine_pairs_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_lists: int | None = None,
    n_probes: int = 4,
    max_bucket_size: int = 10_000,
    train_sample: int = 100_000,
    target_occupancy: int = 128,
    seed: int = 42,
    n_vectors: int | None = None,
    train_strategy: str = "driver",
    train_iters: int = 5,
) -> DataFrame:
    """Near-duplicate pairs via IVF (coarse k-means) candidates + the same
    bucket-local exact refine as :func:`cosine_pairs_lsh` — the opt-in
    candidate generator the 100 TB contract promises for the embedding
    near-dup tier (VERDICT r9 item 2: measure the asserted swap).

    Verification is bucket-local (:func:`_bucket_local_verified_pairs`):
    vectors ride into their buckets (ONE corpus×n_probes exchange, linear
    in the corpus), pairwise cosines are computed in-task with the exact
    IEEE operation order of ``_dot``/``_norm``, and only survivors + a
    survivor-sized distinct ever exchange again — the FAISS-style in-cell
    verification. The quadratic candidate work becomes CPU, never
    network/disk: at the fourth decade (2M vectors) it completed in
    ~360 s ON THE 8 GB DEFAULT HEAP where the older candidate×vector
    join tail filled the host disk, and it is ~2.7× faster even at bench
    scale (0.96 s vs 2.63 s warm at sf0.1).

    ``n_probes=4`` is the MEASURED operating point (PERF.md r10, 100×/
    500k vectors): p=2 ran 370 s but recalled only 69/75 planted pairs —
    the misses are the loosest planted duplicates (cos 0.917, right at
    the 0.9 threshold), where two near-boundary vectors can rank 4096
    fine cells into disjoint 2-probe sets; p=4 recovers 75/75 at 446 s
    vs the LSH tier's 615 s same-session. Unlike LSH's distribution-free
    band bound, IVF recall at threshold-adjacent cosines is an empirical
    property of the trained cells — which is why the LSH tier stays the
    default for the hash-exact dedup contract and the recall pin here is
    a fixture test, not a formula.

    Construction (the candidate stage of :func:`ivf_pq_ann_topk`, adapted
    from query→corpus probing to corpus self-pairing):

    1. TRAIN (driver, hash-bounded sample): spherical k-means — vectors
       are L2-NORMALIZED first, because cell assignment must respect
       cosine geometry: on the unit sphere, cos(a,b) ≥ t ⇔ ‖â−b̂‖² ≤
       2(1−t), so near-dup pairs are near in the clustered metric however
       differently scaled the raw vectors are (a 1.5×-scaled duplicate is
       L2-far from its base but identical on the sphere).
    2. ENCODE (one Arrow pass): every vector → its ``n_probes`` nearest
       cells. Multi-probe on BOTH members means a pair is a candidate if
       any probed cell is shared — the self-join analog of query-side
       multi-probe.
    3. Bucket-collect per cell with the vectors, cap, exact in-bucket
       refine (shared tail with the LSH tier, same pinned plan shape).

    vs LSH: candidate generation is ONE matmul pass (n × n_lists) instead
    of ``bands`` signature matmuls + a bands×-exploded exchange, and cells
    are data-adaptive (tighter buckets on clustered embeddings → fewer
    refine candidates at equal recall). The trade is the trained state:
    recall depends on the corpus's cluster structure rather than on a
    distribution-free band bound — which is why the planted-fixture
    recall test pins it rather than a formula.

    ``n_lists`` defaults to ``n·n_probes / target_occupancy`` so expected
    bucket occupancy — the quadratic axis — stays constant as the corpus
    grows (the same sizing discipline as ``lsh_autotune``).

    ``train_strategy`` (r12, VERDICT r11 item 3): ``'driver'`` (default)
    trains on a bounded collected sample — bit-deterministic centers,
    but balanced cells need ≥ ~16 samples/center (PERF.md r11 finding
    3), so the driver collect grows with ``n_lists`` and walls around
    the fourth decade. ``'distributed'`` runs ``train_iters``
    Arrow-batched Lloyd rounds over the FULL corpus
    (:func:`_distributed_spherical_kmeans`): per-round cost is one
    corpus pass + a ≤ n_lists·partitions-row partial shuffle, the
    driver never collects training data, and every center sees the
    whole corpus — constant-occupancy sizing survives arbitrarily
    large ``n_lists``. Centers are then reproducible only up to
    partitioning (cross-partition float sums); output pairs stay exact
    either way (verified by exact cosine).
    """
    n = n_vectors if n_vectors is not None else df.count()
    if n_lists is None:
        wanted = max(8, int(math.ceil(n * n_probes / target_occupancy)))
        n_lists = min(4096, wanted)
        if wanted > n_lists:
            import warnings

            warnings.warn(
                f"cosine_pairs_ivf: n_lists clamp binds ({wanted} wanted, "
                f"{n_lists} used) — expected bucket occupancy rises to "
                f"~{n * n_probes / n_lists:.0f} vs target {target_occupancy}, "
                "and in-bucket pair expansion is QUADRATIC in occupancy; "
                "pass n_lists explicitly (train_sample must stay ≥ n_lists) "
                "for corpora this size",
                stacklevel=2,
            )
    n_probes = min(n_probes, n_lists)

    # ---- 1. train spherical k-means (extracted helper, r13; the
    # 'distributed' strategy — r12, VERDICT r11 item 3 — removes the
    # ≥16-samples/center driver-collect wall so constant-occupancy
    # n_lists sizing survives past the fourth decade)
    centers = _train_ivf_centers(
        df,
        id_col,
        vec_col,
        n_lists,
        train_sample=train_sample,
        seed=seed,
        train_strategy=train_strategy,
        train_iters=train_iters,
        n=n,
    )
    # the TRAINED center count is min(n_lists, |sample|); a corpus smaller
    # than n_probes would otherwise push argpartition's kth out of bounds
    # (ADVICE r10)
    n_probes = min(n_probes, len(centers))

    # ---- 2. one Arrow pass: each vector → its n_probes nearest cells
    _cells = _cell_assign_udf(centers, n_probes)

    # bucket-local verification: vectors ride INTO their buckets (one
    # corpus×n_probes exchange — linear in the corpus) and the quadratic
    # pair verification happens in-task; see _bucket_local_verified_pairs
    ids = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.explode(_cells(F.col(vec_col))).alias("_cell"),
    )
    buckets = (
        ids.groupBy("_cell")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_v"))).alias("items"))
        .filter((F.size("items") > 1) & (F.size("items") <= max_bucket_size))
        .select(
            F.transform("items", lambda s: s["_id"]).alias("ids"),
            F.transform("items", lambda s: s["_v"]).alias("vecs"),
        )
    )
    return _bucket_local_verified_pairs(buckets, threshold)


def _bucket_local_verified_pairs(
    buckets: DataFrame, threshold: float, block: int = 512
) -> DataFrame:
    """Exact-cosine pair verification INSIDE each candidate bucket.

    Input: one row per bucket with aligned ``ids`` (sorted ascending)
    and ``vecs`` arrays. Per bucket, the full pairwise cosine matrix is
    computed in-task in (``block`` × occupancy) tiles — the quadratic
    candidate volume never touches the shuffle system; only pairs
    meeting ``threshold`` are emitted, then a survivor-sized
    ``distinct`` collapses multi-probe duplicates (bit-identical
    cosines, so distinct on the full row is exact).

    BIT-parity with the ``_dot``/``_norm`` fold: accumulation runs
    dimension-sequentially (``acc += col_d ⊗ col_d``), reproducing the
    fold's IEEE operation order per pair — same products, same addition
    sequence, same ``sqrt`` and division — so the emitted doubles equal
    :func:`cosine_pairs`'s exact cross join (pinned by test) and the
    DuckDB oracle's all-pairs hash.

    Memory: the tile is ``block × occupancy`` float64 ≤ block ×
    max_bucket_size × 8 B (40 MB at the 512/10k defaults); the bucket's
    own vectors are occupancy × dim — both bounded by the existing
    ``max_bucket_size`` cap, independent of corpus size.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def _verify(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ids, vecs in zip(pdf["ids"], pdf["vecs"]):
                ids = np.asarray(ids, dtype=np.int64)
                m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
                if m.ndim != 2 or m.shape[0] < 2:
                    continue
                n_rows, dim = m.shape
                mt = np.ascontiguousarray(m.T)
                nacc = np.zeros(n_rows)
                for d in range(dim):
                    nacc = nacc + mt[d] * mt[d]
                norms = np.sqrt(nacc)
                for i0 in range(0, n_rows, block):
                    i1 = min(i0 + block, n_rows)
                    acc = np.zeros((i1 - i0, n_rows))
                    for d in range(dim):
                        col = mt[d]
                        acc += col[i0:i1, None] * col[None, :]
                    with np.errstate(invalid="ignore", divide="ignore"):
                        cos = acc / (norms[i0:i1, None] * norms[None, :])
                    # strict upper triangle relative to GLOBAL indices:
                    # ids are sorted, so j > i  ⇔  id_b > id_a. NaN
                    # (zero-norm) cosines fail the >= and are dropped (no
                    # cosine, no pair); the id inequality drops self-pairs
                    # that duplicate id rows would otherwise emit (ADVICE
                    # r11).
                    ii, jj = np.nonzero(cos >= threshold)
                    keep = (jj > (ii + i0)) & (ids[jj] != ids[ii + i0])
                    ii, jj = ii[keep], jj[keep]
                    out_a.extend(ids[ii + i0].tolist())
                    out_b.extend(ids[jj].tolist())
                    out_c.extend(cos[ii, jj].tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return buckets.mapInPandas(_verify, schema=out_schema).distinct()


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    band_planes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.9,
    n_vectors: int | None = None,
) -> DataFrame:
    """Bucket-size distribution per band — the monitoring companion to
    ``cosine_pairs_lsh``'s ``max_bucket_size`` cap: run it on a corpus
    sample to see what a cap would drop before committing to one.

    Defaults mirror the production pipeline: ``band_planes``/``bands``
    come from :func:`lsh_autotune` at the same ``threshold`` so the
    reported distribution is the one ``cosine_pairs_lsh`` will actually
    bucket with (pass both explicitly to probe an alternative geometry).

    Output: (band, bucket_size, n_buckets)."""
    if band_planes is None or bands is None:
        n = n_vectors if n_vectors is not None else df.count()
        auto_planes, auto_bands = lsh_autotune(n, threshold)
        band_planes = band_planes if band_planes is not None else auto_planes
        bands = bands if bands is not None else auto_bands
    ids = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(band_signatures(F.col(vec_col), dim, band_planes, bands)).alias(
            "_band", "_key"
        ),
    )
    return (
        ids.groupBy("_band", "_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy(F.col("_band").alias("band"), "bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )


def _bounded_train_rows(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    train_sample: int,
    salt: str,
) -> list:
    """Deterministic bounded training rows for the driver-side k-means
    trainers — WITHOUT an unconditional count pass (VERDICT r14 item 4:
    the old ``vectors.count()`` ran a full-table job per call just to
    size the sample fraction).

    One guarded probe job ships at most ``cap = 1.25·train_sample + 1``
    rows (the ``mine_parallel_pairs`` ``limit(max_anchors+1).collect()``
    discipline). If the probe comes back short of the cap, it holds the
    ENTIRE corpus — exactly the rows the old ``frac = 1.0`` path
    collected, so the training matrix is byte-identical, in ONE job
    instead of two. Only when the corpus exceeds the cap (never at
    fixture scale; the regime where the old form also ran two full
    passes) does it fall back to the exact count + uniform hash-bounded
    sample — the SAME set the old form drew, so centers are identical
    in every regime.

    DRIVER MEMORY (ADVICE r14): the collect is bounded by
    ``cap × (dim × 8 B + id)`` — ~64 MB at the 100k/dim-64 defaults but
    multi-GB at production embedding dims (dim 1536 float64 ≈ 1.5 GB);
    size ``train_sample`` by bytes (``train_sample ≈ budget/(dim·8)``),
    not rows, when raising it.

    Returns rows ``(i, v)`` sorted ascending by id, truncated to
    ``train_sample`` (k-means init draws from row positions, so the
    id-sorted order keeps the chosen matrix independent of partition
    layout).
    """
    from .sampling import hash_uniform

    sel = vectors.select(
        F.col(id_col).alias("i"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cap = int(1.25 * train_sample) + 1
    rows = sel.limit(cap).collect()
    if len(rows) >= cap:
        total = sel.count()
        frac = min(1.0, 1.25 * train_sample / max(total, 1))
        rows = (
            sel.withColumn("u", hash_uniform(F.col("i"), salt))
            .filter(F.col("u") < F.lit(frac))
            .select("i", "v")
            .collect()
        )
    rows.sort(key=lambda r: r["i"])
    return rows[:train_sample]


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    n_lists: int = 16,
    n_probes: int = 4,
    seed: int = 42,
    train_sample: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer.

    Index phase: Euclidean k-means over a bounded, deterministic sample
    on the driver (``_bounded_train_rows`` — one guarded probe job, no
    unconditional count pass, seeded NumPy Lloyd, never a corpus-wide
    iterative fit; see its docstring for the driver-memory bound —
    size ``train_sample`` by bytes at production embedding dims) and
    one Arrow assignment pass over the corpus. The Spark ML ``KMeans.fit`` this replaces ran ~2·maxIter
    scheduler-bound jobs over the full table per call (measured r14:
    the fit alone was most of the 6.6 s bench median) while still
    sampling internally for init — the driver trainer does the same
    bounded-sample work in one job. Query phase: each query scores only
    the vectors in its ``n_probes`` nearest cells (one small Arrow probe
    pass — the former broadcast crossJoin × window ranking spent a
    shuffle + a window sort on a |queries|×n_lists frame). The scoring
    join is an equi-join on the cell id — the same no-cross-join
    property as the LSH variant, but with data-adaptive cells (much
    better recall than hyperplanes on clustered embeddings).

    At 100 TB the index phase is one bounded-sample fit + one assignment
    pass, and cell ids become the table's bucketing/partition key so
    probes prune at the scan.
    """
    from pyspark.sql.functions import pandas_udf

    sample = _bounded_train_rows(
        vectors, id_col, vec_col, train_sample, "ivf-ann-train"
    )
    if not sample:
        raise ValueError("ivf_ann_topk: no vectors to train on (empty input)")
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    centers = _np_kmeans(x, min(n_lists, len(x)), seed=seed)

    @pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        xx = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(_sq_dists(xx, centers).argmin(1).astype("int32"))

    assigned = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vn"),
        _cell(F.col(vec_col).cast("array<double>")).alias("_cell"),
        _norm(F.col(vec_col)).alias("_nn"),
    )

    # query → n_probes nearest centroids (centers are driver-side: one
    # small Arrow pass; stable argsort keeps the (dist asc, cell asc)
    # tie order of the window form this replaces)
    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        xx = np.stack(v.to_numpy()).astype(np.float64)
        d = _sq_dists(xx, centers)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probes]
        return pd.Series(list(order.astype("int32")))

    q_cells = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_vq"),
        _norm(F.col(vec_col)).alias("_nq"),
        F.explode(_probe(F.col(vec_col).cast("array<double>"))).alias("_cell"),
    )

    scored = (
        q_cells.join(assigned, "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", _dot(F.col("_vq"), F.col("_vn")) / (F.col("_nq") * F.col("_nn")))
    )
    return _bounded_topk(scored, k).select("query_id", "neighbor_id", "cosine", "rank")


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
    k: int = 10,
    planes: int = 8,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket(s).

    Multi-probe: each query also searches the buckets whose signature
    differs by ≤ ``probes`` flipped bits (probes=1 → planes+1 buckets out
    of 2^planes), trading a linear factor in probed buckets for a large
    recall gain — the standard remedy for LSH on weakly-clustered data.

    Same output shape as ``cosine_topk``. The join is a bucket-key
    equi-join — shuffle on the signature, never a cross join, which is what
    survives a 100 TB corpus; only the small query side fans out per probe.
    """
    sig_v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vn"),
        _norm(F.col(vec_col)).alias("_nn"),
        hyperplane_signature(F.col(vec_col), dim, planes).alias("_sig"),
    )
    base_sig = hyperplane_signature(F.col(vec_col), dim, planes)
    probe_sigs = [base_sig]
    if probes >= 1:
        probe_sigs += [base_sig.bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(planes)]
    if probes >= 2:
        probe_sigs += [
            base_sig.bitwiseXOR(F.lit((1 << p) | (1 << q)).cast("long"))
            for p in range(planes)
            for q in range(p + 1, planes)
        ]
    sig_q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_vq"),
        _norm(F.col(vec_col)).alias("_nq"),
        F.explode(F.array(*probe_sigs)).alias("_sig"),
    )
    scored = (
        sig_q.join(sig_v, "_sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", _dot(F.col("_vq"), F.col("_vn")) / (F.col("_nq") * F.col("_nn")))
    )
    return _bounded_topk(scored, k).select("query_id", "neighbor_id", "cosine", "rank")


# --------------------------------------------------------------- IVF-PQ tier


def _sq_dists(
    x: "np.ndarray", centers: "np.ndarray", block_bytes: int = 64 << 20
) -> "np.ndarray":
    """Pairwise squared distances, (n × k) output, bounded intermediate.

    The naive ``((x[:,None,:]-C)**2).sum(-1)`` materializes a dense
    (n, k, dim) broadcast — at the documented production regime
    (train_sample 100k, dim 768–4096, n_lists 16) that is tens of GB per
    Lloyd iteration (ADVICE r2). Evaluating the same expression over row
    blocks caps the intermediate at ``block_bytes`` while staying
    bit-identical to the unchunked form (chunking over rows does not
    reorder any per-element reduction), so k-means assignments — and
    therefore codebooks and recall — are unchanged. The ``‖x‖²−2xCᵀ+‖c‖²``
    matmul expansion would be faster still but rounds differently,
    perturbing cluster assignments on tie-dense synthetic data.
    """
    k, dim = centers.shape
    block = max(1, block_bytes // max(k * dim * 8, 1))
    out = np.empty((len(x), k), dtype=np.float64)
    for i in range(0, len(x), block):
        xb = x[i : i + block]
        out[i : i + block] = ((xb[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
    return out


def _np_kmeans(x: "np.ndarray", k: int, iters: int = 20, seed: int = 42) -> "np.ndarray":
    """Plain Lloyd's k-means on a driver-side training sample (NumPy).

    Codebooks are trained on a bounded sample by design — the production
    IVF-PQ pattern — so the fit is O(sample) regardless of corpus size,
    deterministic under the seed, and the distributed work stays in the
    encode/score passes. Empty clusters keep their previous centroid.
    Distance matrices go through ``_sq_dists`` (n × k memory, never
    n × k × dim).
    """
    rng = np.random.RandomState(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].astype(np.float64)
    if len(centers) < k:  # degenerate tiny sample: pad by repeating
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]
    for _ in range(iters):
        assign = _sq_dists(x, centers).argmin(1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                centers[j] = pts.mean(0)
    return centers


def ivf_pq_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    n_lists: int = 16,
    n_probes: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 16,
    refine_factor: int = 3,
    train_sample: int = 100_000,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse cells + product-quantized residuals.

    The memory tier below ``ivf_ann_topk``: instead of carrying full
    vectors into the probe join, every vector is encoded as (cell id,
    ``m_subspaces`` one-byte codes) — at dim 64 float32 that is 256 B →
    8 B, a 32× compression, which is what makes billion-vector /
    100 TB-scale search feasible (the scoring pass streams codes, not
    floats). Pipeline:

    1. TRAIN (driver, bounded sample): coarse k-means (``n_lists``), then
       per-subspace k-means (``n_codes``) over coarse RESIDUALS — the
       classical IVF-PQ construction (Jégou et al., TPAMI 2011).
    2. ENCODE (distributed, one Arrow pass): vector → nearest cell +
       per-subspace argmin codes.
    3. PROBE+SCORE (distributed): each query expands to its ``n_probes``
       nearest cells with a per-(query, cell) ADC lookup table (m ×
       n_codes squared distances, one small Arrow pass); candidates join
       on the cell id (equi-join, never a cross join) and score by pure
       Catalyst table lookups — sum of ``lut[s · n_codes + code_s]``.
    4. REFINE (distributed): the ADC top ``k · refine_factor`` fetch
       their true vectors by id (hash join) and exact cosine re-ranks to
       the final top-k — the standard recall-restoring tail.

    Output schema matches ``ivf_ann_topk``: (query_id, neighbor_id,
    cosine, rank), cosine exact (from the refine), so downstream
    thresholds behave identically across the ANN tiers.
    """
    from pyspark.sql.functions import pandas_udf

    spark = vectors.sparkSession
    # ---- 1. train on a bounded, deterministic sample: one guarded probe
    # job (count pass only when the corpus exceeds the cap — see
    # ``_bounded_train_rows``; r15, VERDICT r14 item 4). Membership is
    # decided by the probe/hash; order (k-means init draws from row
    # positions) by id so a corpus that fits entirely in the sample trains
    # on exactly the same matrix as the previous orderBy(id) construction.
    sample = _bounded_train_rows(
        vectors, id_col, vec_col, train_sample, "ivfpq-train"
    )
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    dim = x.shape[1]
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    dsub = dim // m_subspaces
    coarse = _np_kmeans(x, n_lists, seed=seed)
    res = x - coarse[_sq_dists(x, coarse).argmin(1)]
    books = np.stack(
        [
            _np_kmeans(res[:, s * dsub : (s + 1) * dsub], n_codes, seed=seed + 1 + s)
            for s in range(m_subspaces)
        ]
    )  # m × n_codes × dsub

    # ---- 2. encode the full table (cell + codes), one Arrow pass
    @pandas_udf("struct<cell: int, codes: array<int>>")
    def _encode(v: pd.Series) -> pd.DataFrame:
        xx = np.stack(v.to_numpy()).astype(np.float64)
        cell = _sq_dists(xx, coarse).argmin(1)
        rr = xx - coarse[cell]
        codes = np.stack(
            [
                _sq_dists(rr[:, s * dsub : (s + 1) * dsub], books[s]).argmin(1)
                for s in range(m_subspaces)
            ],
            axis=1,
        )  # n × m
        return pd.DataFrame({"cell": cell.astype("int32"), "codes": list(codes.astype("int32"))})

    enc = vectors.select(
        F.col(id_col).alias("neighbor_id"), _encode(F.col(vec_col)).alias("_e")
    ).select("neighbor_id", F.col("_e.cell").alias("_cell"), F.col("_e.codes").alias("_codes"))

    # ---- 3. probe cells + per-(query, cell) ADC lookup tables
    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        xx = np.stack(v.to_numpy()).astype(np.float64)
        d = _sq_dists(xx, coarse)
        return pd.Series(list(np.argsort(d, axis=1)[:, :n_probes].astype("int32")))

    @pandas_udf("array<double>")
    def _lut(v: pd.Series, cell: pd.Series) -> pd.Series:
        xx = np.stack(v.to_numpy()).astype(np.float64)
        rr = xx - coarse[cell.to_numpy()]
        out = np.concatenate(
            [
                _sq_dists(rr[:, s * dsub : (s + 1) * dsub], books[s])
                for s in range(m_subspaces)
            ],
            axis=1,
        )  # n × (m · n_codes)
        return pd.Series(list(out))

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_vq"),
        F.explode(_probe(F.col(vec_col))).alias("_cell"),
    ).withColumn("_lut", _lut(F.col("_vq"), F.col("_cell")))

    subspace_idx = F.sequence(F.lit(0), F.lit(m_subspaces - 1))
    adc = F.aggregate(
        F.zip_with(
            F.col("_codes"),
            subspace_idx,
            lambda c, s: F.element_at(F.col("_lut"), (s * n_codes + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = (
        q.join(enc, "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_adc", adc)
    )
    # multi-probe queries can surface the same neighbor from several cells
    # with the same ADC value; dedup before the bounded top-k so the
    # shortlist holds k·refine_factor DISTINCT neighbors like the old
    # row_number-then-dropDuplicates form did after ranking
    shortlist = _bounded_topk(
        cand.dropDuplicates(["query_id", "neighbor_id"]),
        k * refine_factor,
        score_col="_adc",
        ascending=True,
        keep_cols=("_vq",),
    ).select("query_id", "_vq", "neighbor_id")

    # ---- 4. exact refine on the shortlist
    truth = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vn"),
        _norm(F.col(vec_col)).alias("_nn"),
    )
    scored = shortlist.join(truth, "neighbor_id").withColumn(
        "cosine",
        _dot(F.col("_vq"), F.col("_vn")) / (_norm(F.col("_vq")) * F.col("_nn")),
    )
    return _bounded_topk(scored, k).select("query_id", "neighbor_id", "cosine", "rank")
