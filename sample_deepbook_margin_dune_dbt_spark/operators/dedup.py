"""Deduplication operators for large-scale training-data pipelines.

Every operator is a pure DataFrame transformation built from JVM-side
Catalyst expressions (no Python row path), so the plans scale: exact dedup
is a hash-partitioned groupBy on a fingerprint, minhash/LSH is explode →
groupBy → self-join-within-bucket — all shuffle-on-key operations AQE can
balance.

Engine-portable hashing: every hash bottoms out in ``md5`` (via
``functions.text.fingerprint64``) rather than ``xxhash64``, so an external
engine (the DuckDB oracle, a Trino cross-check) can reproduce values
bit-for-bit. md5 costs more than xxhash64; swap ``fingerprint64`` for
``F.xxhash64`` in production if cross-engine reproducibility is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint64

# deterministic universal-hash parameters: h_i(x) = (a_i * (x mod P) + b_i) mod P
# P = 2^31 - 1 (Mersenne); a*(x mod P) < 2^62 so 64-bit arithmetic never
# overflows (overflow must be impossible, not just unlikely: the DuckDB
# oracle raises on bigint overflow)
MINHASH_P = 2_147_483_647
MINHASH_AS = [
    1697, 5581, 9871, 14683, 21377, 27479, 33469, 40387,
    48017, 55313, 62233, 70921, 78779, 85931, 93251, 101359,
]
MINHASH_BS = [
    7919, 1249, 22003, 4673, 30011, 8117, 41011, 12289,
    50341, 15559, 60869, 19471, 71329, 23873, 82757, 28657,
]


def _tokens(text_col: F.Column) -> F.Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition on the id before CPU-heavy per-row work.

    Small inputs often arrive as one file → one partition, serializing the
    shingle/hash computation on a single core; at cluster scale the same
    repartition balances work across executors. The shuffle moves only the
    (id, text) projection, which is tiny relative to the exploded output.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def shingles(text_col: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    ``transform(sequence(...))`` keeps shingle construction inside codegen;
    no explode is needed until the caller chooses to.
    """
    toks = _tokens(text_col)
    k = F.size(toks)
    return F.when(
        k >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def py_shingles(text: str | None, n: int = 3) -> list[str]:
    """Pure-Python twin of :func:`shingles` — element- and ORDER-identical.

    Tokenization parity with ``_tokens`` (``split(lower(trim(x)), '\\s+')``):
    ``_java_ws_tokens`` strips U+0020 only (Spark ``trim``), lowercases,
    and splits on the ASCII-only Java ``\\s`` class keeping leading/trailing
    empty tokens (``F.split`` uses limit -1). ``dict.fromkeys`` reproduces
    ``array_distinct``'s keep-first-occurrence order. A Catalyst NULL input
    flows to the ``otherwise`` branch and yields ``[""]`` (``concat_ws``
    of a null array is ``""``); ``None`` maps to the same here.
    """
    from ..functions.text import _java_ws_tokens

    toks = _java_ws_tokens(text if text is not None else "")
    if len(toks) >= n:
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))
    return [" ".join(toks)]


def shingles_vectorized(text_col: F.Column | str, n: int = 3) -> F.Column:
    """Arrow twin of :func:`shingles` — identical ``array<string>`` values
    and order, ~20× less per-shingle cost.

    The Catalyst form's higher-order-function lambdas (``transform`` /
    ``slice`` / ``concat_ws`` per element) are CodegenFallback: the r8
    full-evaluation bench measured ~20 µs/shingle of interpreted
    expression evaluation — the shared floor of every shingle consumer
    (Bloom probe, minhash, jaccard, heavy hitters, n-gram overlap). This
    Arrow batch path follows the ``top_bigram_frac_vectorized`` twin
    precedent: Catalyst form stays the engine-portable oracle-shape
    reference, bit-parity pinned by tests (including exotic-locale
    case-mapping rows: ß, İ, final sigma).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _f(s):  # type: ignore[no-untyped-def]
        return pd.Series([py_shingles(t, n) for t in s])

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _f(c)


# --------------------------------------------------------------------- exact


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content fingerprint: one row per distinct content.

    Output: (fingerprint, keep_id = min id, dup_count). Scale: a single
    hash-shuffle on the 64-bit fingerprint; partial aggregation happens
    map-side, so the shuffle carries one row per distinct content per task,
    not per input row.
    """
    return (
        df.select(fingerprint64(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (the survivor set)."""
    keep = exact_duplicates(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ------------------------------------------------------------ n-gram jaccard


def _intersect_shingle_rows(df, id_col, text_col, n):
    """(_id, _fp) rows: one per (doc, distinct shingle), shingles carried
    as 8-byte ``xxhash64`` fingerprints, NOT strings — the exchange that
    feeds the pairwise self-join moves 8 bytes/key instead of ~30-byte
    UTF-8 shingles (the r7 span-tier discipline). The fingerprint never
    reaches the output, so the string-join oracle stays exact up to
    64-bit collisions (≈ 2e-5 expected per 26M shingles — none at the
    oracle scale factors).

    The (id, fp-array) projection is materialized via ``localCheckpoint``
    because three consumers read it (both self-join sides AND the
    per-doc size aggregate) — without it Spark re-executes the Arrow
    shingle batch once per branch (the ``text_novelty`` restaging
    lesson; PERF.md r9 continuation 5). At warehouse scale the same
    staging is a persisted projection table.

    The checkpoint is DISK_ONLY (r10): the default MEMORY_AND_DISK
    blocks pin the unified memory region against the downstream
    ``shuffle_hash`` builds (PERF.md r10 finding 2 — at the 1000×
    fixture, ~10⁹ fingerprints). Measured honestly: DISK_ONLY alone
    does NOT rescue an 8 GB heap at 32 shuffle partitions — the builds
    themselves (~|sh|/partitions rows each) are the binding constraint,
    and the cure is partitions scaling with data (what AQE and cluster
    sizing do; PERF.md r10 finding 2 records the sp/heap matrix). The
    staging level still belongs on disk: it returns the unified region
    to the build pool at zero bench-scale cost (the projection is read
    back sequentially through the OS page cache)."""
    from pyspark.storagelevel import StorageLevel

    staged = (
        _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id")
        .select(
            "_id",
            F.transform(
                shingles_vectorized(F.col(text_col), n), lambda c: F.xxhash64(c)
            ).alias("_fps"),
        )
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    sh = staged.select("_id", F.explode("_fps").alias("_fp"))
    # per-doc set sizes come from the ARRAY SIZE — no explode, no
    # exchange (shingles are distinct within a doc by construction)
    sizes = staged.select(
        "_id", F.size("_fps").cast("long").alias("_size")
    ).filter(F.col("_size") > 0)
    return sh, sizes


def _sh_rows_or_inline(df, id_col, text_col, n, fp_rows):
    """The (sh, sizes) pair for the exact-pair tiers: either the inline
    shingle projection (``_intersect_shingle_rows``) or a MAINTAINED
    (id, fp) projection — the ``corpus_fp_bucketed`` mirror — whose
    two columns are renamed positionally to (_id, _fp). A Project over
    a bucketed scan preserves the hash output-partitioning through the
    alias, so the downstream self-join stays bucket-local. Sizes come
    from a map-side-combined per-doc count (one row per doc on the
    wire; the inline path reads them free off the staged array — the
    maintained path trades that for never re-shingling)."""
    if fp_rows is None:
        return _intersect_shingle_rows(df, id_col, text_col, n)
    sh = fp_rows.select(
        F.col(fp_rows.columns[0]).alias("_id"),
        F.col(fp_rows.columns[1]).alias("_fp"),
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).cast("long").alias("_size"))
    return sh, sizes


def _shingle_self_intersections(
    sh: DataFrame, strategy: str = "shuffle_hash"
) -> DataFrame:
    """Per-pair shingle intersection counts ``(id_a, id_b, n_inter)``
    from (_id, _fp) rows — the shared tail of the exact jaccard and
    containment tiers.

    The self-join is hinted ``shuffle_hash`` by default: an unhinted SMJ
    sorts both ~corpus-sized shingle sides, and the sort (not the join)
    went superlinear at the 100× documents fixture (120 s for the
    containment scan; ~30 s hashed) — the same SMJ-spill failure mode
    the r9 cosine refine fix pinned. A per-partition hash build of
    8-byte keys is flat in the second decade; hot stopword shingles
    remain AQE-skew-split territory exactly as before.

    ``strategy="merge"`` selects the spill-tolerant sort-merge plan
    (r10): hash builds cannot spill, and at the 1000× fixture (~10⁹
    fingerprints) they exhaust an 8 GB heap at ANY shuffle-partition
    count. Measured honestly, merge is NOT a magic rescue either — at
    8 GB ÷ 32 concurrent tasks (0.25 GB/task) the sort+agg working
    pages also exhaust (PERF.md r10 finding 2 records the full
    strategy × heap × partitions matrix; 48 GB completes). The knob
    exists for the in-between regime where per-task memory covers sort
    pages but not a resident hash build; below that floor the only
    lever is memory ∝ data per core, which is how a real cluster is
    sized.

    ``strategy="bucketed"`` (r11) stages the (_id, _fp) projection ONCE as
    a bucketed+sorted managed table (``bucketBy(_fp) sortBy(_fp)``) and
    self-joins two reads of it: the join plans as a bucket-local
    sort-merge — NO exchange, NO sort, NO resident hash build — which is
    the measured fix for the fourth-decade per-task memory floor
    (PERF.md r11: the 1000× fixture's self-join PASSES at the 8 GB heap
    every shuffle strategy failed at, 1 Exchange in the whole plan). At
    warehouse scale this is the "maintain the fingerprint projection as
    a bucketed table" design — the write amortizes across every dedup
    query that self-joins on the fingerprint.
    """
    if strategy == "bucketed":
        import os
        import shutil

        from ..engine.bucketing import write_bucketed

        spark = sh.sparkSession
        tbl = "_dedup_fp_bucketed_staging"
        # a fresh session's in-memory catalog forgets the table but its
        # warehouse dir survives on disk; clear both or the CTAS errors
        # with LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        stale = os.path.join(wh.removeprefix("file:"), tbl)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        write_bucketed(sh, tbl, n_buckets, ["_fp"], sort_by=["_fp"])
        sh = spark.table(tbl)
        a = sh.alias("a")
        b = sh.alias("b")
    elif strategy in ("shuffle_hash", "merge"):
        a = sh.alias("a")
        b = sh.hint(strategy).alias("b")
    else:
        raise ValueError(
            f"strategy must be shuffle_hash|merge|bucketed, got {strategy!r}"
        )
    return (
        a.join(b, (F.col("a._fp") == F.col("b._fp")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    join_strategy: str = "shuffle_hash",
    fp_rows: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-gram shingles.

    Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Plan: explode distinct shingles → self-equi-join on shingle →
    count intersections per pair → join per-doc shingle counts → Jaccard.
    The self-join shuffles on the shingle value; hot shingles (stopword
    n-grams) are the skew risk — AQE skew-join splits them. At 100 TB this
    exact-pairwise operator is for *within-candidate-bucket* verification
    (feed it LSH candidates); use ``minhash_lsh_candidates`` to generate
    candidates without the quadratic join.

    ``fp_rows`` (r12): a MAINTAINED (id, shingle-fp) projection — the
    ``corpus_fp_bucketed`` DAG model's bucketed mirror — replaces the
    inline shingling entirely; ``df``/``text_col``/``n`` are ignored.
    Read from a ``bucketBy(fp) sortBy(fp)`` table, the self-join plans
    bucket-local (ZERO Exchange on the join — the PERF.md r11 Part B
    shape) and pair generation pays no re-shingling:
    the projection cost amortizes across every dedup query, the way the
    reference amortizes its daily fact
    (``models/fct_deepbook_margin_pool_daily.sql:33-35``). Pass
    ``join_strategy='merge'`` with a bucketed mirror — a hash-build
    hint would discard the co-location. Measured honestly (PERF.md r12
    addendum 3): at comfortable heaps the INLINE array staging is
    FASTER than any mirror-fed form (35 vs 45–57 s at 100×) — the
    mirror is the fourth-decade per-task-memory escape and the
    cross-run amortization of shingling, not a same-session speedup.
    """
    sh, sizes = _sh_rows_or_inline(df, id_col, text_col, n, fp_rows)
    inter = _shingle_self_intersections(sh, join_strategy).withColumnRenamed("n_inter", "_inter")
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_size").alias("_size_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_size").alias("_size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_size_a") + F.col("_size_b") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    fp_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (SSJoin/PPJoin,
    Chaudhuri et al. 2006 / Xiao et al. 2008) — the third candidate
    generator for the near-dup family, and the only one with an EXACT
    recall guarantee: under any global token order, two sets with
    ``J ≥ t`` must share a token within each set's first
    ``|X| − ⌈t·|X|⌉ + 1`` tokens, so joining PREFIX tokens only finds
    every qualifying pair by construction (LSH trades that guarantee
    for fewer candidates at low thresholds; at high thresholds the
    prefix is a small fraction of each doc and wins outright).

    Output: (id_a, id_b, jaccard), identical values to
    :func:`ngram_jaccard_pairs` (same shingles, same double division) —
    the two tiers share one oracle. ``fp_rows`` (the maintained
    ``corpus_fp_bucketed`` projection) replaces the inline shingling
    exactly as in the self-join tier — the projection amortizes across
    every member of the family.

    Plan, all equi-joins (AQE-skew-splittable), no global rank
    materialization and no window: per-doc distinct shingle-fp arrays
    (the staged projection), document frequency per fp (map-side
    combined), per-doc fps sorted by (df, fp) — the global rarity order
    realized as a per-doc struct sort, never a corpus-wide ranking —
    prefix explode (the prefix FRACTION of the corpus), prefix⋈prefix
    self-join on fp with the size-compatibility prune
    (``least·1 ≥ t·greatest`` — J ≤ min/max sizes), then
    candidate-bounded verification: the two docs' fp ARRAYS join back
    by id (one row each, not per-shingle) and ``array_intersect`` does
    the exact count in-task.
    """
    from pyspark.storagelevel import StorageLevel

    sh, _ = _sh_rows_or_inline(df, id_col, text_col, n, fp_rows)
    # document frequency per fingerprint → per-doc rarity-sorted arrays.
    # Staged ONCE (r14, guide §2.4): three consumers read `ranked` (the
    # prefix explode feeding both self-join sides plus the two
    # verification array fetches) — unstaged, each re-ran the df-join +
    # collect/sort aggregation above the reused exchange. The frame is
    # the linear per-doc fp-array projection, the same staging class as
    # the shingle projection itself.
    dfreq = sh.groupBy("_fp").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(dfreq, "_fp")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "_fp"))),
                lambda s: s["_fp"],
            ).alias("_fps"),
        )
        .withColumn("_sz", F.size("_fps"))
        .withColumn(
            "_plen", F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
        )
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    prefix = ranked.select(
        "_id",
        "_sz",
        F.explode(F.slice("_fps", 1, F.col("_plen"))).alias("_pfp"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a._pfp") == F.col("b._pfp"))
            & (F.col("a._id") < F.col("b._id"))
            # size compatibility: J(A,B) ≤ min/max — sizes that can't
            # reach t never generate a candidate
            & (
                F.least(F.col("a._sz"), F.col("b._sz"))
                >= F.lit(threshold) * F.greatest(F.col("a._sz"), F.col("b._sz"))
            ),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    fa = ranked.select(
        F.col("_id").alias("id_a"), F.col("_fps").alias("_fa"), F.col("_sz").alias("_sa")
    )
    fb = ranked.select(
        F.col("_id").alias("id_b"), F.col("_fps").alias("_fb"), F.col("_sz").alias("_sb")
    )
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("_i", F.size(F.array_intersect("_fa", "_fb")))
        .withColumn(
            "jaccard", F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


PREFIX_CROSSOVER_THRESHOLD = 0.7  # PERF.md r12 continuation: prefix draws
# even with the self-join at t = 0.8 and its advantage grows with t (the
# prefix is a (1−t) fraction of each doc); at t = 0.5 the self-join wins
# (6.7 vs 4.0 s at 10×) because the prefix is half of every doc and the
# tier's two extra shuffles buy nothing


def choose_jaccard_strategy(
    threshold: float,
    n_docs: int | None = None,
    allow_approx: bool = False,
    approx_min_docs: int = 5_000_000,
) -> str:
    """The Jaccard family's dispatch rule (r13, VERDICT r12 item 5) —
    pure and unit-pinned, the ``hotness_report`` precedent applied to
    tier choice: measure the crossover once (PERF.md r12), then choose
    from it.

    - ``threshold ≥ 0.7`` → ``'prefix'``: the prefix is a small
      (1−t) fraction of each doc, candidates are bounded by prefix-token
      co-occurrence with EXACT recall by construction — the tier whose
      candidate volume survives hot boilerplate shingles at 100 TB.
    - below the crossover → ``'self_join'`` (measured fastest; exact),
      UNLESS the caller both sets ``allow_approx=True`` and the corpus
      is at least ``approx_min_docs`` docs — then ``'lsh'``: at low
      thresholds on web-scale corpora the self-join's co-shingle volume
      is the quantity that explodes, and banded minhash bounds it at
      the documented recall-probability cost. Auto NEVER degrades
      recall silently: 'lsh' requires the explicit opt-in.
    """
    if threshold >= PREFIX_CROSSOVER_THRESHOLD:
        return "prefix"
    if allow_approx and n_docs is not None and n_docs >= approx_min_docs:
        return "lsh"
    return "self_join"


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    strategy: str = "auto",
    join_strategy: str = "shuffle_hash",
    fp_rows: DataFrame | None = None,
    allow_approx: bool = False,
    n_docs: int | None = None,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """One front door for the exact-Jaccard pair family:
    ``strategy='auto'`` dispatches to the measured-best tier via
    :func:`choose_jaccard_strategy` (``'self_join'`` / ``'prefix'`` /
    opt-in ``'lsh'`` also accepted verbatim). All tiers emit the same
    (id_a, id_b, jaccard) schema with identical doubles; the exact
    tiers are output-identical (pinned), the LSH tier verifies its
    banded candidates with the same array-intersect arithmetic so every
    SURVIVING pair carries the exact jaccard — its only loss is
    candidate recall (band-probability + bucket caps, documented in
    :func:`minhash_lsh_candidates`).

    ``fp_rows`` (the maintained ``corpus_fp_bucketed`` projection) feeds
    every tier — shingling amortizes across the family whichever tier
    the dispatch picks."""
    if strategy == "auto":
        # self-contained dispatch (VERDICT r13 item 7): the LSH opt-in
        # guard needs the corpus size, and the caller may not know it —
        # probe with a count ONLY when the answer can change the choice
        # (below the prefix crossover with approx allowed); above the
        # crossover, and for callers who pass n_docs, no job runs
        if (
            allow_approx
            and n_docs is None
            and threshold < PREFIX_CROSSOVER_THRESHOLD
        ):
            n_docs = df.count()
        strategy = choose_jaccard_strategy(threshold, n_docs, allow_approx)
    if strategy == "self_join":
        return ngram_jaccard_pairs(
            df, id_col, text_col, n, threshold, join_strategy, fp_rows
        )
    if strategy == "prefix":
        return prefix_filter_jaccard_pairs(
            df, id_col, text_col, n, threshold, fp_rows
        )
    if strategy != "lsh":
        raise ValueError(
            f"strategy must be auto|self_join|prefix|lsh, got {strategy!r}"
        )
    # LSH tier: banded-minhash candidates from the SAME (id, fp) rows the
    # exact tiers use (any consistent 64-bit shingle fingerprint is a
    # valid minhash domain), verified to exact jaccard in-task
    sh, _ = _sh_rows_or_inline(df, id_col, text_col, n, fp_rows)
    x = F.pmod(F.col("_fp"), F.lit(MINHASH_P))
    aggs = [
        F.min((F.lit(MINHASH_AS[i]) * x + F.lit(MINHASH_BS[i])) % MINHASH_P).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("_id").agg(*aggs)
    n_bands = num_hashes // band_size
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[
                    F.col(f"h{b * band_size + r}").cast("string")
                    for r in range(band_size)
                ],
            ).alias("key"),
        )
        for b in range(n_bands)
    ]
    exploded = sig.select("_id", F.explode(F.array(*bands)).alias("bk"))
    buckets = (
        exploded.groupBy("bk")
        .agg(F.sort_array(F.collect_set("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
    )
    cands = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda v, i: F.transform(
                            F.slice(
                                F.col("ids"),
                                i + 2,
                                F.greatest(F.size("ids") - i - 1, F.lit(0)),
                            ),
                            lambda w: F.struct(v.alias("id_a"), w.alias("id_b")),
                        ),
                    )
                )
            ).alias("pair")
        )
        .select("pair.id_a", "pair.id_b")
        .distinct()
    )
    arrays = sh.groupBy("_id").agg(
        F.sort_array(F.collect_list("_fp")).alias("_fps"),
        F.count(F.lit(1)).alias("_sz"),
    )
    fa = arrays.select(
        F.col("_id").alias("id_a"), F.col("_fps").alias("_fa"), F.col("_sz").alias("_sa")
    )
    fb = arrays.select(
        F.col("_id").alias("id_b"), F.col("_fps").alias("_fb"), F.col("_sz").alias("_sb")
    )
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("_i", F.size(F.array_intersect("_fa", "_fb")))
        .withColumn(
            "jaccard", F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_e6: int = 800_000,
    join_strategy: str = "shuffle_hash",
    fp_rows: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by shingle containment:
    ``C = |A∩B| / min(|A|, |B|)`` — the smaller document's coverage.

    Jaccard misses subset duplication: a paragraph fully quoted inside a
    10× longer page scores ``|A|/|B| ≈ 0.1`` Jaccard but containment 1.0.
    Containment is the right lens for quote-inclusion, boilerplate
    wrapping, and truncated re-crawls — all common in web corpora and all
    cases where the SHORT side should usually be dropped.

    Output: ``(id_a, id_b, n_inter, size_a, size_b, containment_e6)``
    with id_a < id_b and ``containment_e6 = inter·10⁶ div min(sizes)``
    (exact integer — cross-engine hash-stable) ≥ ``threshold_e6``.

    Plan shape is :func:`ngram_jaccard_pairs`' (shingle self-equi-join,
    AQE-skew-splittable, distinct shingles per doc); the same 100 TB
    contract applies — feed it LSH/bucket candidates for verification
    rather than running it corpus-wide.
    """
    sh, sizes = _sh_rows_or_inline(df, id_col, text_col, n, fp_rows)
    inter = _shingle_self_intersections(sh, join_strategy)
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_size").alias("size_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment_e6",
            F.expr("(n_inter * 1000000L) div least(size_a, size_b)"),
        )
        .filter(F.col("containment_e6") >= threshold_e6)
        .select("id_a", "id_b", "n_inter", "size_a", "size_b", "containment_e6")
    )


# ----------------------------------------------------------------- minhash


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document minhash signature: (id, h0..h{k-1}).

    minhash_i = min over shingles of (a_i * (fp(shingle) mod P) + b_i) mod P.
    One explode + one groupBy(id) with k min() aggregates — map-side partial
    mins mean the shuffle carries k longs per doc per task. No pairwise work.
    Shingles come from the Arrow twin; hashing/aggregation stays JVM-side.
    """
    assert num_hashes <= len(MINHASH_AS)
    sh = _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id").select(
        "_id", F.explode(shingles_vectorized(F.col(text_col), shingle_n)).alias("_sh")
    )
    x = fingerprint64(F.col("_sh")) % MINHASH_P
    aggs = [
        F.min((F.lit(MINHASH_AS[i]) * x + F.lit(MINHASH_BS[i])) % MINHASH_P).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("_id").agg(*aggs).withColumnRenamed("_id", id_col)


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_key) LSH band rows — the exploded banding stage of
    :func:`minhash_lsh_candidates`, exposed on its own so a pipeline can
    PERSIST the banding as an incremental index (``models_corpus``'s
    ``corpus_fingerprint_index``) and band only new documents per run
    instead of re-shingling the corpus. Signature pipeline + one
    ``n_bands``-wide explode; no shuffle beyond the signature groupBy.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * band_size + r}") for r in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[c.cast("string") for c in cols]).alias("key"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bk")
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding of minhash signatures.

    Bands of ``band_size`` rows each; documents agreeing on every hash in
    any band become a candidate pair. Output: distinct (id_a, id_b), a < b.

    Scale: signatures (k longs/doc) → explode to (band_key, id) →
    self-join per band bucket. Bucket sizes are the quadratic risk; real
    near-dup clusters are small, and a giant bucket means the band is
    degenerate (e.g. all-empty docs hashing identically) — those buckets
    are DROPPED once they exceed ``max_bucket_size``: a bucket of b docs
    would emit b·(b-1)/2 pairs, so one million-doc degenerate bucket is
    half a trillion pairs. Members of a dropped bucket are by construction
    (near-)identical *as a set*, which is ``exact_duplicates``'s job, not
    pairwise LSH's. ``lsh_band_bucket_stats`` reports the bucket-size
    distribution so a production pipeline can alert on what a cap drops
    instead of discovering it as a hung stage. Verification of candidates
    (exact Jaccard) is linear in candidate count.
    """
    exploded = minhash_band_rows(
        df, id_col, text_col, num_hashes, band_size, shingle_n
    ).select(
        F.col(id_col).alias("_id"),
        F.col("band").alias("_band"),
        F.col("band_key").alias("_key"),
    )
    # Bucket-collect instead of a self-join: one groupBy computes the
    # signature pipeline ONCE (a self-join would recompute it for each side)
    # and pair expansion happens inside each bucket, so there is no join
    # shuffle at all. Bucket arrays are near-dup clusters — small by nature;
    # a degenerate giant bucket (e.g. empty docs) is the skew risk, same as
    # any LSH formulation, and should be capped upstream in production.
    buckets = (
        exploded.groupBy("_band", "_key")
        .agg(F.sort_array(F.collect_set("_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket_size))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"), i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))
                        ),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("pair")
    )
    return pairs.select("pair.id_a", "pair.id_b").distinct()


def lsh_band_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Bucket-size distribution per minhash band — the monitoring companion
    to ``minhash_lsh_candidates``'s ``max_bucket_size`` cap.

    Output: (band, bucket_size, n_buckets). Run on a corpus sample before
    picking a cap; in production, alert when max(bucket_size) approaches
    the cap so dropped candidates are a decision, not a surprise.
    """
    exploded = minhash_band_rows(
        df, id_col, text_col, num_hashes, band_size, shingle_n
    )
    return (
        exploded.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("band", "bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )


# -------------------------------------------------------------- winnowing


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash all
    character k-grams, slide a window of ``window`` hashes, keep each
    window's minimum; the distinct minima are the document's fingerprints.

    Guarantees any shared substring of length ≥ k+window-1 produces at least
    one shared fingerprint — the standard plagiarism/near-dup sketch. All
    expression-level (transform/sequence/slice/array_min): no explode until
    the final output, no Python.

    Output: (id, fp) — one row per distinct fingerprint.
    """
    # THREE quadratic re-evaluation hazards at long docs, found in
    # sequence by the r12 doc-length probe (79.4 s → linear):
    # 1. the minima lambda slicing the INLINE gram array re-evaluates
    #    the entire md5-per-gram array per window position (the 79.4 s
    #    finding at sf0.1 — no CSE inside HOF lambdas);
    # 2. the gram lambda's substr over INLINE lower(trim(text))
    #    re-normalizes the whole text per gram position (6.0 s at 16×
    #    doc length after fix 1);
    # 3. substr ITSELF on a UTF8String scans from byte 0 to find the
    #    i-th character per call — O(position) even over an attribute
    #    (31 s at 64× doc length after fix 2) — so grams come from a
    #    per-CHARACTER array (split(t, '') matches substr semantics,
    #    multibyte included) with O(1) array indexing.
    # Staging: the char array in its own select — CollapseProject leaves
    # it alone because the gram select references it TWICE (size + the
    # lambda), and expensive-referenced-twice never inlines; the gram
    # array below the Generate (the Generate boundary blocks collapse);
    # explode_outer so InferFiltersFromGenerate can't clone the array
    # into a never-false size()>0 filter; scan-pushed NOT NULL guard
    # keeping outer ≡ inner (non-null ⇒ ≥1 window).
    chars = F.col("_chars")
    n_grams = F.greatest(F.size(chars) - (k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: fingerprint64(F.array_join(F.slice(chars, i, k), "")),
    )
    pre = (
        _spread(
            df.filter(F.col(text_col).isNotNull()).select(
                F.col(id_col), F.col(text_col)
            ),
            id_col,
        )
        .select(
            F.col(id_col),
            F.split(F.lower(F.trim(F.col(text_col))), "").alias("_chars"),
        )
        .select(F.col(id_col), grams.alias("_grams"))
    )
    n_windows = F.greatest(F.size(F.col("_grams")) - (window - 1), F.lit(1))
    minima = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.array_min(F.slice(F.col("_grams"), j, window)),
    )
    return pre.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(minima)).alias("fp"),
    )


# ----------------------------------------------------------------- simhash


SIMHASH_BITS = 48  # 48 of 64 bits: keeps every intermediate positive in
# signed-64 arithmetic so the value is portable to engines that error on
# bigint overflow (the signature quality loss vs 64 bits is negligible for
# near-dup detection)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash: (id, simhash) as a non-negative bigint.

    Classic Charikar scheme: each token votes ±1 on each bit of its 64-bit
    fingerprint; bit b of the signature is 1 iff the vote sum is positive.

    Plan: explode tokens → one groupBy(id) with ``bits`` small SUM
    aggregates (map-side combined) → bit reassembly as a linear expression.
    Near-dup detection then compares signatures by hamming distance
    (``bit_count(a ^ b)``), typically via banding the signature exactly like
    minhash LSH.
    """
    toks = _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id").select(
        "_id", F.explode(_tokens(F.col(text_col))).alias("_t")
    )
    fp = fingerprint64(F.col("_t"))
    aggs = [
        F.sum(
            F.when(F.shiftright(fp, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy("_id").agg(*aggs)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else (sig + term)
    return votes.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash banding + hamming verification.

    Splits the signature into ``bands`` chunks; pairs agreeing on any chunk
    are candidates (a pair within hamming ≤ bands-1 must agree on ≥1 chunk);
    verified with ``bit_count(xor) ≤ max_hamming``.
    """
    sig = simhash(df, id_col, text_col)
    chunk = SIMHASH_BITS // bands
    keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * chunk)
                .bitwiseAND(F.lit((1 << chunk) - 1))
                .alias("key"),
            )
            for i in range(bands)
        ]
    )
    ex = sig.select(F.col(id_col).alias("_id"), F.col("simhash"), F.explode(keys).alias("bk"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk.band") == F.col("b.bk.band"))
            & (F.col("a.bk.key") == F.col("b.bk.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------- duplicate clusters (CC)


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (id, cluster_id = min id reachable), one row per id appearing in pairs.

    The step every corpus dedup needs AFTER pair generation: pairs say
    "A≈B, B≈C" — keep-one-per-group needs the transitive closure
    {A,B,C}. Min-label propagation: labels start as own id; each round
    every node takes the min of its label and its neighbors' labels (one
    equi-join + one map-side-combined groupBy per round, both shuffling
    on node id), until a fixpoint. Rounds needed = cluster diameter —
    near-dup graphs are unions of near-cliques from bucket expansion, so
    2-4 in practice; ``max_iters`` bounds adversarial chains.
    ``algorithm='star'`` switches to the alternating
    large-star/small-star construction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): O(log n) rounds on
    any graph shape, so chain/path graphs whose diameter exceeds
    ``max_iters`` still converge — same output contract, property-tested
    on a 1000-node path in ``tests/test_operators.py``. Default stays
    min-label propagation: on real near-dup graphs (tiny diameter) it
    does strictly less work per round. ``algorithm='auto'`` runs
    label-prop and, ONLY if it hits ``max_iters`` unconverged (a
    pathological high-diameter graph), falls back to the star variant —
    the self-healing production setting.
    Each round materializes via ``localCheckpoint`` so lineage doesn't
    grow with iterations; convergence is an exact changed-label count,
    computed as an indicator aggregate over the SAME checkpointed
    label-update output — no separate old-vs-new join (VERDICT r4).

    The iteration's shuffles are sized to the MEASURED graph, not the
    session default: the edge count is known once the edge list
    materializes (a scalar the driver already pays for), and a near-dup
    graph is orders of magnitude smaller than its corpus — per-round
    exchanges at ``spark.sql.shuffle.partitions`` (tuned for corpus-scale
    scans) would spend more on empty-partition overhead than on work.
    ~500k edges per partition; a 100 TB corpus' multi-billion-edge graph
    still gets thousands of partitions. The conf is scoped to the loop
    and restored.
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # materialize the edge list ONCE: every round joins against it, and
    # without this the (possibly expensive) upstream pair pipeline would
    # re-execute per iteration — measured 6.8 s → 1.3 s on the sf0.1
    # jaccard graph. Symmetrize with a single-scan explode, NOT
    # union(edges, edges.reversed): the union form executes the upstream
    # pair pipeline twice inside the one materializing job (r5: 3.0 →
    # 2.0 s on the same graph)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        # lazy (r14): the count below scans EVERY partition, so it
        # triggers the full materialization itself — the eager form ran
        # an extra scheduled job for the same work. (Lazy checkpoints
        # are only safe under a full-scan first action; since r15 the
        # per-round label checkpoints qualify too — their convergence
        # probe is a FULL changed-label count, one action per round.)
        .localCheckpoint(eager=False)
    )
    n_edges = sym.count()
    spark = sym.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # the conf may be non-numeric (e.g. "auto" under some AQE setups)
        session_parts = int(prev_parts)
    except (TypeError, ValueError):
        session_parts = 200
    loop_parts = max(1, min(session_parts, (n_edges + 499_999) // 500_000))
    # NOTE: session-global conf, scoped to the loop and restored — assumes
    # no concurrent queries share this session during the iteration (true
    # for the engine's runner; a multi-tenant session should repartition
    # explicitly instead)
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        if algorithm == "star":
            labels = _cc_alternating_star(sym, max_iters)
        elif algorithm == "auto":
            labels = _cc_label_prop(sym, max_iters)
            if labels is None:
                labels = _cc_alternating_star(sym, max_iters)
        else:
            labels = _cc_label_prop(sym, max_iters)
            if labels is None:
                raise RuntimeError(
                    f"duplicate_clusters: label propagation did not converge "
                    f"in {max_iters} rounds (graph diameter exceeds max_iters); "
                    "use algorithm='star' or 'auto'"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return labels


def _cc_label_prop(sym: DataFrame, max_iters: int) -> DataFrame | None:
    """Min-label propagation rounds over a symmetric edge list.

    Returns ``None`` if ``max_iters`` rounds pass without reaching the
    fixpoint (unconverged labels would silently under-merge clusters)."""
    labels = None
    changed = 1
    for it in range(max_iters):
        if it == 0:
            # round 1 fused (r14): labels start as own id, so the
            # neighbor-min join against the initial label table is an
            # identity join — the round is exactly ONE aggregation over
            # the symmetric edge list (every node appears as `a`), and
            # the separate distinct+checkpoint label init disappears
            # with it. Same labels, one join + one materializing action
            # fewer per CC call.
            new_labels = (
                sym.groupBy("a")
                .agg(F.min("b").alias("_min_nbr"))
                .select(
                    F.col("a").alias("id"),
                    F.least(F.col("a"), F.col("_min_nbr")).alias("cluster_id"),
                    F.col("a").alias("_prev"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            nbr_min = (
                sym.join(
                    labels.select(
                        F.col("id").alias("b"), F.col("cluster_id").alias("_nl")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("_nl").alias("_min_nbr"))
            )
            # carry the previous label through the update so convergence
            # is a plain indicator aggregate over the checkpointed result
            # — the old-vs-new join this replaces cost one shuffle-join
            # per round
            new_labels = (
                labels.join(nbr_min, labels["id"] == nbr_min["a"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"), F.coalesce("_min_nbr", "cluster_id")
                    ).alias("cluster_id"),
                    F.col("cluster_id").alias("_prev"),
                )
                .localCheckpoint(eager=False)
            )
        # ONE action per round (r15, VERDICT r14 item 8): the full
        # changed-label count scans EVERY partition, so it doubles as the
        # lazy checkpoint's materializing action — the r14 form scheduled
        # a separate eager-checkpoint job, then a limit(1) probe that
        # short-circuited mid-loop but re-scanned the whole frame on the
        # converged final round. Strictly fewer jobs, strictly less work.
        changed = new_labels.filter(F.col("cluster_id") != F.col("_prev")).count()
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    return labels if changed == 0 else None


def _cc_alternating_star(sym: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al. 2014): converges in O(log n) rounds on ANY graph,
    including paths/chains where per-round min-label propagation needs
    diameter rounds.

    Representation: a directed edge (a, b) means "a's current parent
    candidate is b". Large-star hangs every larger neighbor off the
    neighborhood minimum; small-star re-hangs the smaller neighbors.
    At the fixpoint the edges form a star forest (child → component
    minimum), which IS the label assignment.
    """
    nodes = sym.select(F.col("a").alias("id")).distinct().localCheckpoint()
    edges = sym.filter(F.col("a") > F.col("b")).localCheckpoint()  # one direction: larger → smaller
    n_prev = edges.count()

    for _ in range(max_iters):
        # ---- large-star: m(u) = min(Γ(u) ∪ {u}); for v ∈ Γ(u), v > u → (v, m)
        nbrs = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = nbrs.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("_m"))
        large = (
            nbrs.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star over (larger → smaller) edges:
        # m(u) = min of u's smaller neighbors; re-hang u and every other
        # smaller neighbor off m
        d = large.filter(F.col("a") > F.col("b"))
        smins = d.groupBy("a").agg(F.min("b").alias("_m"))
        joined = d.join(smins, "a")
        small = (
            joined.filter(F.col("b") != F.col("_m"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .union(joined.select("a", F.col("_m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # both sides are distinct, so equal counts + one-sided emptiness
        # of the difference is full set equality
        n_small = small.count()
        converged = n_small == n_prev and small.exceptAll(edges).limit(1).count() == 0
        edges, n_prev = small, n_small
        if converged:
            break

    # star forest → labels; roots (and isolated nodes) label themselves
    return (
        nodes.join(edges.select(F.col("a").alias("id"), F.col("b").alias("_cid")), "id", "left")
        .select("id", F.coalesce("_cid", "id").alias("cluster_id"))
    )


def segment_boilerplate_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level exact segment dedup: remove fixed-width word segments
    that recur across ``min_df`` or more documents, preserving the order of
    what remains.

    The scalable approximation of suffix-array ExactSubstr dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better")
    and the batch analog of C4/RefinedWeb line-level boilerplate removal:
    cross-document repeated spans (templates, nav chrome, license
    headers, duplicated passages) are exactly the text a trained model
    memorizes first. Documents are cut into non-overlapping ``seg_words``
    windows; a segment's document frequency is counted corpus-wide; any
    segment hitting ``min_df`` distinct documents is dropped from every
    document; survivors reassemble in original order.

    Returns ``(id_col, text_clean, n_segments, n_removed)`` — one row per
    input document (fully-boilerplate documents come back with empty
    ``text_clean``; pair with doc-level dedup upstream so exact duplicates
    don't erase each other).

    Scale shape: segmentation is a codegen ``transform``/``posexplode``
    narrow map; the only shuffles are the segment-df groupBy (map-side
    combined) and the per-document reassembly groupBy; the boilerplate
    segment set joins as a broadcast-able LEFT ANTI probe (it is bounded
    by repeated content, not corpus size). No driver-side collection.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), " ")
    # word array as an attribute below the Generate: inlined, the
    # per-segment slice re-splits the whole text per segment —
    # O(|text|²/seg_words) per doc (the r12 text_winnow finding)
    pre = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), words.alias("_words")
    )
    nseg = F.ceil(F.size(F.col("_words")) / F.lit(float(seg_words))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(
            F.slice(F.col("_words"), i * seg_words + 1, F.lit(seg_words)), " "
        ),
    )
    # posexplode_outer for the same InferFiltersFromGenerate reason;
    # non-null text always yields >= 1 segment
    seg_rows = pre.select(
        F.col(id_col), F.posexplode_outer(segs).alias("seg_idx", "seg")
    )
    boiler = (
        seg_rows.groupBy("seg")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("seg")
    )
    kept = seg_rows.join(boiler, "seg", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = pre.select(F.col(id_col), nseg.cast("long").alias("n_segments"))
    return base.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        "n_segments",
        (F.col("n_segments") - F.coalesce("_n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def incremental_cluster_fold(
    new_pairs: DataFrame,
    new_docs: DataFrame,
    existing_labels: DataFrame | None = None,
) -> DataFrame:
    """One incremental step of transitive near-dup clustering via
    CONTRACTED-graph connected components — the shared core of the batch
    model (``models_corpus``'s ``corpus_neardup_clusters_inc``) and the
    streaming fold (``streaming/dedup.py``), factored here so the two
    twins cannot drift.

    Inputs: ``new_pairs`` (id_a, id_b — this step's new edges; self
    pairs ignored), ``new_docs`` (doc_id — this step's newly processed
    docs), ``existing_labels`` (doc_id, cluster_id — the accumulated
    labels table, or None on the first step). Returns the rows to MERGE
    on doc_id: every new doc's label (min reachable doc id; singletons
    label themselves) plus ONLY the existing rows whose cluster
    representative changed. CC runs on the representative graph — new
    edges mapped through the existing labels — which is orders of
    magnitude smaller than the corpus graph.
    """
    real = new_pairs.filter(F.col("id_a") < F.col("id_b"))
    if existing_labels is not None:
        lab_a = existing_labels.select(
            F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("_la")
        )
        lab_b = existing_labels.select(
            F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("_lb")
        )
        contracted = (
            real.join(lab_a, "id_a", "left")
            .join(lab_b, "id_b", "left")
            .select(
                F.coalesce("_la", "id_a").alias("id_a"),
                F.coalesce("_lb", "id_b").alias("id_b"),
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
    else:
        contracted = real.select("id_a", "id_b")
    if contracted.limit(1).count() > 0:
        # resolve: old/interim label → final (min-id) representative
        resolve = duplicate_clusters(contracted).select(
            F.col("id").alias("_old"), F.col("cluster_id").alias("_new")
        )
        new_rows = new_docs.join(
            resolve, new_docs["doc_id"] == resolve["_old"], "left"
        ).select("doc_id", F.coalesce("_new", "doc_id").alias("cluster_id"))
        if existing_labels is not None:
            changed = (
                existing_labels.join(resolve, F.col("cluster_id") == F.col("_old"))
                .filter(F.col("_new") != F.col("cluster_id"))
                .select("doc_id", F.col("_new").alias("cluster_id"))
            )
            new_rows = new_rows.unionByName(changed)
        return new_rows
    return new_docs.select("doc_id", F.col("doc_id").alias("cluster_id"))


def dedup_by_clusters(
    df: DataFrame, id_col: str, clusters: DataFrame
) -> DataFrame:
    """Survivor set under a cluster assignment: keep the min-id member of
    every duplicate cluster plus every unclustered row. The join is an id
    equi-join against the (small) cluster table — broadcast when it fits."""
    keep = clusters.groupBy("cluster_id").agg(F.min("id").alias(id_col))
    drop = clusters.select(F.col("id").alias(id_col)).exceptAll(
        keep.select(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def keep_best_per_cluster(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Canonical-document selection: per duplicate cluster, keep the
    highest-quality member (``quality_col`` desc, min id tie-break).

    Min-id survivor selection (:func:`dedup_by_clusters`) is arbitrary;
    production corpus dedup keeps the BEST copy of each near-dup group —
    longest, highest quality-score, most recent — because near-dups
    usually differ by truncation or boilerplate injection. Output: one
    row per cluster ``(cluster_id, cluster_size, canonical_doc_id,
    canonical_quality)``.

    Scale: the cluster table is (id, cluster_id) — 16 bytes/row; the
    quality lookup is an id equi-join (AQE-broadcast when small). The
    argmax is a max_by-shaped grouped aggregation, map-side combined —
    no window buffering a whole cluster partition, so a degenerate
    million-member cluster costs one combine tree, not one task's RAM.
    """
    q = docs.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("_q")
    )
    joined = clusters.join(q, "id")
    # argmax via max(struct): struct ordering is (quality desc → negate,
    # id asc) — single grouped agg, partial aggregation on the map side
    best = F.max(F.struct(F.col("_q").alias("q"), (-F.col("id")).alias("nid")))
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            best.alias("_best"),
        )
        .select(
            "cluster_id",
            "cluster_size",
            (-F.col("_best.nid")).cast("long").alias("canonical_doc_id"),
            F.col("_best.q").alias("canonical_quality"),
        )
    )


def cluster_trust(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str,
    is_trusted: Column,
) -> DataFrame:
    """Trust/quality propagation through duplicate clusters: every
    document inherits the trusted-member share of its whole near-dup
    closure — ``(id, cluster_id, cluster_size, n_trusted, trust_e6,
    is_trusted)``, one row per INPUT document (singletons form their own
    cluster and inherit only themselves).

    The curation move this enables: a scraped copy of a trusted page
    carries no trust signal of its own (unknown mirror domain), but its
    cluster does — RefinedWeb/CCNet-style pipelines use exactly this to
    keep mirrors of curated content and drop clusters of spam that
    happen to include one false-positive trusted hit. Integer e6 share,
    floor contract, so the DuckDB closure oracle hash-matches.

    Scale: the cluster table is 16 bytes/row; singleton extension is a
    LEFT join on id (AQE-splittable) with ``coalesce`` to own-id; the
    share is one map-side-combined groupBy on cluster_id; the
    propagation back is a cluster-keyed equi-join — a degenerate
    million-member cluster is one hot join key, which AQE skew-split
    handles (pinned for the jaccard family in ``tests/test_plans.py``).
    """
    base = docs.select(
        F.col(id_col).alias("id"), is_trusted.cast("int").alias("_tr")
    )
    mem = base.join(clusters, "id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("id"))
    )
    share = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.sum("_tr").cast("long").alias("n_trusted"),
    )
    return (
        mem.join(share, "cluster_id")
        .withColumn("trust_e6", F.expr("n_trusted * 1000000 div cluster_size"))
        .select(
            "id",
            "cluster_id",
            "cluster_size",
            "n_trusted",
            "trust_e6",
            (F.col("_tr") == 1).alias("is_trusted"),
        )
    )


# ------------------------------------------------- repeated-span detection


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    two_phase: bool = True,
) -> DataFrame:
    """Maximal repeated-span detection over SLIDING k-word windows — the
    fine-grained tier of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Where ``segment_boilerplate_dedup`` cuts documents into
    NON-overlapping fixed segments (cheap, but a repeated passage that
    straddles a segment boundary is invisible), this operator slides a
    k-word window one token at a time, so every repeated passage of
    ``>= k`` tokens is caught at its exact boundaries: any window whose
    corpus-wide occurrence count reaches ``min_count`` (within-document
    repeats included, matching suffix-array semantics) marks its k
    tokens as duplicated, and runs of overlapping/adjacent duplicated
    windows merge into maximal spans per document.

    Returns one row per maximal span:
    ``(id_col, n_tokens, span_start, span_end, span_tokens)`` with
    0-based inclusive token indices. Documents shorter than ``k`` tokens
    or containing no duplicated window produce no rows.

    Scale shape: window construction is a codegen
    ``transform``/``posexplode`` narrow map; with ``two_phase`` (default)
    the only corpus-wide exchange carries an 8-byte ``xxhash64`` per
    window — the FULL-WIDTH md5 the destructive consumers key on is
    computed only for windows surviving the broadcast candidate filter
    (see ``_survivor_windows`` for the correctness argument and the
    fallback contract). The occurrence count is a map-side combined
    groupBy; marking duplicated windows is a fingerprint equi-join
    (AQE-skew-splittable — deliberately NOT a count-over-window, which
    would pin each hot template fingerprint to one task); the island
    merge windows partition by document, so its state is bounded by the
    longest document, never by corpus size. No driver-side collection
    anywhere.
    """
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (1 marks every window duplicated), got {min_count}"
        )
    wins = _survivor_windows(
        _window_rows_text(df, id_col, text_col, k), min_count, two_phase
    )
    dup_fps = (
        wins.groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") >= min_count)
        .select("_fp")
    )
    hits = wins.join(dup_fps, "_fp").select(id_col, "n_tokens", "pos")
    spans = _merge_windows_to_spans(hits, id_col, k, carry=["n_tokens"])
    return spans.select(
        id_col,
        "n_tokens",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("span_tokens"),
    )


def ws_tokens_exact(text_col: F.Column | str) -> F.Column:
    """Single-space tokenization in normalized (lower/trim) space — the
    ORACLE-PARITY tokenizer shared by every span tier and the bigram LM.
    The span tiers' reassembly must tokenize byte-identically to their
    window construction or span indices cut the wrong tokens; this one
    definition pins that invariant. (Contrast ``_tokens``, whose ``\\s+``
    regex semantics the shingle tiers use.)"""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), " ")


def _window_rows_text(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Sliding k-word window TEXT with 0-based positions:
    ``(id_col, n_tokens, pos, _w)``. Docs shorter than k produce none.
    Narrow map; ``_w`` exists so callers can derive whichever fingerprint
    their phase needs (8-byte xxhash64 candidate key, full md5 verify key)
    without re-tokenizing — it must never reach an exchange."""
    if k < 2:
        raise ValueError(f"window width k must be >= 2, got {k}")
    toks = ws_tokens_exact(text_col)
    # the token array must be an ATTRIBUTE before the window lambda
    # slices it: inlined, `slice(split(text), i+1, k)` re-splits the
    # WHOLE text once per window position — O(|text|²) character work
    # per doc (the r12 text_winnow finding, 72× there). The Generate
    # boundary below blocks CollapseProject from re-inlining.
    pre = (
        _spread(df, id_col)
        .filter(F.size(toks) >= k)
        .select(F.col(id_col), toks.alias("_toks"))
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_toks")) - k),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k)),
    )
    # posexplode_outer: InferFiltersFromGenerate would clone the whole
    # window-array expression into a never-false size()>0 filter (the
    # CDC r12 finding); the >= k filter above guarantees >= 1 window
    return pre.select(
        F.col(id_col),
        F.size(F.col("_toks")).cast("long").alias("n_tokens"),
        F.posexplode_outer(wins).alias("pos", "_w"),
    )


def _window_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Sliding k-word window fingerprints with 0-based positions:
    ``(id_col, n_tokens, pos, _fp)``. Docs shorter than k produce none.

    ``_fp`` is the FULL 128-bit md5 of the window (32-char hex): the
    strip/decontaminate consumers delete or flag content keyed on it, so
    a truncated-hash collision would silently corrupt unique documents —
    at ~2^30 windows (a few GB of text) a 60-bit key already reaches
    even collision odds, while 128 bits never do.
    """
    return (
        _window_rows_text(df, id_col, text_col, k)
        .withColumn("_fp", F.md5("_w"))
        .drop("_w")
    )


def _survivor_windows(
    wins_text: DataFrame, min_count: int, two_phase: bool
) -> DataFrame:
    """Windows carrying their full-width md5 ``_fp``, restricted (when
    ``two_phase``) to fingerprint buckets that can still reach
    ``min_count`` — the shuffle-width optimization of the span tiers
    (VERDICT r6 item 5).

    Single-phase ships a 32-char md5 hex per sliding window into the
    occurrence-count exchange — ~32 bytes of shuffle per corpus token at
    ExactSubstr granularity. Two-phase instead:

    1. counts occurrences of the 8-byte ``xxhash64`` of each window
       (map-side combined; the only corpus-wide exchange, ~4× narrower),
    2. broadcasts the candidate fingerprints that reached ``min_count``,
    3. filters windows map-side against the broadcast and computes the
       full md5 ONLY for survivors — downstream exact counting and
       first-occurrence picks shuffle dup-fraction-sized data.

    Correctness is unchanged: every occurrence of identical window text
    has an identical xxhash64, so an md5 group with ``occ >= min_count``
    implies its (superset) xxhash64 group also reached ``min_count`` —
    phase 1 never drops a true duplicate, and xx collisions only admit
    extra windows that phase 2's exact md5 count then rejects. The
    destructive consumers still key every decision on the 128-bit md5.

    Tradeoffs, stated: two-phase reads the corpus once more (candidate
    pass + the two downstream uses re-derive windows — narrow codegen
    maps, no exchange) and requires the candidate set (DISTINCT
    duplicated fingerprints, not dup occurrences) to fit a broadcast;
    for a pathologically self-similar corpus set ``two_phase=False`` to
    fall back to the single-exchange md5 plan.
    """
    if not two_phase:
        return wins_text.withColumn("_fp", F.md5("_w")).drop("_w")
    cand = (
        wins_text.select(F.xxhash64("_w").alias("_fpx"))
        .groupBy("_fpx")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") >= min_count)
        .select("_fpx")
    )
    return (
        wins_text.withColumn("_fpx", F.xxhash64("_w"))
        .join(F.broadcast(cand), "_fpx")
        .withColumn("_fp", F.md5("_w"))
        .drop("_w", "_fpx")
    )


def _merge_windows_to_spans(
    hits: DataFrame, id_col: str, k: int, carry: list[str]
) -> DataFrame:
    """Merge marked window positions into maximal per-document spans.

    Windows at pos p and q (p < q) overlap or adjoin iff ``q - p <= k``;
    a larger gap starts a new island. The window partitions by document,
    so state is bounded by the longest document, never corpus size.
    """
    from pyspark.sql import Window

    order = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(order).isNull()
        | (F.col("pos") - F.lag("pos").over(order) > k),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = hits.withColumn("_brk", brk).withColumn(
        "_span_id",
        F.sum("_brk").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(id_col, *carry, "_span_id").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
    ).drop("_span_id")


def strip_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    two_phase: bool = True,
) -> DataFrame:
    """KEEP-FIRST repeated-span removal — the apply tier of ExactSubstr
    dedup: every duplicated k-word window keeps its globally-first
    occurrence (lexicographic min of ``(doc id, position)``) and every
    LATER occurrence is stripped, so shared passages survive exactly once
    in the corpus and within-document repeats keep their first copy.

    A token is dropped when a REDUNDANT (non-first) duplicated window
    covers it — the standard ExactSubstr cut, which may clip tokens
    adjacent to a kept first occurrence when overlapping windows have
    first occurrences in different documents.

    Returns one row per input document in normalized token space
    (lowercased, single-space — the space dedup operates in):
    ``(id_col, text_clean, n_tokens, n_dropped)``.

    Scale shape: on top of the detection plan (incl. the ``two_phase``
    8-byte candidate exchange — see ``_survivor_windows``), the
    first-occurrence pick is a lexicographic struct-min folded into the
    SAME map-side combined groupBy as the occurrence count (no window
    over the hot fingerprint); per-doc span lists are bounded by document
    length; reassembly is one narrow ``filter``/``array_join`` map over
    the token array.
    """
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (1 marks every window duplicated), got {min_count}"
        )
    wins = _survivor_windows(
        _window_rows_text(df, id_col, text_col, k), min_count, two_phase
    )
    stats = (
        wins.groupBy("_fp")
        .agg(
            F.count(F.lit(1)).alias("_occ"),
            F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
                "_first"
            ),
        )
        .filter(F.col("_occ") >= min_count)
        .select("_fp", "_first")
    )
    redundant = (
        wins.join(stats, "_fp")
        .filter(
            ~(
                (F.col(id_col) == F.col("_first.d"))
                & (F.col("pos") == F.col("_first.p"))
            )
        )
        .select(id_col, "pos")
    )
    spans = _merge_windows_to_spans(redundant, id_col, k, carry=[])
    return _cut_spans_from_docs(df, spans, id_col, text_col)


def _cut_spans_from_docs(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Remove the token extents in ``spans`` (``span_start``/``span_end``
    per ``id_col``) from each document — the shared apply tail of
    :func:`strip_repeated_spans` and :func:`scrub_contaminated_spans`.

    One narrow map after a per-doc span collect (span lists bounded by
    document length); documents with no spans pass through in normalized
    token space. Output: ``(id_col, text_clean, n_tokens, n_dropped)``.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    # MUST tokenize byte-identically to _window_rows or the span indices
    # cut the wrong tokens — hence the shared helper
    toks = ws_tokens_exact(text_col)
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("_spans", F.coalesce("_spans", empty))
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias("text_clean"),
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_dropped"),
        )
    )


def contaminated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 8,
    broadcast_bench: bool = True,
) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination — ExactSubstr against a
    held-out set: mark the exact token extents where corpus documents
    reproduce k-word windows of a benchmark suite. Doc-level overlap
    scores (``operators/contamination.py``) answer "is this document
    contaminated?"; this answers "WHERE" — the spans a surgical scrub
    would cut instead of dropping the whole document.

    Returns one row per maximal contaminated span in the corpus frame:
    ``(id_col, n_tokens, span_start, span_end, span_tokens)``.

    Scale shape: the benchmark window-fingerprint set is bounded by
    benchmark size (tiny by nature — thousands of documents), so it is
    PINNED to broadcast with an explicit hint by default and the corpus
    never shuffles on content: one narrow window map + broadcast
    semi-join + per-document island merge. The hint is mandatory, not
    advisory — a benchmark too large for executor memory fails loudly at
    the broadcast rather than degrading. ``broadcast_bench=False`` is
    the measured fallback for a benchmark that genuinely outgrows
    broadcast (the r10 1000×-fixture probe, whose synthetic benchmark
    scales WITH the corpus, hit exactly this: the pinned broadcast
    failed loudly at ~500k benchmark docs and the shuffled 8-byte-
    fingerprint semi-join completed — numbers in PERF.md r10): windows
    exchange only (id, n_tokens, pos, fp) — never text — hashed on the
    fingerprint, the same narrow-exchange discipline as the span tiers'
    two-phase candidate pass.
    """
    wins = _window_rows(df, id_col, text_col, k)
    bench_fps = (
        _window_rows(bench, bench_id_col, bench_text_col, k)
        .select("_fp")
        .distinct()
    )
    if broadcast_bench:
        bench_fps = F.broadcast(bench_fps)
    else:
        bench_fps = bench_fps.hint("shuffle_hash")
    hits = wins.join(bench_fps, "_fp", "left_semi").select(
        id_col, "n_tokens", "pos"
    )
    spans = _merge_windows_to_spans(hits, id_col, k, carry=["n_tokens"])
    return spans.select(
        id_col,
        "n_tokens",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("span_tokens"),
    )


def scrub_contaminated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 8,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Apply tier of span-level decontamination: cut every token extent
    where a corpus document reproduces a k-word window of the benchmark
    (:func:`contaminated_spans`), keeping the rest of the document — the
    surgical alternative to dropping contaminated documents wholesale.

    Same plan as detection (narrow window map + broadcast semi probe —
    the corpus never shuffles on content; ``broadcast_bench=False`` for
    the oversized-benchmark fallback, see :func:`contaminated_spans`)
    plus the shared span-cut tail: one per-doc span collect and one
    narrow reassembly map. Output: ``(id_col, text_clean, n_tokens,
    n_dropped)`` per input document in normalized token space; clean
    documents pass through with ``n_dropped = 0``.
    """
    spans = contaminated_spans(
        df, id_col, text_col, bench, bench_id_col, bench_text_col, k,
        broadcast_bench=broadcast_bench,
    ).select(id_col, "span_start", "span_end")
    return _cut_spans_from_docs(df, spans, id_col, text_col)
