"""Semantics tests for the LLM-pipeline operators (beyond oracle parity).

Oracle parity (test_oracle_parity.py) proves value equality with DuckDB;
these tests check the *operator contracts*: LSH candidate recall vs exact
Jaccard, simhash hamming locality, ANN recall vs brute force, dedup
survivor semantics, and the multimodal binary plumbing.
"""

from __future__ import annotations

import pytest

from tests._util import fuzz_examples
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.operators import dedup as D
from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M
from sample_deepbook_margin_dune_dbt_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs_with_dupes(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup of 0
        (3, "completely different text about spark sql engines and query plans"),
        (4, "another unrelated document mentioning embeddings and vectors"),
        (5, "the quick brown fox jumps over the lazy dog near the river bank today"),  # near dup
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup_survivors(spark, docs_with_dupes):
    survivors = D.dedup_exact(docs_with_dupes, "doc_id", "text")
    ids = {r["doc_id"] for r in survivors.collect()}
    # 0 and 1 are identical → only min id 0 survives; everything else stays
    assert ids == {0, 2, 3, 4, 5}
    groups = {r["keep_id"]: r["dup_count"] for r in D.exact_duplicates(docs_with_dupes, "doc_id", "text").collect()}
    assert groups[0] == 2


def test_ngram_jaccard_finds_near_dupes(spark, docs_with_dupes):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs_with_dupes, "doc_id", "text", threshold=0.4).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup
    assert not any({a, b} == {3, 4} for a, b in pairs)  # unrelated stay apart


def test_minhash_lsh_recall_against_exact(spark, sf_dir):
    """Every high-Jaccard pair (≥0.7) must be recalled by the LSH candidates;
    candidate count must stay far below the full quadratic pair count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    missed = exact - cand
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"
    assert len(cand) < n * (n - 1) / 2 * 0.05, "LSH bucketing degenerated to ~all pairs"


def test_simhash_hamming_locality(spark, docs_with_dupes):
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash(docs_with_dupes, "doc_id", "text").collect()}
    assert sig[0] == sig[1]  # identical docs → identical signature
    ham_near = bin(sig[0] ^ sig[2]).count("1")
    ham_far = bin(sig[0] ^ sig[3]).count("1")
    assert ham_near < ham_far, (ham_near, ham_far)
    assert all(0 <= s < 2**D.SIMHASH_BITS for s in sig.values())


def test_simhash_near_pairs(spark, docs_with_dupes):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_pairs(docs_with_dupes, "doc_id", "text", max_hamming=6).collect()
    }
    assert (0, 1) in pairs
    assert (3, 4) not in pairs


def test_lsh_ann_recall(spark, sf_dir):
    """Bucketed ANN must recover a decent fraction of the exact top-5 and
    never return a neighbor pair from different buckets with wrong scores."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = S.cosine_topk(emb, q, "vec_id", "embedding", "vec_id", k=5)
    approx = S.lsh_ann_topk(emb, q, "vec_id", "embedding", "vec_id", dim=64, k=5, planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"LSH ANN recall too low: {recall:.2f}"
    # scores of overlapping pairs must agree with the exact scorer
    e_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in e_scores:
            assert abs(r["cosine"] - e_scores[key]) < 1e-12


def test_lsh_degenerate_bucket_cap(spark):
    """An all-identical corpus collapses every band into one giant bucket;
    the cap must drop it (quadratic blowup guard) while leaving genuinely
    small near-dup buckets untouched, and the stats companion must expose
    the degenerate bucket so the drop is observable."""
    degenerate = [(i, "same text everywhere always") for i in range(30)] + [
        (100, "a unique document about spark catalyst plans"),
        (101, "a unique document about spark catalyst plan"),  # near dup of 100
    ]
    docs = spark.createDataFrame(degenerate, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(
            docs, "doc_id", "text", max_bucket_size=10
        ).collect()
    }
    assert (100, 101) in capped, "small near-dup buckets must survive the cap"
    assert not any(a < 30 and b < 30 for a, b in capped), (
        "the 30-doc degenerate bucket must be dropped, not exploded into 435 pairs"
    )
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert sum(1 for a, b in uncapped if a < 30 and b < 30) == 435
    stats = D.lsh_band_bucket_stats(docs, "doc_id", "text").collect()
    assert any(r["bucket_size"] == 30 for r in stats), (
        "stats must surface the degenerate bucket"
    )


@pytest.fixture(scope="module")
def planted_near_dups(spark):
    """64-dim corpus with planted near-duplicate clusters (cosine ≥ ~0.97)
    plus unrelated vectors — deterministic (seeded numpy), so the LSH
    candidate outcome is fixed: the recall assertion either always passes
    or always fails, never flakes."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for _cluster in range(12):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for _ in range(3):  # 3 members per cluster, tiny perturbations
            v = base + rng.normal(scale=0.02, size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(80):  # background noise vectors
        v = rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_pairs_lsh_matches_exact(spark, planted_near_dups):
    """The banded-LSH candidate + exact-refine pipeline must reproduce the
    all-pairs cross join's result exactly on planted near-dups (this is the
    production path's correctness contract — same pairs, same cosines)."""
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.cosine_pairs(planted_near_dups, "vec_id", "embedding", 0.9).collect()
    }
    assert len(exact) >= 12, "fixture must actually contain qualifying pairs"
    bucketed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.cosine_pairs_lsh(
            planted_near_dups, "vec_id", "embedding", 0.9, dim=64
        ).collect()
    }
    assert set(bucketed) == set(exact), (
        f"LSH candidates missed pairs: {sorted(set(exact) - set(bucketed))[:5]}"
    )
    for k, c in bucketed.items():
        assert abs(c - exact[k]) < 1e-12


def test_bounded_topk_matches_window_topk(spark, sf_dir):
    """The salted two-level top-k aggregation must be row-identical to the
    row_number window form (ranks, ids, scores) — it is the production
    ranking inside every ANN tier while the window form remains the
    oracle-SQL twin."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    scored = (
        F.broadcast(
            q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_vq"))
        )
        .crossJoin(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_vn"))
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", S.cosine(F.col("_vq"), F.col("_vn")))
    )
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    bounded = sorted(map(tuple, S._bounded_topk(scored, 7).select(*cols).collect()))
    window = sorted(map(tuple, S._window_topk(scored, 7).select(*cols).collect()))
    assert bounded == window and len(bounded) > 0


def test_embedding_bucket_cap_observable(spark):
    """The embedding-LSH twin of the minhash cap test (VERDICT r2 #10):
    on a crafted degenerate corpus (30 identical vectors share every band
    bucket) the cap must drop the collapsed bucket's pairs, and
    ``lsh_bucket_stats`` must report a NONZERO count of buckets above the
    cap — the stats output is the operational signal that a cap dropped
    data, so it is asserted as data, not just presence."""
    base = [0.3] * 63 + [1.0]
    rows = [(i, base) for i in range(30)] + [
        (100, [1.0] + [0.01] * 63),
        (101, [1.0] + [0.012] * 63),  # near-dup of 100, tiny bucket
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_pairs_lsh(
            emb, "vec_id", "embedding", 0.9, dim=64, max_bucket_size=10
        ).collect()
    }
    assert (100, 101) in capped, "small near-dup buckets must survive the cap"
    assert not any(a < 30 and b < 30 for a, b in capped), (
        "the 30-vector degenerate bucket must be dropped, not exploded"
    )
    stats = S.lsh_bucket_stats(emb, "vec_id", "embedding", dim=64).collect()
    dropped = sum(r["n_buckets"] for r in stats if r["bucket_size"] > 10)
    assert dropped > 0, "stats must report a nonzero over-cap bucket count"


@pytest.mark.parametrize("fixture_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_lsh_pairs_equal_exact_on_fixtures(spark, fixture_dir):
    """Guard for the probabilistic recall contract of the DECLARED
    ``dedup_embedding_cosine`` driver query (ADVICE r2): on the actual
    driver fixtures — with the query's own planted-near-dup augmentation —
    the banded-LSH pair set must equal the exact all-pairs set, and be
    non-empty. The LSH weights are deterministic, so a fixture either
    passes forever or never; re-run this whenever testdata or sf changes
    BEFORE trusting the driver's hash-parity row."""
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import _augment_near_dups
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    aug = _augment_near_dups(load(spark, fixture_dir, "embeddings"))
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.cosine_pairs(aug, "vec_id", "embedding", 0.9).collect()
    }
    assert exact, "augmentation must plant qualifying pairs"
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.cosine_pairs_lsh(aug, "vec_id", "embedding", 0.9, dim=64).collect()
    }
    assert set(lsh) == set(exact), (
        f"LSH missed {sorted(set(exact) - set(lsh))[:5]} on {fixture_dir}"
    )


@pytest.mark.parametrize("fixture_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ivf_pairs_equal_exact_on_fixtures(spark, fixture_dir):
    """Recall pin for the IVF candidate generator (the asserted 100 TB
    swap for the embedding near-dup tier, VERDICT r9 item 2): on the
    driver fixtures with the planted-near-dup augmentation, IVF-candidate
    pairs + exact refine must equal the exact all-pairs set — including
    the 1.5×-SCALED duplicates, which is what the spherical (L2-normalized)
    cell assignment exists for."""
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import _augment_near_dups
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    aug = _augment_near_dups(load(spark, fixture_dir, "embeddings"))
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.cosine_pairs(aug, "vec_id", "embedding", 0.9).collect()
    }
    assert exact, "augmentation must plant qualifying pairs"
    ivf = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.cosine_pairs_ivf(aug, "vec_id", "embedding", 0.9).collect()
    }
    assert set(ivf) == set(exact), (
        f"IVF missed {sorted(set(exact) - set(ivf))[:5]} on {fixture_dir}"
    )
    # refined cosines are the same exact arithmetic as the brute tier
    assert all(abs(ivf[k] - exact[k]) == 0.0 for k in ivf)


def test_hyperplane_signature_paths_agree(spark, sf_dir):
    """Expression and vectorized signatures must agree bit-for-bit — they
    share the same float64 weight literals and differ only in summation
    order, which never flips a projection's sign on real data."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    both = emb.select(
        "vec_id",
        S.hyperplane_signature(F.col("embedding"), dim=64, planes=8).alias("expr_sig"),
        S.hyperplane_signature_vectorized(F.col("embedding"), dim=64, planes=8).alias(
            "vec_sig"
        ),
    )
    diff = both.filter(F.col("expr_sig") != F.col("vec_sig")).count()
    assert diff == 0


def test_band_signatures_match_offset_signatures(spark, planted_near_dups):
    """band_signatures[b] must equal the single-signature path at
    plane_offset = b·band_planes — the bands are the same hash family."""
    df = planted_near_dups.limit(20)
    bands = df.select(
        "vec_id", S.band_signatures(F.col("embedding"), 64, 4, 3).alias("bs")
    )
    singles = df.select(
        "vec_id",
        *[
            S.hyperplane_signature(
                F.col("embedding"), 64, 4, plane_offset=b * 4
            ).alias(f"s{b}")
            for b in range(3)
        ],
    )
    joined = bands.join(singles, "vec_id")
    bad = joined.filter(
        (F.col("bs")[0] != F.col("s0"))
        | (F.col("bs")[1] != F.col("s1"))
        | (F.col("bs")[2] != F.col("s2"))
    ).count()
    assert bad == 0


def test_multimodal_binary_plumbing(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\nrestofpng"),
        (2, b"\xff\xd8\xff\xe0jfifdata"),
        (3, b"plain text payload"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    meta = {r["id"]: r for r in M.extract_binary_metadata(df, "id", "payload").collect()}
    assert meta[1]["format"] == "png"
    assert meta[2]["format"] == "jpeg"
    assert meta[3]["format"] == "unknown"
    assert meta[3]["size_bytes"] == len(b"plain text payload")
    import hashlib

    assert meta[1]["md5_hex"] == hashlib.md5(rows[0][1]).hexdigest()


def test_multimodal_frame_sampling(spark):
    payload = bytes(range(256)) * 20  # 5120 bytes → 5 frames at 1024 stride
    df = spark.createDataFrame([(1, payload)], "id long, payload binary")
    frames = M.sample_frames(df, "id", "payload", every_n_bytes=1024, max_frames=8).collect()
    assert len(frames) == 5
    assert [f["frame_index"] for f in sorted(frames, key=lambda r: r["frame_index"])] == list(range(5))


def test_multimodal_resize_fits_box(spark):
    rows = [(1, b"imagebytes-one"), (2, b"imagebytes-two-longer")]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in M.resize_image(df, "id", "payload", 256, 256).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert 1 <= r["width"] <= 256 and 1 <= r["height"] <= 256
        assert isinstance(r["payload"], (bytes, bytearray)) and len(r["payload"]) == 16
    # aspect ratio preserved: the longer source side maps to the longer output side
    import hashlib
    h = hashlib.md5(rows[0][1]).hexdigest()
    src_w, src_h = 1 + int(h[0:4], 16) % 4096, 1 + int(h[4:8], 16) % 4096
    r = out[1]
    assert (src_w >= src_h) == (r["width"] >= r["height"])
    # deterministic: same payload + box → same output fingerprint
    again = {x["id"]: x for x in M.resize_image(df, "id", "payload", 256, 256).collect()}
    assert again[1]["payload"] == r["payload"]


def test_multimodal_decoder_injection(spark):
    """A production decoder is a one-line swap: the injected callable rides
    the same Arrow plumbing and schema as the stub."""
    df = spark.createDataFrame([(1, b"abc"), (2, b"defgh")], "id long, payload binary")
    out = {
        r["id"]: r
        for r in M.decode_image(
            df, "id", "payload", decoder=lambda b: (len(b) * 10, len(b) * 5, 3)
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (30, 15, 3)
    assert (out[2]["width"], out[2]["height"], out[2]["channels"]) == (50, 25, 3)
    resized = {
        r["id"]: r
        for r in M.resize_image(
            df, "id", "payload", 20, 20,
            decoder=lambda b: (len(b) * 10, len(b) * 5, 3),
            resizer=lambda b, w, h: b + f"@{w}x{h}".encode(),
        ).collect()
    }
    # fit-inside: 30×15 → 20×10; payload produced by the injected resizer
    assert (resized[1]["width"], resized[1]["height"]) == (20, 10)
    assert bytes(resized[1]["payload"]) == b"abc@20x10"


def test_weighted_sample_prefers_heavy_rows(spark):
    """Efraimidis–Spirakis selection must be without replacement, respect
    n, exclude non-positive weights, and strongly prefer heavy rows
    (weight 100 vs 1 → the sample is dominated by the heavy group)."""
    from sample_deepbook_margin_dune_dbt_spark.operators import sampling as SM

    rows = [(i, 1) for i in range(100)] + [(i, 100) for i in range(100, 200)]
    rows.append((500, 0))  # zero weight: never selectable
    df = spark.createDataFrame(rows, "id long, w long")
    got = [r["id"] for r in SM.weighted_sample(df, "id", "w", n=30).collect()]
    assert len(got) == 30 and len(set(got)) == 30 and 500 not in got
    heavy = sum(1 for i in got if i >= 100)
    assert heavy >= 25, f"heavy rows should dominate the draw, got {heavy}/30"


def test_ngram_overlap_decontamination(spark):
    """A doc verbatim in the benchmark is fully contaminated; a disjoint
    doc scores 0; a half-overlapping doc lands in between and respects
    the threshold flag."""
    from sample_deepbook_margin_dune_dbt_spark.operators import contamination as Cn

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words about spark catalyst planning"),
            (3, "the quick brown fox sat on a mat near a door"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in Cn.ngram_overlap(docs, "doc_id", "text", bench).collect()}
    assert got[1]["overlap"] == 1.0 and got[1]["contaminated"]
    assert got[2]["n_hits"] == 0 and not got[2]["contaminated"]
    assert 0 < got[3]["overlap"] < 1 and not got[3]["contaminated"]


def test_duplicate_clusters_transitive_closure(spark):
    """Min-label CC must close chains transitively (a-b, b-c, c-d → one
    cluster labeled by the min id) across multiple propagation rounds,
    keep disjoint pairs separate, and dedup_by_clusters must keep exactly
    the min-id member of each cluster plus unclustered rows."""
    pairs = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 12), (20, 21)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"] for r in D.duplicate_clusters(pairs).collect()
    }
    assert got == {3: 3, 7: 3, 9: 3, 12: 3, 20: 20, 21: 20}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 3, 7, 9, 12, 20, 21)], "doc_id long, text string"
    )
    clusters = D.duplicate_clusters(pairs)
    survivors = sorted(
        r["doc_id"] for r in D.dedup_by_clusters(docs, "doc_id", clusters).collect()
    )
    assert survivors == [1, 3, 20]


def test_cc_label_prop_one_action_per_round(spark):
    """Each label-prop round must schedule exactly ONE job (r15, VERDICT
    r14 item 8): the full changed-label count doubles as the lazy
    checkpoint's materializing action. The r14 form ran two per round
    (eager checkpoint + limit(1) probe). Budget: 1 edge-materializing
    count + 1 per round."""
    pairs = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 12), (20, 21)], "id_a long, id_b long"
    )
    pairs.count()  # pay createDataFrame/first-use jobs outside the group
    sc = spark.sparkContext
    # AQE materializes each shuffle stage as its own job, making job
    # counts measure plan depth instead of scheduled actions — pin it
    # off so 1 action == 1 job for the duration of the probe
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc-rounds", "label prop actions", False)
    try:
        got = {
            r["id"]: r["cluster_id"] for r in D.duplicate_clusters(pairs).collect()
        }
    finally:
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup("cc-rounds"))
        sc.setJobGroup("", "", False)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert got == {3: 3, 7: 3, 9: 3, 12: 3, 20: 20, 21: 20}
    # chain 7-3-9-12 needs 3 rounds to converge (labels change in rounds
    # 1 and 2, round 3 confirms the fixpoint): 1 sym-edge count + 3 round
    # counts + 1 final collect = 5 jobs. The r14 two-action form ran 8.
    assert len(jobs) <= 5, f"CC scheduled {len(jobs)} jobs, expected <= 5"


def test_duplicate_clusters_star_chain_graph(spark):
    """Large-star/small-star CC must converge on a 1000-node path graph
    within 20 rounds (O(log n)); min-label propagation would need
    diameter ≈ 999 rounds, exceeding max_iters. The whole path is one
    component labeled by the min id."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long"
    )
    got = D.duplicate_clusters(pairs, algorithm="star", max_iters=20)
    dist = got.groupBy("cluster_id").count().collect()
    assert len(dist) == 1
    assert dist[0]["cluster_id"] == 0 and dist[0]["count"] == 1000


def test_duplicate_clusters_star_matches_label_prop(spark):
    """Both CC algorithms must produce identical labelings on a mixed
    random graph (several components, cliques and chains)."""
    import random

    rng = random.Random(7)
    edges = []
    # three deliberate components: a clique, a chain, a star
    edges += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    edges += [(i, i + 1) for i in range(200, 215)]
    edges += [(300, t) for t in range(301, 310)]
    # plus random noise edges inside a disjoint id range
    edges += [
        (rng.randrange(400, 450), rng.randrange(400, 450)) for _ in range(60)
    ]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    lp = {r["id"]: r["cluster_id"] for r in D.duplicate_clusters(pairs).collect()}
    st = {
        r["id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs, algorithm="star").collect()
    }
    assert lp == st


def test_ensure_k_neighbors_escalates_deficits(spark):
    """A query whose approximate result has fewer than k rows must be
    re-answered by the exact scan; full queries keep their lists."""
    import math

    from sample_deepbook_margin_dune_dbt_spark.operators import similarity as S

    vecs = spark.createDataFrame(
        [(i, [math.cos(i / 7.0), math.sin(i / 7.0), float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    queries = vecs.filter(F.col("vec_id") < 2)
    exact = S.cosine_topk(vecs, queries, "vec_id", "embedding", "vec_id", k=5)
    # fabricate a deficient approximate answer: query 0 got only 2 rows
    out = exact.filter((F.col("query_id") != 0) | (F.col("rank") <= 2))
    fixed = S.ensure_k_neighbors(
        out, vecs, queries, "vec_id", "embedding", "vec_id", k=5
    )
    by_q = {
        q: sorted((r["rank"], r["neighbor_id"]) for r in rows)
        for q, rows in [
            (q, [r for r in fixed.collect() if r["query_id"] == q]) for q in (0, 1)
        ]
    }
    want = {
        q: sorted((r["rank"], r["neighbor_id"]) for r in exact.collect() if r["query_id"] == q)
        for q in (0, 1)
    }
    assert by_q == want
    # no deficit → output returned untouched (same rows)
    same = S.ensure_k_neighbors(
        exact, vecs, queries, "vec_id", "embedding", "vec_id", k=5
    )
    assert sorted(map(tuple, same.collect())) == sorted(map(tuple, exact.collect()))


def test_segment_boilerplate_dedup_planted(spark):
    """A 10-word span planted in 3 documents must vanish from all of
    them; unique text survives verbatim with order preserved; a fully
    boilerplate document returns empty; accounting (n_segments,
    n_removed) must balance."""
    boiler = "click here to accept cookies and continue to the site"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, boiler + " one two three four five six seven eight nine ten"),
            (3, boiler),  # nothing but the planted span
            (4, "entirely original words that no other document shares at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in D.segment_boilerplate_dedup(
            docs, "doc_id", "text", seg_words=10, min_df=2
        ).collect()
    }
    assert got[1]["text_clean"] == "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    assert got[2]["text_clean"] == "one two three four five six seven eight nine ten"
    assert got[3]["text_clean"] == "" and got[3]["n_removed"] == 1
    assert got[4]["text_clean"] == docs.collect()[3]["text"]
    for r in got.values():
        assert 0 <= r["n_removed"] <= r["n_segments"]
    # raising min_df above the plant count disables removal everywhere
    untouched = D.segment_boilerplate_dedup(
        docs, "doc_id", "text", seg_words=10, min_df=4
    )
    assert untouched.filter(F.col("n_removed") > 0).count() == 0


def test_stdlib_image_decode_real_headers(spark):
    """The stdlib decoder must read TRUE dims from genuine format headers
    (PNG round-trip through the synthesizer, hand-built GIF and JPEG
    SOF0), distributed through the same decode_image plumbing."""
    import struct as _s

    png = M.synth_png(640, 123, color_type=6)
    gif = b"GIF89a" + _s.pack("<HH", 320, 200) + b"\x00" * 6
    jpeg = (
        b"\xff\xd8\xff\xe0" + _s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + _s.pack(">H", 11) + b"\x08" + _s.pack(">HH", 77, 99) + b"\x03"
        + b"\xff\xd9"
    )
    assert M.stdlib_image_decode(png) == (640, 123, 4)
    assert M.stdlib_image_decode(gif) == (320, 200, 3)
    assert M.stdlib_image_decode(jpeg) == (99, 77, 3)
    with pytest.raises(ValueError):
        M.stdlib_image_decode(b"plain text payload")
    df = spark.createDataFrame([(1, png), (2, gif), (3, jpeg)], "id long, payload binary")
    got = {
        r["id"]: (r["width"], r["height"], r["channels"])
        for r in M.decode_image(df, "id", "payload", decoder=M.stdlib_image_decode).collect()
    }
    assert got == {1: (640, 123, 4), 2: (320, 200, 3), 3: (99, 77, 3)}


def test_stdlib_wav_features_real_parse(spark):
    """PCM16 WAV synthesize→parse round trip with known duration/rate/RMS,
    through the injectable extract_audio_features seam."""
    full = M.synth_wav([16384, -16384] * 4000, sample_rate=8000)  # 1 s square wave
    silent = M.synth_wav([0] * 4000, sample_rate=16000)  # 0.25 s silence
    df = spark.createDataFrame([(1, full), (2, silent)], "id long, payload binary")
    got = {
        r["id"]: r
        for r in M.extract_audio_features(
            df, "id", "payload", extractor=M.stdlib_wav_features
        ).collect()
    }
    assert got[1]["duration_s"] == pytest.approx(1.0)
    assert got[1]["sample_rate"] == 8000
    assert got[1]["rms"] == pytest.approx(0.5)
    assert got[2]["duration_s"] == pytest.approx(0.25)
    assert got[2]["rms"] == 0.0


def test_audio_stub_raises(spark):
    df = spark.createDataFrame([(1, b"RIFFxxxxWAVE")], "id long, payload binary")
    out = M.extract_audio_features(df, "id", "payload")
    with pytest.raises(Exception, match="NotImplementedError|audio decode"):
        out.collect()


def test_ivf_ann_recall_beats_lsh(spark, sf_dir):
    """IVF (data-adaptive cells) must reach solid recall probing 4/16 cells."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, q, "vec_id", "embedding", "vec_id", k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_ann_topk(
            emb, q, "vec_id", "embedding", "vec_id", k=5, n_lists=16, n_probes=4
        ).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_ivf_train_probe_runs_one_job_and_matches_hash_sample(spark, sf_dir):
    """``_bounded_train_rows`` (r15, VERDICT r14 item 4): the fixture-scale
    regime (corpus ≤ 1.25·train_sample) must cost exactly ONE Spark job —
    the old form ran a full ``count()`` job plus the collect — and return
    every row sorted by id (the old frac=1.0 set, byte-identical training
    matrix)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()  # outside the job group; also forces the footer read
    sc = spark.sparkContext
    sc.setJobGroup("ivf-train-probe", "bounded train rows", False)
    try:
        rows = S._bounded_train_rows(emb, "vec_id", "embedding", 100_000, "ivf-ann-train")
    finally:
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup("ivf-train-probe"))
        sc.setJobGroup("", "", False)
    assert len(jobs) == 1, f"probe regime must run exactly one job, ran {len(jobs)}"
    assert len(rows) == n
    ids = [r["i"] for r in rows]
    assert ids == sorted(ids)


def test_ivf_train_fallback_matches_hash_gated_sample(spark):
    """Past the probe cap, ``_bounded_train_rows`` must reproduce the OLD
    uniform hash-bounded sample exactly (same membership hash, same
    fraction, same id-sorted truncation) — centers identical in every
    regime."""
    from sample_deepbook_margin_dune_dbt_spark.operators.sampling import hash_uniform

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 7)]) for i in range(40)], "vec_id long, embedding array<double>"
    )
    train_sample = 8  # cap = 11 < 40 rows → fallback regime
    rows = S._bounded_train_rows(df, "vec_id", "embedding", train_sample, "ivf-ann-train")
    frac = min(1.0, 1.25 * train_sample / 40)
    expected = sorted(
        (r["vec_id"], tuple(r["embedding"]))
        for r in df.withColumn("u", hash_uniform("vec_id", "ivf-ann-train"))
        .filter(F.col("u") < F.lit(frac))
        .collect()
    )[:train_sample]
    assert [(r["i"], tuple(r["v"])) for r in rows] == expected


def test_ivf_pq_recall_with_refine(spark, sf_dir):
    """IVF-PQ (32x-compressed codes + ADC + exact refine) must stay close
    to exact top-k despite scoring only quantized residuals."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, q, "vec_id", "embedding", "vec_id", k=5).collect()
    }
    pq_rows = S.ivf_pq_ann_topk(
        emb, q, "vec_id", "embedding", "vec_id",
        k=5, n_lists=16, n_probes=6, m_subspaces=8, n_codes=16, refine_factor=6,
    ).collect()
    pq = {(r["query_id"], r["neighbor_id"]) for r in pq_rows}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.5, f"IVF-PQ recall too low: {recall:.2f}"
    # the refine makes reported cosines EXACT: spot-check one against truth
    some = pq_rows[0]
    truth = (
        S.cosine_topk(emb, q.filter(F.col("vec_id") == some["query_id"]),
                      "vec_id", "embedding", "vec_id", k=500)
        .filter(F.col("neighbor_id") == some["neighbor_id"])
        .first()
    )
    assert truth is not None and abs(truth["cosine"] - some["cosine"]) < 1e-9
    # per-query output is a proper ranked top-k
    per_q = {}
    for r in pq_rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_native_session_window_matches_window_algebra(spark, sf_dir):
    """F.session_window (built-in) and the window-algebra sessionizer must
    produce identical sessions on integer-second data (G+1 exclusive ≡ G
    inclusive boundary)."""
    from sample_deepbook_margin_dune_dbt_spark.operators.sessions import (
        session_stats,
        session_stats_native,
    )
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    gap_s = 600
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_seconds(F.col("ts")).alias("ts_s"),  # → whole epoch seconds
        "value",
    )
    custom = session_stats(ev, "user_id", "ts_s", gap=gap_s, value_col="value")
    native = session_stats_native(
        ev.withColumn("ts", F.timestamp_seconds(F.col("ts_s"))),
        "user_id", "ts", gap_seconds=gap_s + 1, value_col="value",
    )

    c = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["session_value"])
        for r in custom.collect()
    }
    n = {
        (
            r["user_id"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()),
            r["n_events"],
            r["session_value"],
        )
        for r in native.collect()
    }
    assert len(c) > 100
    assert c == n


def test_profile_table_stats_and_type_guard(spark):
    from sample_deepbook_margin_dune_dbt_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "aa", None), (2, "bbbb", "x"), (2, None, "y")],
        "id long, s string, t string",
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["id"]["n_rows"] == 3 and got["id"]["n_nulls"] == 0
    assert got["id"]["n_distinct"] == 2
    assert (got["id"]["min_repr"], got["id"]["max_repr"]) == ("1", "2")
    assert got["id"]["avg_len_e6"] is None  # non-string column
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["avg_len_e6"] == 3_000_000  # (2+4)/2 chars
    assert got["t"]["n_nulls"] == 1
    # unsupported dtype is rejected (cross-engine min/max rendering)
    bad = spark.createDataFrame([(1.5,)], "v double")
    with pytest.raises(TypeError, match="cast to bigint/string"):
        profile_table(bad)


def test_funnel_requires_strict_ordering(spark, tmp_path):
    """A user with click BEFORE their first view must not count as step 2
    — sequence matters, not type presence."""
    import datetime as dt

    from sample_deepbook_margin_dune_dbt_spark.queries.eventseq import q_events_funnel

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # u1: view -> click -> purchase (full conversion)
        (1, t0, "view"), (1, t0 + dt.timedelta(hours=1), "click"),
        (1, t0 + dt.timedelta(hours=2), "purchase"),
        # u2: click before view -> stops at step 1
        (2, t0, "click"), (2, t0 + dt.timedelta(hours=1), "view"),
        # u3: view then purchase without click -> stops at step 1
        (3, t0, "view"), (3, t0 + dt.timedelta(hours=1), "purchase"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, u, t, et, 1.0, "{}") for i, (u, t, et) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string, value double, props string",
    ).select("event_id", "ts", "user_id", "event_type", "value", "props") \
        .write.mode("overwrite").parquet(f"{sf}/events.parquet")
    r = q_events_funnel(spark, sf).first()
    assert (r["n_step1"], r["n_step2"], r["n_step3"]) == (3, 1, 1)
    assert r["conv_step2_ppm"] == 333_333


def test_quality_logit_orders_planted_docs(spark):
    """Clean prose must outscore digit-soup and repeated-token docs."""
    from sample_deepbook_margin_dune_dbt_spark.functions.text import quality_logit

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and it is a fine day in the park"),
            (2, "4561 2345 9921 0034 5561 8120 4455 1023 9182 3345"),
            (3, "spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["logit"] for r in docs.select("doc_id", quality_logit(F.col("text")).alias("logit")).collect()}
    assert got[1] > got[2] and got[1] > got[3]


def test_duplicate_clusters_auto_falls_back_on_chains(spark):
    """'auto' must self-heal on a high-diameter graph (label-prop hits the
    round budget → star fallback), while the default raises loudly
    instead of silently under-merging."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    got = D.duplicate_clusters(pairs, algorithm="auto", max_iters=10)
    dist = got.groupBy("cluster_id").count().collect()
    assert len(dist) == 1 and dist[0]["count"] == 121
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(pairs, max_iters=10)


def test_histogram_fixed_edges(spark):
    from sample_deepbook_margin_dune_dbt_spark.operators.profile import histogram_fixed

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (99.9,), (100.0,), (199.9,), (200.0,), (250.0,), (None,)],
        "x double",
    )
    got = {r["bucket"]: r["n"] for r in histogram_fixed(df, "x", 0, 200, 2).collect()}
    # -5 underflows; 0 and 99.9 land in bucket 1; 100..199.9 in bucket 2;
    # 200 and 250 overflow; NULL excluded entirely
    assert got == {0: 1, 1: 2, 2: 2, 3: 2}
    with pytest.raises(ValueError, match="bins"):
        histogram_fixed(df, "x", 5, 5, 3)


def test_lsh_cap_loss_accounting_property(spark, no_aqe):
    """VERDICT r5 item 8: what a production cap DROPS must be fully
    accountable from ``lsh_band_bucket_stats`` — fuzzed over planted
    duplicate-group sizes and cap values. Invariants per example:

    1. capped pairs ⊆ uncapped pairs (the cap only removes);
    2. the loss count is bounded by Σ C(b,2) over the oversized buckets
       the stats report (loss is explained by reported buckets, never by
       silent drops elsewhere);
    3. every planted identical group — exactly what degenerate buckets
       are made of — is still recovered by the exact-dedup pass, the
       documented division of labor.
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=fuzz_examples(5, 3), deadline=None)
    @given(
        group_sizes=st.lists(st.integers(min_value=2, max_value=25), min_size=1, max_size=3),
        cap=st.integers(min_value=2, max_value=12),
    )
    def check(group_sizes, cap):
        rows, next_id = [], 0
        for g, size in enumerate(group_sizes):
            for _ in range(size):
                rows.append((next_id, f"planted duplicate group number {g} text body"))
                next_id += 1
        rows += [
            (next_id, "one unique document about adaptive query execution"),
            (next_id + 1, "another unique document about shuffle partitions"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def pairset(max_bucket):
            return {
                (r["id_a"], r["id_b"])
                for r in D.minhash_lsh_candidates(
                    docs, "doc_id", "text", max_bucket_size=max_bucket
                ).collect()
            }

        capped, uncapped = pairset(cap), pairset(10_000)
        assert capped <= uncapped
        lost = uncapped - capped
        oversized = [
            r
            for r in D.lsh_band_bucket_stats(docs, "doc_id", "text").collect()
            if r["bucket_size"] > cap
        ]
        bound = sum(
            r["n_buckets"] * r["bucket_size"] * (r["bucket_size"] - 1) // 2
            for r in oversized
        )
        assert len(lost) <= bound, (len(lost), bound)
        if lost:
            assert oversized, "loss without a reported oversized bucket"
        # identical groups (the degenerate-bucket content) survive via the
        # exact pass regardless of the cap
        survivors = D.dedup_exact(docs, "doc_id", "text")
        assert survivors.count() == len(group_sizes) + 2

    check()


def test_repeated_spans_planted(spark):
    """Sliding-window repeated-span detection: a 5-token passage shared
    by two documents must surface as ONE maximal span per document at its
    exact token extent (overlapping duplicated windows merge); a
    within-document repeat yields two separate islands; unique and
    too-short documents yield no rows."""
    docs = spark.createDataFrame(
        [
            (10, "a1 a2 a3 s1 s2 s3 s4 s5 a4 a5 a6"),   # shared span at 3..7
            (11, "b1 s1 s2 s3 s4 s5 b2 b3 b4 b5"),      # shared span at 1..5
            (12, "entirely original words never repeated anywhere else here"),
            (13, "c1 c2 c3 c4 x c1 c2 c3 c4"),          # within-doc repeat
            (14, "z1 z2"),                               # shorter than k
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["span_start"]): r
        for r in D.repeated_spans(docs, "doc_id", "text", k=4, min_count=2).collect()
    }
    assert set(rows) == {(10, 3), (11, 1), (13, 0), (13, 5)}
    a = rows[(10, 3)]
    assert (a["span_end"], a["span_tokens"], a["n_tokens"]) == (7, 5, 11)
    b = rows[(11, 1)]
    assert (b["span_end"], b["span_tokens"], b["n_tokens"]) == (5, 5, 10)
    # within-doc islands stay separate: gap (5) exceeds k (4)
    assert rows[(13, 0)]["span_end"] == 3 and rows[(13, 5)]["span_end"] == 8
    # raising min_count above the occurrence count disables detection
    assert (
        D.repeated_spans(docs, "doc_id", "text", k=4, min_count=3).count() == 0
    )


def test_repeated_spans_adjacent_windows_merge(spark):
    """Duplicated windows exactly k apart adjoin (no token gap between
    their covers) and must merge into one span."""
    # "p1 p2 p3 p4" and "q1 q2 q3 q4" each repeat across docs; in doc 20
    # they sit back-to-back at pos 0 and 4 → one 8-token span
    docs = spark.createDataFrame(
        [
            (20, "p1 p2 p3 p4 q1 q2 q3 q4 t1"),
            (21, "u1 p1 p2 p3 p4 u2 u3 u4 u5"),
            (22, "v1 v2 q1 q2 q3 q4 v3 v4 v5"),
        ],
        "doc_id long, text string",
    )
    got = D.repeated_spans(docs, "doc_id", "text", k=4, min_count=2)
    doc20 = [r for r in got.collect() if r["doc_id"] == 20]
    assert len(doc20) == 1
    assert (doc20[0]["span_start"], doc20[0]["span_end"]) == (0, 7)
    assert doc20[0]["span_tokens"] == 8


def test_bigram_lm_familiarity_and_oov(spark):
    """Docs built from trained bigrams score familiar with zero OOV; a
    wholly novel doc is 100% OOV with zero familiarity; sub-bigram docs
    produce no score row; the hash split at frac=1.0 trains on all."""
    from sample_deepbook_margin_dune_dbt_spark.operators import ngram_lm as NL

    train_docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the rug")],
        "doc_id long, text string",
    )
    stats = NL.bigram_lm_stats(train_docs, "doc_id", "text", train_frac=1.0)
    all_docs = train_docs.union(
        spark.createDataFrame(
            [(100, "zq xv qn pl wk jr"), (101, "the cat sat on the mat"), (102, "solo")],
            "doc_id long, text string",
        )
    )
    got = {
        r["doc_id"]: r
        for r in NL.bigram_lm_score(all_docs, "doc_id", "text", stats).collect()
    }
    assert 102 not in got  # no bigram → no row
    novel = got[100]
    assert novel["oov_ppm"] == 1_000_000 and novel["familiar_sum"] == 0
    known = got[101]
    assert known["oov_ppm"] == 0 and known["n_bigrams"] == 5
    # "the cat"/"cat sat"/"sat on"/"on the" occur in both train docs → c=2
    assert known["familiar_sum"] == 2 + 2 + 2 + 2 + 1
    assert known["avg_bigram_count"] == 1  # 9 div 5
    assert got[1]["oov_ppm"] == 0  # train doc scores against itself


def test_embedding_clusters_planted_variants(spark, sf_dir):
    """SemDeDup composition: every planted scaled/shifted variant must
    land in its base vector's cluster (scaling preserves cosine exactly;
    the shift stays above the 0.9 threshold on the fixture vectors)."""
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import (
        q_dedup_embedding_clusters,
    )

    rows = {
        r["id"]: r["cluster_id"]
        for r in q_dedup_embedding_clusters(spark, sf_dir).collect()
    }
    assert rows, "fixture corpus must produce semantic clusters"
    base_ids = [i for i in rows if i < 1_000_000]
    assert base_ids, "planted base vectors must appear"
    for i in base_ids:
        assert rows.get(i + 1_000_000) == rows[i], f"scaled twin of {i} split off"


def test_strip_repeated_spans_keep_first(spark):
    """Keep-first semantics: the globally-first occurrence of a shared
    passage survives; later cross-doc and within-doc occurrences are cut;
    non-duplicated docs pass through in normalized token space."""
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 s1 s2 s3 s4 a3 a4"),      # first occurrence → kept
            (2, "b1 b2 b3 s1 s2 s3 s4 b4"),      # later → stripped
            (3, "c1 c2 c3 c4 z c1 c2 c3 c4"),    # within-doc repeat
            (4, "unique words only here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in D.strip_repeated_spans(docs, "doc_id", "text", k=4, min_count=2).collect()
    }
    assert got[1]["text_clean"] == "a1 a2 s1 s2 s3 s4 a3 a4"
    assert got[1]["n_dropped"] == 0
    assert got[2]["text_clean"] == "b1 b2 b3 b4" and got[2]["n_dropped"] == 4
    assert got[3]["text_clean"] == "c1 c2 c3 c4 z" and got[3]["n_dropped"] == 4
    assert got[4]["text_clean"] == "unique words only here"
    assert all(r["n_tokens"] >= r["n_dropped"] >= 0 for r in got.values())


def test_span_tiers_two_phase_parity(spark):
    """The documented ``two_phase=False`` escape hatch (for corpora whose
    distinct duplicated-fingerprint set would overflow a broadcast —
    `operators/dedup.py:_survivor_windows`) must produce rows identical to
    the default two-phase path on both span tiers; ADVICE r7 flagged the
    fallback as untested. Fixture plants cross-doc AND within-doc repeats
    plus adjacent-window merges so both the candidate exchange and the
    merge logic are exercised on each path."""
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 s1 s2 s3 s4 s5 a3 a4"),
            (2, "b1 s1 s2 s3 s4 s5 b2 b3"),
            (3, "c1 c2 c3 c4 x c1 c2 c3 c4"),
            (4, "p1 p2 p3 p4 q1 q2 q3 q4 t1"),
            (5, "u1 p1 p2 p3 p4 u2 q1 q2 q3 q4"),
            (6, "unique filler words only present here"),
            (7, "z1 z2"),
        ],
        "doc_id long, text string",
    )
    for fn, cols in (
        (D.repeated_spans, ["doc_id", "span_start", "span_end", "span_tokens", "n_tokens"]),
        (D.strip_repeated_spans, ["doc_id", "text_clean", "n_tokens", "n_dropped"]),
    ):
        two = fn(docs, "doc_id", "text", k=4, min_count=2, two_phase=True)
        one = fn(docs, "doc_id", "text", k=4, min_count=2, two_phase=False)
        assert sorted(two.columns) == sorted(one.columns)
        key = lambda r: tuple(r[c] for c in cols)  # noqa: E731
        assert sorted(map(key, two.collect())) == sorted(map(key, one.collect()))


def test_contaminated_spans_planted(spark):
    """A benchmark passage pasted into a corpus doc must surface at its
    exact token extent; corpus-internal duplication must NOT flag
    (decontamination is against the benchmark only)."""
    bench = spark.createDataFrame(
        [(900, "q1 q2 q3 q4 q5 q6")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x1 x2 q1 q2 q3 q4 q5 q6 x3"),   # contains the passage at 2..7
            (2, "y1 y2 y3 y4 y5 y6 y7 y8 y9"),   # clean
            (3, "z1 z2 z3 z4 z5 z1 z2 z3 z4 z5"),  # internal repeat only
        ],
        "doc_id long, text string",
    )
    got = D.contaminated_spans(corpus, "doc_id", "text", bench, "doc_id", "text", k=4)
    rows = {(r["doc_id"], r["span_start"], r["span_end"]) for r in got.collect()}
    assert rows == {(1, 2, 7)}


def test_jaccard_merge_strategy_parity(spark, sf_dir):
    """``join_strategy="merge"`` (the memory-starved spill-tolerant
    fallback of the shingle self-join — PERF.md r10 finding 2) must
    produce the identical pair set as the default shuffle-hash plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    a = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    b = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, join_strategy="merge"
        ).collect()
    }
    assert a == b and len(a) > 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="shuffle_hash|merge"):
        D.ngram_jaccard_pairs(docs, "doc_id", "text", join_strategy="broadcast")


def test_contaminated_spans_shuffled_fallback_parity(spark, sf_dir):
    """``broadcast_bench=False`` (the oversized-benchmark fallback the
    1000× probe forced — PERF.md r10) must produce the identical span
    set as the pinned-broadcast default on the real fixture."""
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    a = {
        tuple(r)
        for r in D.contaminated_spans(
            corpus, "doc_id", "text", bench, "doc_id", "text", k=8
        ).collect()
    }
    b = {
        tuple(r)
        for r in D.contaminated_spans(
            corpus, "doc_id", "text", bench, "doc_id", "text", k=8,
            broadcast_bench=False,
        ).collect()
    }
    assert a == b and len(a) > 0


def test_scrub_contaminated_spans_planted(spark):
    """Apply tier of span decontamination: the contaminated extent is cut
    at exact token boundaries, clean docs pass through (normalized token
    space), corpus-internal repeats are NOT touched (benchmark-only)."""
    bench = spark.createDataFrame(
        [(900, "q1 q2 q3 q4 q5 q6")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x1 x2 q1 q2 q3 q4 q5 q6 x3"),
            (2, "y1 y2 y3 y4 y5"),
            (3, "z1 z2 z3 z4 z5 z1 z2 z3 z4 z5"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_dropped"])
        for r in D.scrub_contaminated_spans(
            corpus, "doc_id", "text", bench, "doc_id", "text", k=4
        ).collect()
    }
    assert got[1] == ("x1 x2 x3", 9, 6)
    assert got[2] == ("y1 y2 y3 y4 y5", 5, 0)
    assert got[3] == ("z1 z2 z3 z4 z5 z1 z2 z3 z4 z5", 10, 0)


def test_lsh_autotune_scaling_properties():
    """The S-curve sizing that keeps cosine LSH linear in corpus size
    (r8: fixed (6,16) was measured quadratic — 4.8 s → 402 s on a 10×
    corpus): expected bucket occupancy n/2^planes stays bounded by the
    target, bands rise with planes to hold the miss bound, both knobs
    are clamped, and the all-bands miss probability at the threshold
    stays under the design bound wherever the clamps aren't binding."""
    import math

    from sample_deepbook_margin_dune_dbt_spark.operators.similarity import lsh_autotune

    import warnings as _warnings

    prev_planes = 0
    for n in (10, 100, 500, 2_000, 20_000, 10**6, 10**9):
        # the largest n probe the CLAMPED regimes on purpose; since r9 a
        # binding clamp WARNS (ADVICE r8) — capture and assert it here so
        # the suite stays warning-clean while the signal is pinned
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            planes, bands = lsh_autotune(n, 0.9)
        want_planes = max(4, math.ceil(math.log2(max(n, 1) / 32)))
        p_band_c = (1 - math.acos(0.9) / math.pi) ** min(24, want_planes)
        want_bands = max(8, math.ceil(math.log(3e-4) / math.log1p(-p_band_c)))
        clamped = want_planes > 24 or want_bands > 64
        assert bool(caught) == clamped, (n, [str(w.message) for w in caught])
        assert 4 <= planes <= 24 and 8 <= bands <= 64
        assert planes >= prev_planes  # monotone in n
        prev_planes = planes
        if planes not in (4, 24):
            assert n / 2**planes <= 32  # bucket occupancy at target
        p_band = (1 - math.acos(0.9) / math.pi) ** planes
        if bands not in (8, 64):
            assert (1 - p_band) ** bands <= 3e-4  # miss bound holds
    # tighter thresholds need fewer bands (steeper S-curve)
    assert lsh_autotune(20_000, 0.99)[1] <= lsh_autotune(20_000, 0.9)[1]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_autotune(1000, 1.5)


def test_cosine_cap_loss_accounting_property(spark, no_aqe):
    """VERDICT r8 item 8 — the cosine twin of the Jaccard cap-loss
    property: an adversarial density (planted groups of IDENTICAL
    vectors, which share every band bucket at ANY plane count — no
    autotune geometry can spread them) must be handled by the size-cap +
    exact-pass division of labor, fuzzed over group sizes and caps:

    1. capped pairs ⊆ uncapped pairs (the cap only removes);
    2. the loss is bounded by Σ C(b,2) over the oversized buckets
       ``lsh_bucket_stats`` reports under the SAME autotuned production
       geometry (no silent drops elsewhere);
    3. every planted identical group is recovered by the exact pass
       (groupBy on the vector value), and the genuinely-near pair in a
       small bucket survives the cap.
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=fuzz_examples(5, 3), deadline=None)
    @given(
        group_sizes=st.lists(st.integers(min_value=2, max_value=20), min_size=1, max_size=3),
        cap=st.integers(min_value=2, max_value=10),
    )
    def check(group_sizes, cap):
        rows, next_id = [], 0
        for g, size in enumerate(group_sizes):
            v = [0.1 * (g + 1)] * 63 + [1.0 + g]
            for _ in range(size):
                rows.append((next_id, v))
                next_id += 1
        near_a, near_b = next_id, next_id + 1
        rows += [
            (near_a, [1.0] + [0.01] * 63),
            (near_b, [1.0] + [0.012] * 63),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        n = len(rows)

        def pairset(max_bucket):
            return {
                (r["id_a"], r["id_b"])
                for r in S.cosine_pairs_lsh(
                    emb, "vec_id", "embedding", 0.9, dim=64,
                    max_bucket_size=max_bucket, n_vectors=n,
                ).collect()
            }

        capped, uncapped = pairset(cap), pairset(10_000)
        assert capped <= uncapped
        lost = uncapped - capped
        oversized = [
            r
            for r in S.lsh_bucket_stats(
                emb, "vec_id", "embedding", dim=64, threshold=0.9, n_vectors=n
            ).collect()
            if r["bucket_size"] > cap
        ]
        bound = sum(
            r["n_buckets"] * r["bucket_size"] * (r["bucket_size"] - 1) // 2
            for r in oversized
        )
        assert len(lost) <= bound, (len(lost), bound)
        if lost:
            assert oversized, "loss without a reported oversized bucket"
        if max(group_sizes) > cap:
            assert (near_a, near_b) in capped, (
                "small near-dup bucket must survive while degenerate groups cap out"
            )
        # identical groups (the degenerate-bucket content) survive via the
        # exact pass regardless of the cap
        exact = emb.groupBy("embedding").agg(
            F.min("vec_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
        )
        assert exact.filter(F.col("dup_count") > 1).count() == len(group_sizes)
        assert exact.count() == len(group_sizes) + 2

    check()


def test_ivf_pairs_tiny_and_empty_inputs(spark):
    """ADVICE r10: n_probes must clamp to the TRAINED center count (a
    corpus smaller than n_probes pushed argpartition's kth out of
    bounds), and an empty input must raise a clear ValueError instead of
    crashing k-means at rng.choice(0)."""
    import pytest as _pytest

    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_pairs_ivf(
            tiny, "vec_id", "embedding", 0.9, n_lists=2, n_probes=8
        ).collect()
    }
    assert got == {(1, 2)}

    empty = tiny.filter("vec_id < 0")
    with _pytest.raises(ValueError, match="no vectors to train"):
        S.cosine_pairs_ivf(empty, "vec_id", "embedding", 0.9)


def test_ivf_n_lists_clamp_warns(spark):
    """The 4096 n_lists cap must warn when it binds (the r8 lsh_autotune
    clamp discipline): occupancy — the quadratic axis — silently rising
    past target is the corpus-scale failure mode the 1000x probe hit."""
    import warnings as _warnings

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], ["vec_id", "embedding"]
    )
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        # n_vectors lies high so the wanted sizing exceeds the cap without
        # building a huge fixture (the warning fires at sizing time,
        # before training — a later tiny-sample error is irrelevant here)
        try:
            S.cosine_pairs_ivf(
                df, "vec_id", "embedding", 0.9, n_vectors=2_000_000, train_sample=50
            )
        except ValueError:
            pass
        assert any("n_lists clamp binds" in str(x.message) for x in w)


def test_jaccard_bucketed_strategy_parity_and_plan(spark, sf_dir, no_aqe):
    """``join_strategy="bucketed"`` (the measured fourth-decade fix —
    PERF.md r11: bucket-local SMJ passes the 8 GB heap every shuffle
    strategy failed at) must produce the identical pair set, and its
    self-join must plan WITHOUT an exchange between the bucketed scans
    and the join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    want = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    got_df = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, join_strategy="bucketed"
    )
    got = {(r["id_a"], r["id_b"]) for r in got_df.collect()}
    assert got == want and len(want) > 0

    from sample_deepbook_margin_dune_dbt_spark.operators.dedup import (
        _intersect_shingle_rows,
        _shingle_self_intersections,
    )

    sh, _ = _intersect_shingle_rows(docs, "doc_id", "text", 3)
    # at fixture scale Catalyst would broadcast the tiny bucketed table;
    # disable broadcast to pin the CORPUS-scale plan shape (what the
    # 1000x probe ran): bucket-local SMJ, no exchange before the join
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            _shingle_self_intersections(sh, "bucketed")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    # one exchange total (the pair agg); the join children are bucketed scans
    assert plan.count("Exchange") <= 1, plan
    assert "SortMergeJoin" in plan, plan


# ------------------------------------------------------- IR eval metrics


def test_ir_metrics_hand_computed(spark):
    """Tiny hand-checked example: q1 perfect ranking, q2 one late hit,
    q3 judged but never retrieved."""
    from sample_deepbook_margin_dune_dbt_spark.operators import ir_eval as IR

    run = spark.createDataFrame(
        [
            ("q1", 10, 1), ("q1", 11, 2), ("q1", 99, 3),
            ("q2", 98, 1), ("q2", 20, 2),
        ],
        "query_id string, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q1", 10, 2), ("q1", 11, 1), ("q2", 20, 1), ("q3", 30, 1)],
        "query_id string, doc_id long, rel long",
    )
    out = {r["query_id"]: r.asDict() for r in IR.ir_metrics(run, qrels, k=3).collect()}
    assert set(out) == {"q1", "q2", "q3"}

    w = IR.dcg_weights_e6(3)  # [1e6, 630930, 500000]
    # q1: hits at ranks 1 (rel 2) and 2 (rel 1) -> recall 2/2, P@3 2/3
    q1 = out["q1"]
    assert q1["n_rel"] == 2 and q1["n_hits"] == 2
    assert q1["recall_e6"] == 1_000_000
    assert q1["precision_e6"] == 666_666
    assert q1["rr_e6"] == 1_000_000
    # AP = (1/1 + 2/2) / min(2,3) = 1.0 in micro-units (int div exact)
    assert q1["ap_e6"] == 1_000_000
    # DCG = 3*w1 + 1*w2 ; ideal ranking identical -> nDCG = 1
    assert q1["ndcg_e6"] == 1_000_000
    # q2: single relevant doc hit at rank 2
    q2 = out["q2"]
    assert q2["n_hits"] == 1 and q2["rr_e6"] == 500_000
    assert q2["recall_e6"] == 1_000_000
    assert q2["ap_e6"] == (1 * 1_000_000) // 2  # precision@2 / min(1,3)
    assert q2["ndcg_e6"] == (1 * w[1]) * 1_000_000 // (1 * w[0])
    # q3: judged, zero retrieved -> all zeros but present
    q3 = out["q3"]
    assert q3["n_hits"] == 0 and q3["rr_e6"] == 0 and q3["ndcg_e6"] == 0
    assert q3["recall_e6"] == 0 and q3["ap_e6"] == 0


def test_ir_metrics_ignores_ranks_beyond_k(spark):
    from sample_deepbook_margin_dune_dbt_spark.operators import ir_eval as IR

    run = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", 3, 1)], "query_id string, doc_id long, rel long"
    )
    row = IR.ir_metrics(run, qrels, k=2).collect()[0]
    # the only relevant doc sits at rank 3 — invisible at k=2
    assert row["n_hits"] == 0 and row["recall_e6"] == 0


# --------------------------------------------------- benchmark leakage


def test_benchmark_leakage_verdicts_and_fallback_parity(spark):
    from sample_deepbook_margin_dune_dbt_spark.operators import contamination as C

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # contains bench 100
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "totally different words about unrelated engine topics here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta"),  # leaked by 1 and 2
            (200, "words never appearing anywhere in that training corpus x"),
        ],
        "doc_id long, text string",
    )
    rep = {
        r["bench_id"]: r.asDict()
        for r in C.benchmark_leakage(corpus, bench, "doc_id", "text").collect()
    }
    assert rep[100]["leaked"] and rep[100]["n_leaking_docs"] == 2
    # full containment in both; tiebreak picks the LOWEST corpus id
    assert rep[100]["top_doc_id"] == 1
    assert rep[100]["top_containment_e6"] == 1_000_000
    assert not rep[200]["leaked"] and rep[200]["top_doc_id"] == -1

    # shuffle fallback (the bounded-benchmark broadcast's measured escape
    # hatch) must produce the identical report
    fb = C.benchmark_leakage(
        corpus, bench, "doc_id", "text", broadcast_bench=False
    )
    assert sorted(map(tuple, fb.collect())) == sorted(
        map(tuple, C.benchmark_leakage(corpus, bench, "doc_id", "text").collect())
    )


# ------------------------------------------------- k-center greedy coreset


def test_kcenter_planted_clusters(spark):
    """Four orthogonal direction-clusters: ranks 1-4 must cover all four
    (each pick is the farthest remaining point), and once every cluster
    is covered the radius ladder collapses to ~0."""
    from sample_deepbook_margin_dune_dbt_spark.operators import coreset as CS

    rows = []
    for c in range(4):  # cluster c points along axis c, varying magnitude
        for j in range(5):
            vec = [0.0] * 4
            vec[c] = 1.0 + 0.1 * j  # same direction -> cosine 1 within cluster
            rows.append((c * 100 + j, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = CS.kcenter_greedy(df, "vec_id", "embedding", k=5).collect()
    assert [r["center_rank"] for r in out] == [1, 2, 3, 4, 5]
    # one representative per cluster in the first four picks
    assert {r["vec_id"] // 100 for r in out[:4]} == {0, 1, 2, 3}
    # seed carries the supremum sentinel; orthogonal clusters put picks
    # 2-4 at cosine distance exactly 1.0
    assert out[0]["dist_e6"] == 2_000_000
    assert all(r["dist_e6"] == 1_000_000 for r in out[1:4])
    # fifth pick duplicates a covered direction -> distance collapses
    assert out[4]["dist_e6"] <= 1


def test_kcenter_radius_ladder_monotone_on_fixture(spark, sf_dir):
    from sample_deepbook_margin_dune_dbt_spark.operators import coreset as CS
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    out = CS.kcenter_greedy(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=8
    ).collect()
    dists = [r["dist_e6"] for r in out]
    assert len(dists) == 8
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists


def test_kcenter_matches_numpy_greedy(spark):
    """Sequence equality against a straightforward NumPy twin on a
    deterministic non-degenerate set (comparisons happen on floor-e6
    ints with id tiebreaks, so the twin reproduces the exact picks)."""
    import numpy as np

    from sample_deepbook_margin_dune_dbt_spark.operators import coreset as CS

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((60, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r["vec_id"], r["dist_e6"])
        for r in CS.kcenter_greedy(df, "vec_id", "embedding", k=6).collect()
    ]

    norms = np.sqrt((vecs * vecs).sum(axis=1))
    unit = vecs / norms[:, None]
    max_sim = np.full(60, -1.0)
    chosen = [(0, 2_000_000)]
    for _ in range(5):
        max_sim = np.maximum(max_sim, unit @ unit[chosen[-1][0]])
        dist_e6 = np.floor((1.0 - max_sim) * 1_000_000).astype(np.int64)
        mask = np.ones(60, bool)
        mask[[c for c, _ in chosen]] = False
        best = max(
            (int(d), -i) for i, d in enumerate(dist_e6) if mask[i]
        )  # max dist, min id
        chosen.append((-best[1], best[0]))
    assert got == chosen


def test_top_cells_block_budgeted():
    """The (block x k) distance intermediate must be BUDGETED, not fixed:
    the fixed 16384-row block OOM-killed the host at n_lists=62502 (r11
    fourth-decade probe)."""
    import numpy as np

    from sample_deepbook_margin_dune_dbt_spark.operators.similarity import (
        _mm_block_rows,
        _top_cells_mm,
    )

    assert _mm_block_rows(4096) * 4096 * 8 <= 1 << 26
    assert _mm_block_rows(62502) * 62502 * 8 <= 1 << 26
    assert _mm_block_rows(62502) >= 128  # BLAS still amortizes
    assert _mm_block_rows(8) == 16384  # small k keeps the old block

    # identical assignments whatever the block size
    rng = np.random.RandomState(3)
    x = rng.standard_normal((500, 16))
    centers = rng.standard_normal((40, 16))
    a = _top_cells_mm(x, centers, 3, block=16384)
    b = _top_cells_mm(x, centers, 3, block=128)
    c = _top_cells_mm(x, centers, 3)  # budgeted default
    assert (a == b).all() and (a == c).all()


def _exact_pairs(emb, threshold=0.9):
    """The exact cross join's pair set — the reference every pair tier's
    bucket-local refine must reproduce (ids AND cosine doubles)."""
    return sorted(
        map(tuple, S.cosine_pairs(emb, "vec_id", "embedding", threshold).collect())
    )


def test_ivf_bucket_local_refine_bit_parity(spark, sf_dir):
    """The bucket-local verification tail (r11: the fix for the fourth-
    decade candidate x vector exchange filling the disk) must emit the
    EXACT pair set of the all-pairs cross join -- ids and cosine DOUBLES
    bit-identical (the in-task accumulation reproduces _dot's IEEE
    order) -- here under a sampled driver trainer (train_sample < n)."""
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import (
        _augment_near_dups,
    )

    emb = _augment_near_dups(load(spark, sf_dir, "embeddings"))
    got = sorted(map(tuple, S.cosine_pairs_ivf(
        emb, "vec_id", "embedding", 0.9, n_lists=64, train_sample=2_000,
        n_probes=4,
    ).collect()))
    want = _exact_pairs(emb)
    assert len(want) > 0
    assert got == want  # bit-exact, including the cosine doubles


def test_lsh_bucket_local_refine_bit_parity(spark, sf_dir):
    """The bucket-local tail under the LSH bucketer must emit the exact
    cross join's pair set, cosine doubles included."""
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import (
        _augment_near_dups,
    )

    emb = _augment_near_dups(load(spark, sf_dir, "embeddings"))
    got = sorted(map(tuple, S.cosine_pairs_lsh(
        emb, "vec_id", "embedding", 0.9, dim=64, n_vectors=emb.count(),
    ).collect()))
    want = _exact_pairs(emb)
    assert len(want) > 0
    assert got == want


def test_refine_tails_agree_on_degenerate_inputs(spark):
    """ADVICE r11 (low): zero-norm vectors (NaN cosine — Spark's NaN
    sorts above all doubles, so the cross join's ``>=`` KEEPS them while
    NumPy's comparison drops them) and duplicated id rows (self-pair
    candidates, doubled cross-join rows) must leave the bucket-local
    tail with exactly the cross join's non-NaN distinct pairs: NaN
    pairs dropped, id_a == id_b never emitted."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 1
        (2, [1.0, 0.0, 0.0, 0.0]),   # duplicated id row
        (3, [0.0, 0.0, 0.0, 0.0]),   # zero-norm: NaN against everything
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        map(tuple, S.cosine_pairs_lsh(
            emb, "vec_id", "embedding", 0.9, dim=4, band_planes=1, bands=2,
            n_vectors=4,
        ).collect())
    )
    want = sorted({(a, b, c) for a, b, c in _exact_pairs(emb) if c == c})
    assert got == want == [(1, 2, 1.0)], got


def test_ivf_distributed_trainer_full_recall(spark, sf_dir):
    """VERDICT r11 item 3: the distributed Lloyd trainer (the scale path
    past the ≥16-samples/center driver-collect wall) must recover the
    exact all-pairs set at fixture scale, like the driver trainer whose
    driver-hash match pins it — candidates differ only in WHICH cells
    route a pair together; verification is exact either way."""
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load
    from sample_deepbook_margin_dune_dbt_spark.queries.llmops import (
        _augment_near_dups,
    )

    emb = _augment_near_dups(load(spark, sf_dir, "embeddings"))
    exact = sorted(
        (r["id_a"], r["id_b"])
        for r in S.cosine_pairs(emb, "vec_id", "embedding", 0.9).collect()
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in S.cosine_pairs_ivf(
            emb, "vec_id", "embedding", 0.9,
            n_lists=64, n_probes=4, train_strategy="distributed",
            train_iters=3,
        ).collect()
    )
    assert len(exact) > 0
    assert got == exact


def test_distributed_kmeans_balanced_cells(spark):
    """The wall the distributed trainer removes is IMBALANCE: thin
    driver samples (~2 samples/center) leave centroids that funnel the
    corpus into few mega-cells (quadratic bucket blow-up). On a
    synthetic corpus of k well-separated clusters the distributed
    trainer must keep occupancy near-uniform."""
    import numpy as np

    rng = np.random.RandomState(7)
    k, per, dim = 32, 64, 16
    protos = rng.standard_normal((k, dim)) * 10.0
    rows = []
    vid = 0
    for c in range(k):
        for _ in range(per):
            rows.append((vid, (protos[c] + rng.standard_normal(dim) * 0.05).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = S._distributed_spherical_kmeans(
        df, "vec_id", "embedding", k, iters=4, seed=3
    )
    assert centers.shape == (k, dim)
    x = np.array([r[1] for r in rows])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    assign = S._top_cells_mm(x, centers, 1)[:, 0]
    occ = np.bincount(assign, minlength=k)
    # near-uniform: no mega-cell (quadratic risk) and few dead cells
    assert occ.max() <= 4 * per, occ.max()
    assert (occ > 0).sum() >= k * 3 // 4, (occ > 0).sum()


def test_bucket_local_tile_boundary_bit_parity(spark):
    """VERDICT r11 item 8: the in-task pairwise tiles are (block=512 ×
    occupancy) — a bucket larger than the block exercises the partial
    last tile and the cross-tile global-index bookkeeping. 600 vectors
    in ONE band bucket (> one tile) must produce the exact cross join's
    pair set, cosine doubles bit-identical."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.standard_normal(8)
    rows = [
        (i, (base + rng.standard_normal(8) * 0.02).tolist()) for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(map(tuple, S.cosine_pairs_lsh(
        emb, "vec_id", "embedding", 0.9, dim=8, band_planes=1, bands=1,
        n_vectors=600, max_bucket_size=10_000,
    ).collect()))
    assert len(got) > 600  # tight cloud: far more pairs than vectors
    assert got == _exact_pairs(emb)


def test_bitext_mining_planted_pair(spark):
    """A planted translation pair (near-identical vectors on opposite
    sides, surrounded by noise) must be mined as each other's MUTUAL
    best match with a margin well above the neighborhood mean; noise
    vectors must not produce mutual pairs at that margin."""
    import numpy as np

    from sample_deepbook_margin_dune_dbt_spark.operators import bitext as BX

    rng = np.random.RandomState(5)
    rows = []
    base = rng.standard_normal(16)
    rows.append((1, (base + rng.standard_normal(16) * 0.01).tolist(), True))
    rows.append((100, (base + rng.standard_normal(16) * 0.01).tolist(), False))
    for i in range(2, 30):
        rows.append((i, rng.standard_normal(16).tolist(), True))
        rows.append((100 + i, rng.standard_normal(16).tolist(), False))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, side boolean"
    )
    out = BX.mine_parallel_pairs(
        df, "vec_id", "embedding", "side", k=4, margin_threshold_e6=1_200_000
    ).collect()
    planted = [r for r in out if r["id_a"] == 1]
    assert planted and planted[0]["id_b"] == 100
    assert planted[0]["mutual"]
    assert planted[0]["cos_e6"] > 990_000
    # the planted pair must carry the TOP margin; noise pairs may clear
    # a relative-margin bar (flat neighborhoods — why production mining
    # also gates on absolute cosine) but never near-perfect cosine
    assert max(out, key=lambda r: r["margin_e6"])["id_a"] == 1
    assert all(r["cos_e6"] < 990_000 for r in out if r["id_a"] != 1)


def test_bitext_ranked_directions_matches_bounded_topk(spark):
    """``_ranked_directions`` (r15) must reproduce the per-direction
    ``_bounded_topk`` selection EXACTLY — same sets, same (cos desc, id
    asc) order, same e6 floors — and its inline ``avg_e6`` must equal
    ``sum(cos_e6) div count(1)`` over the selected rows, for both
    directions, on adversarial data (cosine ties, sub-k groups)."""
    import numpy as np
    from sample_deepbook_margin_dune_dbt_spark.operators import bitext as BX

    rng = np.random.RandomState(7)
    rows = []
    for q in range(12):
        for n in range(rng.randint(1, 9)):
            # quantized cosines force ties; both directions tagged
            rows.append((q, 100 + n, round(float(rng.rand()), 1), bool(n % 2)))
    pairs = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, cosine double, fwd boolean"
    )
    k = 3
    got = {
        (r["query_id"], r["fwd"]): (
            [(it["id"], it["cos_e6"]) for it in r["_items"]],
            r["avg_e6"],
        )
        for r in BX._ranked_directions(pairs, k).collect()
    }
    for fwd in (True, False):
        ref = S._bounded_topk(pairs.filter(F.col("fwd") == fwd), k)
        by_q = {}
        for r in ref.collect():
            e6 = int(np.floor(r["cosine"] * 1_000_000))
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], e6)
            )
        for q, items in by_q.items():
            items = [(i, e) for _, i, e in sorted(items)]
            want_avg = sum(e for _, e in items) // len(items)
            assert got[(q, fwd)] == (items, want_avg), (q, fwd)


def test_bitext_ivf_matches_exact(spark):
    """The generator-fed tier (r13, VERDICT r12 item 1b) must reproduce
    the exact tier BIT-FOR-BIT at its operating point: the shared
    quantizer + bucket-local A×B scoring feeds the same margin tail, and
    the in-task cosine accumulation reproduces the anchor path's IEEE
    operation order — so given complete candidate recall the outputs are
    row-identical, doubles included. Pinned at two operating points
    (tight and loose probe sets) on the planted-translation fixture."""
    import numpy as np

    from sample_deepbook_margin_dune_dbt_spark.operators import bitext as BX

    rng = np.random.RandomState(5)
    rows = []
    base = rng.standard_normal(16)
    rows.append((1, (base + rng.standard_normal(16) * 0.01).tolist(), True))
    rows.append((100, (base + rng.standard_normal(16) * 0.01).tolist(), False))
    for i in range(2, 30):
        rows.append((i, rng.standard_normal(16).tolist(), True))
        rows.append((100 + i, rng.standard_normal(16).tolist(), False))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, side boolean"
    )
    exact = sorted(map(tuple, BX.mine_parallel_pairs(
        df, "vec_id", "embedding", "side", k=4, margin_threshold_e6=1_200_000
    ).collect()))
    assert exact  # non-vacuous: the planted pair is in there
    for n_probes, n_lists in ((4, 8), (8, 16)):
        ivf = sorted(map(tuple, BX.mine_parallel_pairs(
            df, "vec_id", "embedding", "side", k=4,
            margin_threshold_e6=1_200_000,
            strategy="ivf", n_lists=n_lists, n_probes=n_probes,
        ).collect()))
        assert ivf == exact, (n_probes, n_lists, len(ivf), len(exact))


def test_bitext_max_anchors_guard(spark):
    """The exact tier's anchor collect is guarded by CONTRACT (VERDICT
    r12 item 1a): past ``max_anchors`` it must raise loudly and name the
    distributed tier, never silently collect half the corpus."""
    import pytest as _pytest

    from sample_deepbook_margin_dune_dbt_spark.operators import bitext as BX

    rows = [(i, [float(i), 1.0], i % 2 == 0) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, side boolean"
    )
    with _pytest.raises(ValueError, match="max_anchors"):
        BX.mine_parallel_pairs(
            df, "vec_id", "embedding", "side", max_anchors=10
        ).collect()
    # at the bound, it still runs
    assert BX.mine_parallel_pairs(
        df, "vec_id", "embedding", "side", max_anchors=20,
        margin_threshold_e6=0,
    ).count() > 0


def test_bitext_hub_discounted(spark):
    """The margin's reason to exist (Artetxe & Schwenk hubness fix): a
    side-A HUB sitting near every B vector has a high forward
    neighborhood mean, so its ratio margin collapses toward 1.0 and it
    mines NO pair at a real threshold — while an isolated planted
    translation (same raw cosine to its match) clears it."""
    import numpy as np

    from sample_deepbook_margin_dune_dbt_spark.operators import bitext as BX

    rng = np.random.RandomState(11)
    dim = 16
    center = rng.standard_normal(dim)
    center /= np.linalg.norm(center)
    rows = []
    hub_ids = []
    # a dense bilingual cluster: several side-A vectors AND a side-B
    # cloud all around one center — every cross cosine is high, so
    # every neighborhood mean is high and no margin stands out (the
    # boilerplate-cluster shape raw cosine would happily over-mine)
    for i in range(6):
        hub_ids.append(1 + i)
        rows.append((1 + i, (center + rng.standard_normal(dim) * 0.15).tolist(), True))
    for i in range(20):
        rows.append((100 + i, (center + rng.standard_normal(dim) * 0.15).tolist(), False))
    # the planted isolated pair, unrelated direction
    iso = rng.standard_normal(dim)
    rows.append((50, iso.tolist(), True))
    rows.append((200, (iso + rng.standard_normal(dim) * 0.01).tolist(), False))
    # background noise on both sides
    for i in range(7):
        rows.append((60 + i, rng.standard_normal(dim).tolist(), True))
        rows.append((300 + i, rng.standard_normal(dim).tolist(), False))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, side boolean"
    )
    out = BX.mine_parallel_pairs(
        df, "vec_id", "embedding", "side", k=4, margin_threshold_e6=1_150_000
    ).collect()
    ids_a = {r["id_a"] for r in out}
    assert 50 in ids_a  # the isolated pair is mined...
    planted = [r for r in out if r["id_a"] == 50][0]
    assert planted["id_b"] == 200 and planted["mutual"]
    # ...the cluster members are all discounted below threshold
    assert not ids_a & set(hub_ids), ids_a & set(hub_ids)


def test_prefix_filter_jaccard_exact_recall(spark, sf_dir):
    """The prefix-filtering tier's defining property: EXACT recall by
    construction (any J ≥ t pair shares a prefix token under the global
    rarity order) — its output must equal the full self-join tier's,
    jaccard doubles included, at multiple thresholds; and the plan must
    stay equi-join-only (no cartesian, no corpus window)."""
    from sample_deepbook_margin_dune_dbt_spark.plans import explain_str
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    docs = load(spark, sf_dir, "documents")
    for t in (0.4, 0.5, 0.8):
        a = sorted(map(tuple, D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=t).collect()))
        b = sorted(map(tuple, D.prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=t).collect()))
        assert a == b, (t, len(a), len(b))
    assert len(a) > 0
    plan = explain_str(
        D.prefix_filter_jaccard_pairs(docs, "doc_id", "text"), "simple"
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Window" not in plan


def test_image_phash_near_dup_planted(spark):
    """Content-level image dedup (r13): a re-encoded copy (same pixels,
    different scanline filter → different bytes) and a brightness-
    shifted copy (uniform +30) must pair with the original at Hamming
    distance 0 — while byte-level md5 sees three distinct payloads —
    and an unrelated image must produce no pair."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    base = M.pattern_pixels(0)
    shifted = bytes(p + 30 for p in base)  # pattern values stay < 226
    other = M.pattern_pixels(3)  # different content key
    rows = [
        (1, M.synth_png_gray(32, 32, base, filter_type=0)),
        (2, M.synth_png_gray(32, 32, base, filter_type=1)),  # re-encoded
        (3, M.synth_png_gray(32, 32, shifted, filter_type=2)),  # brighter
        (4, M.synth_png_gray(32, 32, other, filter_type=0)),
    ]
    df = spark.createDataFrame(rows, "img_id long, payload binary")
    # all four payloads are byte-distinct: md5 dedup finds nothing
    md5s = M.extract_binary_metadata(df, "img_id", "payload").collect()
    assert len({r["md5_hex"] for r in md5s}) == 4
    pairs = sorted(
        map(tuple, M.image_near_dup_pairs(df, "img_id", "payload").collect())
    )
    assert pairs == [(1, 2, 0), (1, 3, 0), (2, 3, 0)], pairs


def test_image_phash_sparse_edit_within_band_guarantee(spark):
    """A sparse local edit (the +64 noise blotch) perturbs a few hash
    bits; the banding must still recall the pair (pigeonhole: Hamming ≤
    bands−1 always shares a band), and the verified distance must be
    the exact bit difference of the two integer hashes."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    base = M.pattern_pixels(1)  # key 1, no noise (1 % 3 != 0)
    noisy = bytearray(base)
    # blotch one 4x4 block whose base value sits below the image mean
    # (blk 11 → rows 4-7, cols 12-15), flipping exactly that hash bit
    for y in range(4, 8):
        for x in range(12, 16):
            noisy[y * 32 + x] += 64
    rows = [
        (1, M.synth_png_gray(32, 32, base)),
        (2, M.synth_png_gray(32, 32, bytes(noisy))),
    ]
    df = spark.createDataFrame(rows, "img_id long, payload binary")
    got = M.image_near_dup_pairs(df, "img_id", "payload").collect()
    assert len(got) == 1 and got[0]["id_a"] == 1 and got[0]["id_b"] == 2
    # exact expected distance from the integer hash definition
    b1 = M.ahash_bits(base, 32, 32)
    b2 = M.ahash_bits(bytes(noisy), 32, 32)
    expected = sum(x != y for x, y in zip(b1, b2))
    assert 1 <= expected <= 6 and got[0]["hamming"] == expected


def test_audio_fingerprint_near_dup_planted(spark):
    """Content-level audio dedup (r13): a gain-scaled copy (every
    sample ×3 — different bytes, same energy ordering) must pair with
    the original at Hamming distance 0 while md5 sees distinct
    payloads; an unrelated contour must produce no pair; and a sparse
    local edit (one louder frame) must stay within the banding recall
    guarantee at its exact bit distance."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    base = M.pattern_samples(1)  # key 1, no noise (1 % 3 != 0)
    louder = [s * 3 for s in base]  # uniform gain — fingerprint-invariant
    other = M.pattern_samples(5)  # different content key
    # sparse edit: one frame (frame 11 → samples 11·64..12·64) gets +2000
    edited = list(base)
    for i in range(11 * 64, 12 * 64):
        edited[i] += 2000
    rows = [
        (1, M.synth_wav(base)),
        (2, M.synth_wav(louder)),
        (3, M.synth_wav(other)),
        (4, M.synth_wav(edited)),
    ]
    df = spark.createDataFrame(rows, "clip_id long, payload binary")
    md5s = M.extract_binary_metadata(df, "clip_id", "payload").collect()
    assert len({r["md5_hex"] for r in md5s}) == 4  # byte-level dedup blind
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.audio_near_dup_pairs(df, "clip_id", "payload").collect()
    }
    assert pairs.get((1, 2)) == 0  # gain-scaled copy: exact fingerprint
    assert not any(3 in p for p in pairs)  # unrelated clip: no pair
    # the edited clip pairs with both gain variants at its exact distance
    b1 = M.audio_sign_bits(base)
    b4 = M.audio_sign_bits(edited)
    expected = sum(x != y for x, y in zip(b1, b4))
    assert 1 <= expected <= 6
    assert pairs.get((1, 4)) == expected and pairs.get((2, 4)) == expected


def test_assoc_rules_build_runs_no_job(spark, sf_dir):
    """Building the association-rules DataFrame must run NO Spark job
    (r13, VERDICT r12 item 2/what's-wrong): the session total rides a
    one-row crossJoin(broadcast(tot)) — the oracle's own ``tot`` CTE
    shape — instead of an eager ``.count()`` that re-ran the sessionize
    window as a second corpus pass at build time."""
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load
    from sample_deepbook_margin_dune_dbt_spark.queries.eventseq import (
        q_events_assoc_rules,
    )

    sc = spark.sparkContext
    load(spark, sf_dir, "events")
    sc.setJobGroup("assoc-lazy-build", "build only", False)
    try:
        df = q_events_assoc_rules(spark, sf_dir)
    finally:
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup("assoc-lazy-build"))
        sc.setJobGroup("", "", False)
    # spark.read.parquet itself runs a one-stage footer-read job; the
    # regression under test — the eager sessionize+distinct .count() —
    # was a MULTI-stage shuffle job. Every build-time job must be
    # footer-read-shaped.
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        assert info is not None and len(info.stageIds) == 1, (
            f"query build ran a multi-stage job {jid}: "
            f"{info.stageIds if info else 'gone'}"
        )
    # and the lazy form still evaluates (the parity suite pins hashes)
    assert df.count() > 0


def test_jaccard_strategy_dispatch_pins():
    """The auto dispatch encodes the MEASURED crossover (PERF.md r12):
    prefix at t ≥ 0.8 (exact recall, bounded candidates), self-join at
    t = 0.5; the approximate LSH tier only on explicit opt-in at
    corpus sizes where the co-shingle volume is the binding constraint —
    and never when the prefix tier already bounds candidates exactly."""
    assert D.choose_jaccard_strategy(0.8) == "prefix"
    assert D.choose_jaccard_strategy(0.7) == "prefix"
    assert D.choose_jaccard_strategy(0.5) == "self_join"
    assert D.choose_jaccard_strategy(0.4) == "self_join"
    # opt-in approximate tier: needs BOTH the flag and the scale
    assert (
        D.choose_jaccard_strategy(0.5, n_docs=10_000_000, allow_approx=True)
        == "lsh"
    )
    assert D.choose_jaccard_strategy(0.5, n_docs=10_000_000) == "self_join"
    assert D.choose_jaccard_strategy(0.5, n_docs=1000, allow_approx=True) == "self_join"
    # high threshold: prefix is exact AND bounded — approx buys nothing
    assert (
        D.choose_jaccard_strategy(0.9, n_docs=10_000_000, allow_approx=True)
        == "prefix"
    )


def test_jaccard_auto_dispatch_outputs_unchanged(spark, sf_dir):
    """jaccard_pairs(strategy='auto') must emit exactly the dispatched
    tier's rows — which (tiers being output-identical, pinned in
    test_prefix_filter_jaccard_exact_recall) equal the self-join tier's
    at both measured operating points; and the opt-in LSH tier must
    emit a SUBSET with identical jaccard doubles on every surviving
    pair (its only loss is candidate recall)."""
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    docs = load(spark, sf_dir, "documents")
    for t in (0.5, 0.8):
        want = sorted(map(tuple, D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=t).collect()))
        got = sorted(map(tuple, D.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=t, strategy="auto"
        ).collect()))
        assert got == want, (t, len(got), len(want))
    lsh = sorted(map(tuple, D.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, strategy="lsh"
    ).collect()))
    exact = dict(
        ((a, b), j)
        for a, b, j in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    )
    assert lsh  # non-vacuous
    for a, b, j in lsh:
        assert exact.get((a, b)) == j  # exact value on every survivor
    assert len(lsh) >= 0.8 * len(exact)  # fixture recall stays high


def test_banded_hamming_cap_loss_accounting_property(spark, no_aqe):
    """VERDICT r13 item 2 (no silent caps): what the perceptual tiers'
    ``max_bucket_size`` DROPS must be fully accountable from
    ``banded_hamming_bucket_stats`` — fuzzed over planted identical-
    fingerprint group sizes, random background fingerprints, and cap
    values, at the signature level (the tail is shared by the image
    and audio tiers, so one property covers both). Invariants:

    1. capped pairs ⊆ uncapped pairs (the cap only removes);
    2. the loss count is bounded by Σ n_buckets·C(b,2) over the
       oversized buckets the stats report;
    3. loss without a reported oversized bucket never happens.
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    @settings(max_examples=fuzz_examples(4, 2), deadline=None)
    @given(
        group_sizes=st.lists(
            st.integers(min_value=2, max_value=12), min_size=1, max_size=2
        ),
        n_background=st.integers(min_value=0, max_value=6),
        cap=st.integers(min_value=1, max_value=8),
        rng_seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(group_sizes, n_background, cap, rng_seed):
        import random

        rng = random.Random(rng_seed)
        rows, next_id = [], 0
        for size in group_sizes:
            hi, lo = rng.randrange(2**32), rng.randrange(2**32)
            for _ in range(size):
                rows.append((next_id, hi, lo))
                next_id += 1
        for _ in range(n_background):
            rows.append((next_id, rng.randrange(2**32), rng.randrange(2**32)))
            next_id += 1
        sig = spark.createDataFrame(rows, "id long, hi long, lo long")

        def pairset(max_bucket):
            return {
                (r["id_a"], r["id_b"])
                for r in M._banded_hamming_pairs(
                    sig, "hi", "lo", 6, 8, max_bucket
                ).collect()
            }

        capped, uncapped = pairset(cap), pairset(10_000)
        assert capped <= uncapped
        lost = uncapped - capped
        oversized = [
            r
            for r in M.banded_hamming_bucket_stats(sig, "hi", "lo").collect()
            if r["bucket_size"] > cap
        ]
        bound = sum(
            r["n_buckets"] * r["bucket_size"] * (r["bucket_size"] - 1) // 2
            for r in oversized
        )
        assert len(lost) <= bound, (len(lost), bound)
        if lost:
            assert oversized, "loss without a reported oversized bucket"

    check()


def test_banded_hamming_sparse_edit_band_guarantee_property(spark):
    """VERDICT r13 item 9: the pigeonhole band guarantee, fuzzed —
    for ANY base fingerprint and ANY ≤ bands−1 random bit flips, the
    banded tail must recall the (base, edited) pair at its exact
    Hamming distance (today's image/audio pins are fixed shapes; this
    covers the space)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    @settings(max_examples=5, deadline=None)
    @given(
        fp=st.integers(min_value=0, max_value=2**64 - 1),
        flip_bits=st.sets(
            st.integers(min_value=0, max_value=63), min_size=1, max_size=7
        ),
    )
    def check(fp, flip_bits):
        edited = fp
        for b in flip_bits:
            edited ^= 1 << b
        rows = [
            (1, fp >> 32, fp & 0xFFFFFFFF),
            (2, edited >> 32, edited & 0xFFFFFFFF),
        ]
        sig = spark.createDataFrame(rows, "id long, hi long, lo long")
        got = M._banded_hamming_pairs(sig, "hi", "lo", 7, 8, 10_000).collect()
        assert len(got) == 1, got
        assert (got[0]["id_a"], got[0]["id_b"]) == (1, 2)
        assert got[0]["hamming"] == len(flip_bits)

    check()


def test_bitext_ivf_cap_loss_accounting(spark):
    """VERDICT r13 item 2: the IVF bitext tier's ``max_bucket_size``
    drops cells WHOLESALE — every dropped candidate must be accountable
    from ``ivf_cell_stats`` (same seeded trainer ⇒ same cells).
    Invariants: capped candidates ⊆ uncapped; the loss is bounded by
    Σ n_cells·n_a·n_b over the oversized cells the stats report; loss
    implies a reported oversized cell."""
    import random

    from pyspark.sql import functions as F

    from sample_deepbook_margin_dune_dbt_spark.operators import bitext as B

    rng = random.Random(7)

    def vec(center, jitter=0.05):
        return [c + rng.uniform(-jitter, jitter) for c in center]

    rows = []
    # hot cluster: 40 vectors (20 per side) → one oversized cell
    for i in range(40):
        rows.append((i, vec([1.0, 0.0, 0.0, 0.0]), i % 2 == 0))
    # cold cluster: 6 vectors
    for i in range(40, 46):
        rows.append((i, vec([0.0, 1.0, 0.0, 0.0]), i % 2 == 0))
    emb = spark.createDataFrame(rows, "vid long, v array<double>, side boolean")
    sel = emb.select(
        F.col("vid").alias("_id"),
        F.col("v").cast("array<double>").alias("_v"),
        F.col("side").alias("_s"),
    )

    kwargs = dict(n_lists=2, n_probes=1, train_sample=1000, seed=11,
                  train_strategy="driver", train_iters=5, target_occupancy=64)

    def candset(cap):
        return {
            (r["id_a"], r["id_b"])
            for r in B._ivf_cross_scored(
                sel, 4, kwargs["n_lists"], kwargs["n_probes"], cap,
                kwargs["train_sample"], kwargs["seed"],
                kwargs["train_strategy"], kwargs["train_iters"],
                kwargs["target_occupancy"],
            ).collect()
        }

    cap = 30
    capped, uncapped = candset(cap), candset(10_000)
    assert capped < uncapped, "fixture must actually drop the hot cell"
    lost = uncapped - capped
    stats = B.ivf_cell_stats(emb, "vid", "v", "side", **kwargs).collect()
    oversized = [r for r in stats if r["n_a"] + r["n_b"] > cap]
    assert oversized, "loss without a reported oversized cell"
    bound = sum(r["n_cells"] * r["n_a"] * r["n_b"] for r in oversized)
    assert len(lost) <= bound, (len(lost), bound)
    # the surviving cold cell's candidates are untouched by the cap
    assert capped == {p for p in uncapped if p[0] >= 40 or p[1] >= 40} - lost


def test_jaccard_auto_dispatch_count_probe_self_contained(spark, sf_dir):
    """VERDICT r13 item 7: ``jaccard_pairs(strategy='auto',
    allow_approx=True)`` without ``n_docs`` now probes the corpus size
    itself — on a sub-5M-doc corpus the dispatcher must still pick the
    exact self-join tier (auto never degrades recall silently), with
    output identical to the explicit tier."""
    from sample_deepbook_margin_dune_dbt_spark.operators import dedup as D
    from sample_deepbook_margin_dune_dbt_spark.queries.common import load

    docs = load(spark, sf_dir, "documents")
    auto = sorted(map(tuple, D.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, strategy="auto",
        allow_approx=True,
    ).collect()))
    explicit = sorted(map(tuple, D.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, strategy="self_join",
    ).collect()))
    assert auto == explicit and len(auto) > 0


def test_video_near_dup_planted(spark):
    """Content-level video dedup (r14): a re-encoded copy (same frames,
    different scanline filters), a brightness-graded copy, and a
    ROTATED-playback copy (same frames, shifted order) must all pair
    with the original at min-Hamming 0 — while md5 sees four distinct
    payloads — and an unrelated video must produce no pair."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    frames = [M.pattern_video_pixels(1, f) for f in range(4)]
    other = [M.pattern_video_pixels(2, f) for f in range(4)]  # different key

    def pack(seq, filt):
        return M.synth_video(
            [M.synth_png_gray(32, 32, px, filter_type=filt) for px in seq]
        )

    bright = [bytes(p + 3 for p in px) for px in frames]  # uniform grade
    rows = [
        (1, pack(frames, 0)),
        (2, pack(frames, 1)),              # re-encoded
        (3, pack(bright, 2)),              # brightness-graded
        (4, pack(frames[2:] + frames[:2], 0)),  # rotated playback
        (5, pack(other, 0)),               # unrelated
    ]
    df = spark.createDataFrame(rows, "vid long, payload binary")
    md5s = M.extract_binary_metadata(df, "vid", "payload").collect()
    assert len({r["md5_hex"] for r in md5s}) == 5
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.video_near_dup_pairs(df, "vid", "payload").collect()
    }
    for a, b in [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]:
        assert pairs.get((a, b)) == 0, (a, b, pairs)
    assert not any(5 in p for p in pairs), pairs


def test_video_sparse_edit_min_hamming_exact(spark):
    """A copy with EVERY frame locally edited (one +64 blotch per frame)
    must still pair within the banding guarantee, and the verified
    distance must be the exact MIN over all cross-frame pairs of the
    integer per-frame hashes."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    frames = [M.pattern_video_pixels(1, f) for f in range(4)]
    edited = []
    for f, px in enumerate(frames):
        # blotch the bit-0 block closest to the frame mean: +64 flips
        # its bit iff s − 64·v < 4032 (the +64 also raises the total),
        # so the NEAREST below-mean block guarantees a visible edit on
        # every frame and the min distance is ≥ 1
        bits = M.ahash_bits(px, 32, 32)
        vals = [px[(i // 8) * 4 * 32 + (i % 8) * 4] for i in range(64)]
        s = sum(vals)
        blk = min(
            (i for i in range(64) if bits[i] == 0),
            key=lambda i: s - 64 * vals[i],
        )
        assert s - 64 * vals[blk] < 4032
        b = bytearray(px)
        by, bx = blk // 8, blk % 8
        for y in range(by * 4, by * 4 + 4):
            for x in range(bx * 4, bx * 4 + 4):
                b[y * 32 + x] += 64
        edited.append(bytes(b))

    def pack(seq):
        return M.synth_video(
            [M.synth_png_gray(32, 32, px) for px in seq]
        )

    df = spark.createDataFrame(
        [(1, pack(frames)), (2, pack(edited))], "vid long, payload binary"
    )
    got = M.video_near_dup_pairs(df, "vid", "payload").collect()
    ha = [M.ahash_bits(px, 32, 32) for px in frames]
    hb = [M.ahash_bits(px, 32, 32) for px in edited]
    expected = min(
        sum(x != y for x, y in zip(a, b)) for a in ha for b in hb
    )
    assert 1 <= expected <= 6
    assert len(got) == 1 and got[0]["hamming"] == expected


def test_video_container_round_trip_and_parser_injection(spark):
    """SVID synth → parse round trip preserves every frame byte-exactly;
    the frame-parser seam is injectable (a custom single-frame parser
    rides the same plumbing); a non-SVID payload refuses loudly."""
    import pytest as _p

    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    frames = [
        M.synth_png_gray(32, 32, M.pattern_video_pixels(3, f))
        for f in range(3)
    ]
    payload = M.synth_video(frames)
    assert M.parse_video_frames(payload) == frames
    with _p.raises(ValueError, match="SVID"):
        M.parse_video_frames(b"\x00\x01rubbish")

    # injection: treat the whole payload as ONE frame via a custom parser
    df = spark.createDataFrame(
        [(1, frames[0]), (2, frames[0])], "vid long, payload binary"
    )
    got = M.video_near_dup_pairs(
        df, "vid", "payload", frame_parser=lambda b: [b]
    ).collect()
    assert len(got) == 1 and got[0]["hamming"] == 0


def test_banded_hamming_composite_arity_equivalence(spark):
    """The composite-banding scale dial (r14): at arity 2 the key space
    widens 256× but recall stays exact for d ≤ bands−2 = 6 — on a
    planted fixture whose distances are all ≤ 6, arity 2 must emit
    EXACTLY the arity-1 pairs. Fuzzed flips pin the weaker pigeonhole
    at its boundary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    # planted fixture: identical + 1-bit + 6-bit neighbors
    rows = [
        (1, 5, 9),
        (2, 5, 9),            # distance 0
        (3, 5, 9 ^ (1 << 4)),  # distance 1
        (4, 5 ^ 0b111, 9 ^ 0b111),  # distance 6 from id 1
    ]
    sig = spark.createDataFrame(rows, "id long, hi long, lo long")

    def pairs(arity):
        return sorted(
            map(
                tuple,
                M._banded_hamming_pairs(
                    sig, "hi", "lo", 6, 8, 10_000, arity=arity
                ).collect(),
            )
        )

    assert pairs(2) == pairs(1) and len(pairs(1)) >= 3

    @settings(max_examples=5, deadline=None)
    @given(
        fp=st.integers(min_value=0, max_value=2**64 - 1),
        flip_bits=st.sets(
            st.integers(min_value=0, max_value=63), min_size=1, max_size=6
        ),
    )
    def check(fp, flip_bits):
        edited = fp
        for b in flip_bits:
            edited ^= 1 << b
        s = spark.createDataFrame(
            [
                (1, fp >> 32, fp & 0xFFFFFFFF),
                (2, edited >> 32, edited & 0xFFFFFFFF),
            ],
            "id long, hi long, lo long",
        )
        got = M._banded_hamming_pairs(
            s, "hi", "lo", 6, 8, 10_000, arity=2
        ).collect()
        assert len(got) == 1 and got[0]["hamming"] == len(flip_bits)

    check()

    import pytest as _p

    with _p.raises(ValueError, match="arity"):
        M._banded_hamming_pairs(sig, "hi", "lo", 6, 8, 10_000, arity=9).collect()


def test_choose_band_arity_dispatch_and_auto_wrappers(spark):
    """The banded-Hamming scale dispatcher: smallest arity keeping
    expected occupancy ≤ target, CLAMPED to bands−max_hamming (auto
    never weakens the recall guarantee); 'auto' through the public
    image tier picks arity 1 at fixture scale and emits exactly the
    explicit-arity output with no guarantee warning."""
    import warnings

    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    # occupancy ladder at 8 bands / 8-bit chunks, target 64:
    # n ≤ 16384 → 1; crossover at 64·256 boundary; 100k → 2 (the
    # measured 76 s → 10.2 s point); clamp binds at max_hamming=6
    assert M.choose_band_arity(1_000) == 1
    assert M.choose_band_arity(16_384) == 1
    assert M.choose_band_arity(16_385) == 2
    assert M.choose_band_arity(100_000) == 2
    assert M.choose_band_arity(100_000_000) == 2  # clamp: 8 − 6
    assert M.choose_band_arity(100_000_000, max_hamming=2) == 3
    # unclamped climb stops at sufficiency, not the clamp: 10^15/2^48
    # ≈ 3.6 ≤ 64 → 6; 10^18 needs one more notch
    assert M.choose_band_arity(10**15, max_hamming=0, bands=8) == 6
    assert M.choose_band_arity(10**18, max_hamming=0, bands=8) == 7
    # guarantee-free corner: max_hamming ≥ bands still yields a valid 1
    assert M.choose_band_arity(10**9, max_hamming=8) == 1
    with pytest.raises(ValueError, match="bands"):
        M.choose_band_arity(1_000, bands=7)

    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    payload = M.attach_pattern_png(docs, "doc_id", keys=7)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # auto must never warn
        got_auto = sorted(
            map(
                tuple,
                M.image_near_dup_pairs(
                    payload, "doc_id", "png_payload", band_arity="auto"
                ).collect(),
            )
        )
    got_explicit = sorted(
        map(
            tuple,
            M.image_near_dup_pairs(
                payload, "doc_id", "png_payload", band_arity=1
            ).collect(),
        )
    )
    assert got_auto == got_explicit and len(got_auto) > 0

    # n_docs passed → no count probe needed, same resolution path
    assert (
        M._resolve_band_arity("t", "auto", 100_000, lambda: 0, 6, 8) == 2
    )
    with pytest.raises(ValueError, match="band_arity"):
        M._resolve_band_arity("t", 1.5, None, lambda: 0, 6, 8)
    # explicit over-arity keeps the loud warning
    with pytest.warns(UserWarning, match="recall guarantee"):
        M.image_near_dup_pairs(
            payload, "doc_id", "png_payload", band_arity=4
        )


def test_hamming_topk_search_semantics(spark):
    """Radius-limited Hamming top-k (r14): self-retrieval at rank 1 by
    the id tie-break, re-encoded duplicates at distance 0, the radius
    excludes far neighbors, k bounds the list, and arity 2 returns the
    identical ranking within the d ≤ bands−2 guarantee."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    # corpus: 1,2 identical; 3 at distance 1 from them; 4 far away
    rows = [
        (1, 5, 9),
        (2, 5, 9),
        (3, 5, 9 ^ (1 << 7)),
        (4, 0x7FFFFFFF, 0x55555555),
    ]
    corpus = spark.createDataFrame(rows, "id long, hi long, lo long")
    queries = corpus.filter(F.col("id") == 1)

    def run(**kw):
        return sorted(
            map(
                tuple,
                M.hamming_topk(
                    corpus, queries, "hi", "lo", k=10, max_hamming=6, **kw
                ).collect(),
            )
        )

    got = run()
    # (query_id, id, hamming, rank): self first, twin second (id order),
    # the 1-bit neighbor third; id 4 is outside the radius
    assert got == [(1, 1, 0, 1), (1, 2, 0, 2), (1, 3, 1, 3)]
    assert run(arity=2) == got

    # k truncates deterministically
    top1 = M.hamming_topk(
        corpus, queries, "hi", "lo", k=1, max_hamming=6
    ).collect()
    assert [tuple(r) for r in top1] == [(1, 1, 0, 1)]

    # re-encoded payload duplicate through the image wrapper: a query
    # whose bytes differ (different scanline filter) still retrieves
    # the original at distance 0 ahead of everything else
    base = spark.range(6).select(F.col("id").alias("doc_id"))
    corpus_png = M.attach_pattern_png(base, "doc_id", keys=3)
    q_png = M.attach_pattern_png(
        base.filter(F.col("doc_id") == 0), "doc_id", keys=3
    )
    got_img = M.image_hamming_topk(
        corpus_png, q_png, "doc_id", "png_payload", k=3
    ).collect()
    by_rank = {r["rank"]: (r["id"], r["hamming"]) for r in got_img}
    assert by_rank[1] == (0, 0)  # self/identical-pattern first
    # doc 3 shares doc 0's pattern key (keys=3) → near-zero distance at
    # rank 2 (the per-id sparse-noise block may flip a couple of bits)
    assert by_rank[2][0] == 3 and by_rank[2][1] <= 2

    plan = (
        M.hamming_topk(corpus, queries, "hi", "lo")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_banded_tail_join_shape_equals_collect(spark):
    """`candidate_shape='join'` (the fourth-decade memory-bounded
    escape) must emit EXACTLY the collect shape's verified pairs,
    including the max_bucket_size cap semantics."""
    from sample_deepbook_margin_dune_dbt_spark.operators import multimodal as M

    rows = [(i, (i % 5) * 7, (i % 5) * 13 + (1 if i % 10 == 9 else 0))
            for i in range(40)]
    sig = spark.createDataFrame(rows, "id long, hi long, lo long")

    def run(shape, cap=10_000):
        return sorted(
            map(
                tuple,
                M._banded_hamming_pairs(
                    sig, "hi", "lo", 6, 8, cap, candidate_shape=shape
                ).collect(),
            )
        )

    base = run("collect")
    assert run("join") == base and len(base) > 0
    # the cap drops the same buckets in both shapes
    assert run("join", cap=5) == run("collect", cap=5)
    import pytest as _p

    with _p.raises(ValueError, match="candidate_shape"):
        M._banded_hamming_pairs(
            sig, "hi", "lo", 6, 8, 10, candidate_shape="nope"
        )
