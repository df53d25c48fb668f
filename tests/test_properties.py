"""Property-based tests (hypothesis): cross-engine invariants under fuzzing.

Each property batches many generated examples into ONE Spark job per case
(`max_examples` kept small — Spark's per-job overhead dominates, so the
batch does the fuzzing work).
"""

from __future__ import annotations

import re

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from tests._util import fuzz_examples
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
from sample_deepbook_margin_dune_dbt_spark.functions.text import fingerprint64

# printable-ish text incl. unicode, excluding NUL (parquet/duckdb varchar)
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=0,
    max_size=80,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=50, unique=True))
def test_fingerprint64_matches_duckdb(spark, texts):
    """Spark fingerprint64 ≡ DuckDB's '0x'||substr(md5,1,15) cast — the
    invariant every dedup/minhash oracle relies on."""
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r["t"]: r["fp"] for r in df.select("t", fingerprint64(F.col("t")).alias("fp")).collect()}
    con = duckdb.connect()
    for t in texts:
        (expected,) = con.execute(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT)", [t]
        ).fetchone()
        assert got[t] == expected, t


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=50, unique=True))
def test_try_cast_matches_duckdb(spark, texts):
    """try_cast(s AS BIGINT/DOUBLE) NULL-on-failure parity with DuckDB."""
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {
        r["t"]: (r["i"], r["d"])
        for r in df.select(
            "t",
            F.col("t").try_cast("bigint").alias("i"),
            F.col("t").try_cast("double").alias("d"),
        ).collect()
    }
    con = duckdb.connect()
    for t in texts:
        ei, ed = con.execute(
            "SELECT TRY_CAST(? AS BIGINT), TRY_CAST(? AS DOUBLE)", [t, t]
        ).fetchone()
        gi, gd = got[t]
        # engines differ on exotic spellings: unicode digits, and — found by
        # hypothesis — ASCII control characters ('0\x08' parses as 0 in Spark,
        # which trims all chars <= 0x20 before parsing, but NULL in DuckDB),
        # and sign-only spellings ('-', '- ', '+'): Spark NULLs a sign with no
        # digits, DuckDB parses sign-then-whitespace as an empty digit string
        # equal to 0. Restrict the strict claim to printable ASCII that isn't
        # a bare sign — the data the pipeline actually casts is JSON scalar
        # text. Divergence documented at functions/json.py (try_cast notes).
        sign_only = re.fullmatch(r"\s*[+-]\s*", t) is not None
        if t.isascii() and t.isprintable() and not sign_only:
            assert gi == ei, (t, gi, ei)
            if ed is None or gd is None:
                assert gd == ed, (t, gd, ed)
            else:
                assert gd == pytest.approx(ed, nan_ok=True), (t, gd, ed)


@settings(max_examples=fuzz_examples(8, 4), deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 1000)),  # (key, version)
        min_size=1,
        max_size=30,
    )
)
def test_merge_equals_dict_upsert(spark, tmp_path_factory, ops):
    """A sequence of MERGE batches ≡ last-writer-wins dict upsert."""
    root = tmp_path_factory.mktemp("merge_prop")
    store = TableStore(spark, str(root))
    model: dict[int, int] = {}
    # split ops into batches of ≤5 and merge each
    name = "t"
    for i in range(0, len(ops), 5):
        batch = ops[i : i + 5]
        # within one MERGE batch the reference's inputs are key-unique;
        # keep the last occurrence per key
        dedup = {}
        for k, v in batch:
            dedup[k] = v
        model.update(dedup)
        df = spark.createDataFrame(list(dedup.items()), "k long, v long")
        store.merge(df, name, unique_key=["k"])
    got = {r["k"]: r["v"] for r in store.read(name).collect()}
    assert got == model
    store.drop(name)


@settings(max_examples=fuzz_examples(6, 3), deadline=None)
@given(
    st.lists(  # batches of (scope_key, [detail values]) drops, keys overlap
        st.lists(
            st.tuples(st.integers(0, 6), st.lists(st.integers(0, 100), max_size=4)),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_replace_scope_equals_delete_insert_reference(spark, tmp_path_factory, drops):
    """``TableStore.replace_scope`` ≡ delete-then-insert reference
    semantics under ARBITRARY overlapping re-drops (VERDICT r9 item 8):
    after every batch, each scoped key's detail rows are exactly the
    LATEST drop's recompute — counts may shrink, stale rows never
    survive, out-of-scope keys are untouched — and re-applying a batch
    (at-least-once replay) is a no-op."""
    root = tmp_path_factory.mktemp("rs_prop")
    store = TableStore(spark, str(root))
    model: dict[int, list[int]] = {}
    name = "detail"
    for batch in drops:
        per_key: dict[int, list[int]] = {}
        for k, vals in batch:  # last occurrence of a key within a batch wins
            per_key[k] = vals
        rows = [(k, v) for k, vals in per_key.items() for v in vals]
        updates = spark.createDataFrame(rows or [], "k long, v long")
        scope = spark.createDataFrame([(k,) for k in per_key], "k long")
        for _ in range(2):  # apply twice: replay must be idempotent
            store.replace_scope(updates, name, scope, ["k"])
        for k, vals in per_key.items():
            model[k] = sorted(vals)
        got: dict[int, list[int]] = {}
        for r in store.read(name).collect():
            got.setdefault(r["k"], []).append(r["v"])
        assert {k: sorted(v) for k, v in got.items()} == {
            k: v for k, v in model.items() if v
        }
    store.drop(name)


@settings(max_examples=6, deadline=None)
@given(
    n_tokens=st.integers(min_value=1, max_value=120),
    divisor=st.integers(min_value=2, max_value=32),
)
def test_cdc_chunking_invariants(spark, n_tokens, divisor):
    """For ANY doc: CDC chunks tile the token stream exactly (gapless,
    in order, first chunk at 0), and appending a suffix never changes any
    chunk that ends more than `window` tokens before the edit (the
    edit-locality property that distinguishes CDC from fixed-stride)."""
    from sample_deepbook_margin_dune_dbt_spark.operators.chunking import (
        chunk_content_defined,
    )

    toks = [f"w{i * 7919 % 1001}" for i in range(n_tokens)]
    base = " ".join(toks)
    edited = base + " " + " ".join(f"x{i}" for i in range(5))
    df = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")
    out = chunk_content_defined(df, "doc_id", "text", window=4, divisor=divisor)
    by_doc = {1: [], 2: []}
    for r in sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_index"])):
        by_doc[r["doc_id"]].append(r)
    for doc, toklist in ((1, toks), (2, edited.split(" "))):
        seen = []
        for i, r in enumerate(by_doc[doc]):
            assert r["chunk_index"] == i
            seen.extend(r["chunk_text"].split(" "))
        assert seen == toklist, "chunks must tile the token stream exactly"
    # edit locality: a boundary at position p depends only on the `window`
    # tokens from p, so every chunk ENDING at most n - window tokens in is
    # provably untouched by the appended suffix
    safe, pos = [], 0
    for r in by_doc[1]:
        pos += r["chunk_n_tokens"]
        if pos <= n_tokens - 4:
            safe.append(r["chunk_text"])
    edited_chunks = [r["chunk_text"] for r in by_doc[2]]
    assert edited_chunks[: len(safe)] == safe, (
        "appending a suffix must not disturb interior chunk boundaries"
    )


@settings(max_examples=8, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    seq_len=st.integers(min_value=1, max_value=64),
)
def test_pack_sequences_invariants(spark, sizes, seq_len):
    """For ANY doc-size multiset and seq_len: the layout is a gapless
    permutation of the token stream (offsets tile [0, total)), zero-token
    docs are excluded, and every doc's first/last/n_seqs agree with its
    offsets."""
    from sample_deepbook_margin_dune_dbt_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(list(enumerate(sizes)), "id long, t long")
    rows = sorted(pack_sequences(df, "id", "t", seq_len).collect(),
                  key=lambda r: r["start_offset"])
    expect_total = sum(sizes)
    assert len(rows) == sum(1 for s in sizes if s > 0)
    pos = 0
    for r in rows:
        assert r["start_offset"] == pos, "stream must be gapless"
        assert r["end_offset"] - r["start_offset"] == sizes[r["id"]]
        assert r["first_seq"] == r["start_offset"] // seq_len
        assert r["last_seq"] == (r["end_offset"] - 1) // seq_len
        assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1
        pos = r["end_offset"]
    assert pos == expect_total


@settings(max_examples=25, deadline=None)
@given(
    n_tokens=st.integers(min_value=0, max_value=200),
    chunk=st.integers(min_value=1, max_value=32),
    overlap_frac=st.floats(min_value=0.0, max_value=0.99),
)
def test_chunking_invariants(spark, n_tokens, chunk, overlap_frac):
    """For ANY (doc length, window, overlap): chunks cover every token in
    order, first chunk starts at token 0, every chunk has 1..chunk tokens,
    consecutive chunks overlap by exactly `overlap` (except the tail)."""
    from sample_deepbook_margin_dune_dbt_spark.operators.chunking import chunk_documents

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    toks = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, "doc_id", "text", chunk, overlap).collect(),
        key=lambda r: r["chunk_index"],
    )
    assert rows[0]["chunk_index"] == 0
    assert [r["chunk_index"] for r in rows] == list(range(len(rows)))
    stride = chunk - overlap
    seen = []
    for i, r in enumerate(rows):
        got = r["chunk_text"].split(" ") if r["chunk_text"] else []
        if n_tokens == 0:
            # empty doc → one chunk of the empty token (split semantics)
            assert len(rows) == 1 and r["chunk_text"] == ""
            return
        assert 1 <= len(got) <= chunk
        assert got == toks[i * stride : i * stride + chunk]
        seen.extend(got[overlap:] if i > 0 else got)
    assert seen == toks, "chunks must cover every token exactly once at stride offsets"


@settings(max_examples=fuzz_examples(6, 3), deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # user
            st.integers(min_value=0, max_value=50),          # minute
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1, max_size=30,
    )
)
def test_property_funnel_matches_python_reference(spark, tmp_path_factory, events):
    """For ANY event set, the Spark funnel's per-step user counts must
    equal a brute-force Python evaluation of the strict-ordering
    semantics (min view ts → min later click ts → min later purchase)."""
    import datetime as dt

    from sample_deepbook_margin_dune_dbt_spark.queries.eventseq import q_events_funnel

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, et, 1.0, "{}")
        for i, (u, m, et) in enumerate(events)
    ]
    d = str(tmp_path_factory.mktemp("fun"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    # brute-force reference
    def step_time(user, kind, after):
        ts = [t for (u, m, et) in events if u == user and et == kind
              for t in [t0 + dt.timedelta(minutes=m)] if after is None or t > after]
        return min(ts) if ts else None

    users = {u for u, _, _ in events}
    n1 = n2 = n3 = 0
    for u in users:
        t1 = step_time(u, "view", None)
        if t1 is None:
            continue
        n1 += 1
        t2 = step_time(u, "click", t1)
        if t2 is None:
            continue
        n2 += 1
        if step_time(u, "purchase", t2) is not None:
            n3 += 1

    if n1 == 0:
        return  # no funnel entrants: the ppm projection is undefined
    r = q_events_funnel(spark, d).first()
    assert (r["n_step1"], r["n_step2"], r["n_step3"]) == (n1, n2, n3)


@settings(max_examples=50, deadline=None)
@given(
    s_cnt=st.integers(min_value=4, max_value=500),
    partkey=st.integers(min_value=1, max_value=10_000),
)
def test_derived_partsupp_keys_distinct(s_cnt, partkey):
    """The derived-partsupp assignment (queries/tpch.py) must give every
    part 4 DISTINCT suppliers at any supplier count ≥ 4 — q16's distinct
    counts and q2's min-cost join silently degrade on collisions. Pure
    formula check, no Spark."""
    step = max(1, s_cnt // 4)
    supps = {(partkey + i * step) % s_cnt + 1 for i in range(4)}
    assert len(supps) == 4
    assert all(1 <= s <= s_cnt for s in supps)


def _ref_repeated_spans(docs, k, min_count):
    """Pure-Python reference for repeated_spans: window counts over the
    whole corpus, per-doc island merge."""
    from collections import Counter

    wins = {}
    counts = Counter()
    for doc_id, text in docs:
        toks = text.lower().strip().split(" ")
        if len(toks) < k:
            continue
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        wins[doc_id] = (len(toks), grams)
        counts.update(grams)
    out = []
    for doc_id, (n_tokens, grams) in wins.items():
        hits = [p for p, g in enumerate(grams) if counts[g] >= min_count]
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        for s, e in spans:
            out.append((doc_id, n_tokens, s, e + k - 1, e - s + k))
    return sorted(out)


@settings(max_examples=fuzz_examples(6, 3), deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 7), min_size=0, max_size=24),
        min_size=1,
        max_size=12,
    ),
    st.integers(2, 4),
)
def test_repeated_spans_match_reference(spark, token_docs, k):
    """repeated_spans over random tiny-vocabulary corpora (forcing both
    cross-doc and within-doc repeats) must equal the brute-force
    reference exactly: same spans, same boundaries, same accounting."""
    from sample_deepbook_margin_dune_dbt_spark.operators.dedup import repeated_spans

    docs = [
        (i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(token_docs)
    ]
    expected = _ref_repeated_spans(docs, k, 2)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in repeated_spans(df, "doc_id", "text", k=k, min_count=2).collect()
    )
    assert got == expected


def _ref_strip_spans(docs, k, min_count):
    """Pure-Python reference for strip_repeated_spans (keep-first)."""
    from collections import Counter

    counts = Counter()
    toks = {}
    first = {}
    for doc_id, text in sorted(docs):
        w = text.lower().strip().split(" ")
        toks[doc_id] = w
        for p in range(max(len(w) - k + 1, 0)):
            g = " ".join(w[p : p + k])
            counts[g] += 1
            first.setdefault(g, (doc_id, p))
    out = []
    for doc_id, w in toks.items():
        red = [
            p
            for p in range(max(len(w) - k + 1, 0))
            if counts[" ".join(w[p : p + k])] >= min_count
            and first[" ".join(w[p : p + k])] != (doc_id, p)
        ]
        dropped = set()
        for p in red:
            dropped.update(range(p, p + k))
        kept = [t for i, t in enumerate(w) if i not in dropped]
        out.append((doc_id, " ".join(kept), len(w), len(w) - len(kept)))
    return sorted(out)


@settings(max_examples=fuzz_examples(6, 3), deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 5), min_size=0, max_size=20),
        min_size=1,
        max_size=10,
    ),
    st.integers(2, 3),
)
def test_strip_spans_match_reference(spark, token_docs, k):
    """strip_repeated_spans must equal the keep-first brute-force
    reference exactly on random tiny-vocabulary corpora: same cleaned
    text, same accounting. (Island merging over redundant windows must
    not strip more or fewer tokens than the per-window union.)"""
    from sample_deepbook_margin_dune_dbt_spark.operators.dedup import (
        strip_repeated_spans,
    )

    docs = [
        (i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(token_docs)
    ]
    expected = _ref_strip_spans(docs, k, 2)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["text_clean"], r["n_tokens"], r["n_dropped"])
        for r in strip_repeated_spans(df, "doc_id", "text", k=k, min_count=2).collect()
    )
    assert got == expected


# ------------------------------------------------ versioned store (r11)

_OPS = st.lists(
    st.tuples(
        st.sampled_from(["merge", "append", "insert_overwrite", "vacuum"]),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),       # key
                st.integers(min_value=0, max_value=99),      # value
                st.sampled_from(["d1", "d2", None]),         # partition (incl. null)
            ),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=fuzz_examples(6, 3), deadline=None)
@given(_OPS)
def test_versioned_store_equals_plain_under_random_interleavings(
    spark, tmp_path_factory, ops
):
    """VERDICT r10 item 8: for ANY interleaving of merge / append /
    insert_overwrite / vacuum over a partitioned table (null partition
    values included), the versioned store's CURRENT content equals the
    plain store's after every step, every committed version remains
    readable, and ops/labels are consistent."""
    import tempfile

    from sample_deepbook_margin_dune_dbt_spark.engine import (
        TableStore,
        VersionedTableStore,
    )

    root = tempfile.mkdtemp(dir=str(tmp_path_factory.mktemp("vprop")))
    plain = TableStore(spark, root + "/p")
    vers = VersionedTableStore(spark, root + "/v")

    def df(rows):
        return spark.createDataFrame(
            [(k, v, d) for k, v, d in rows], "k INT, v INT, day STRING"
        )

    seeded = False
    for op, rows in ops:
        d = df(rows)
        if op == "merge":
            plain.merge(d, "t", ["k"], partition_by=["day"])
            vers.merge(d, "t", ["k"], partition_by=["day"])
        elif op == "append":
            if not seeded:  # append before create == create
                plain.write_full(d, "t", ["day"])
                vers.write_full(d, "t", ["day"])
            else:
                plain.append(d, "t", ["day"])
                vers.append(d, "t", ["day"])
        elif op == "insert_overwrite":
            plain.insert_overwrite(d, "t", ["day"])
            vers.insert_overwrite(d, "t", ["day"])
        else:  # vacuum: retention must never change current content
            plain.vacuum("t")
            vers.vacuum("t", retain_hours=0)
            if not seeded:
                continue
        seeded = True
        # None-safe sort key: day is nullable by design ("null partition
        # values included"), and sorted() can't compare None with str —
        # a latent crash whenever Hypothesis mixes a None-day row with a
        # str-day row in one table state
        key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
        got_p = sorted(
            map(tuple, plain.read("t").select("k", "v", "day").collect()), key=key
        )
        got_v = sorted(
            map(tuple, vers.read("t").select("k", "v", "day").collect()), key=key
        )
        assert got_v == got_p, f"diverged after {op}({rows})"
    if seeded:
        # every surviving version stays readable; labels match known ops
        for ver in vers.versions("t"):
            vers.read("t", version=ver["version"]).count()
            assert ver["op"] in {"overwrite", "merge", "append", "insert_overwrite"}
