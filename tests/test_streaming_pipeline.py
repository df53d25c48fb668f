"""Streaming the DeepBook event decode end-to-end (SURVEY §2.8 mapping).

The same decode logic the batch model uses runs as a Structured Streaming
transformation over a file source, upserting each micro-batch into the
warehouse through the shared MERGE sink — batch and streaming share one
materialization path, one decode expression tree, and one final table state.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.engine import TableStore
from sample_deepbook_margin_dune_dbt_spark.functions.json import json_extract_scalar
from sample_deepbook_margin_dune_dbt_spark.models_deepbook.common import PACKAGE
from sample_deepbook_margin_dune_dbt_spark.streaming import merge_stream

EVENTS_SCHEMA = (
    "transaction_digest string, event_index long, timestamp_ms long, "
    "sender string, event_type string, event_json string"
)

BORROW_TYPE = f"{PACKAGE}::margin_manager::LoanBorrowedEvent"


def _decode(batch_df):
    """The loan_borrowed decode as a stream transformation (same expressions
    as models_deepbook.events)."""
    raw = batch_df.filter(F.col("event_type") == BORROW_TYPE)
    return raw.select(
        "transaction_digest",
        "event_index",
        "timestamp_ms",
        "sender",
        "event_type",
        json_extract_scalar(F.col("event_json"), "$.loan_amount").try_cast("double").alias("loan_amount"),
        json_extract_scalar(F.col("event_json"), "$.margin_pool_id").alias("margin_pool_id"),
    )


def _write_events(path: str, rows: list[dict]) -> None:
    pd.DataFrame(rows).to_parquet(path, index=False)


def _mk_event(digest: str, ts: int, amount: str, pool: str = "0xpool") -> dict:
    return {
        "transaction_digest": digest,
        "event_index": 0,
        "timestamp_ms": ts,
        "sender": "0xs",
        "event_type": BORROW_TYPE,
        "event_json": json.dumps({"loan_amount": amount, "margin_pool_id": pool}),
    }


def test_streaming_event_decode(spark, tmp_path):
    src = tmp_path / "events_src"
    src.mkdir()
    store = TableStore(spark, str(tmp_path / "wh"))

    _write_events(str(src / "b1.parquet"), [
        _mk_event("0xd1", 1000, "100"),
        _mk_event("0xd2", 2000, "200"),
        {**_mk_event("0xnoise", 1500, "1"), "event_type": "0xother::m::E"},
    ])
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src))
    q = merge_stream(
        stream, store, "loan_borrowed_stream",
        unique_key=["transaction_digest", "event_index"],
        transform=_decode,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    rows = {r["transaction_digest"]: r for r in store.read("loan_borrowed_stream").collect()}
    assert set(rows) == {"0xd1", "0xd2"}  # unrelated event filtered out
    assert rows["0xd1"]["loan_amount"] == 100.0

    # late/updated batch: replays digest 0xd2 with corrected amount + adds 0xd3
    _write_events(str(src / "b2.parquet"), [
        _mk_event("0xd2", 2000, "250"),
        _mk_event("0xd3", 3000, "300"),
    ])
    q2 = merge_stream(
        stream, store, "loan_borrowed_stream",
        unique_key=["transaction_digest", "event_index"],
        transform=_decode,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    rows = {r["transaction_digest"]: r for r in store.read("loan_borrowed_stream").collect()}
    assert set(rows) == {"0xd1", "0xd2", "0xd3"}
    assert rows["0xd2"]["loan_amount"] == 250.0  # MERGE replaced, not duplicated


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Exactly-once ingestion under at-least-once delivery: duplicate event
    keys are dropped with bounded state (the watermark bounds how long each
    key is remembered — the property that keeps state finite at 100 TB/day)."""
    import pandas as pd

    src = tmp_path / "dsrc"
    src.mkdir()

    def write(name, rows):
        pd.DataFrame(rows).to_parquet(str(src / name), index=False, coerce_timestamps="us")

    t0 = pd.Timestamp("2026-01-01 00:00")
    write("b1.parquet", {
        "transaction_digest": ["0xa", "0xa", "0xb"],   # in-batch duplicate
        "ts": [t0, t0, t0 + pd.Timedelta("1h")],
        "amount": [1.0, 1.0, 2.0],
    })
    stream = spark.readStream.schema("transaction_digest string, ts timestamp, amount double").parquet(str(src))
    deduped = stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["transaction_digest"]
    )
    out, ckpt = str(tmp_path / "dout"), str(tmp_path / "dckpt")

    def run():
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    # cross-batch duplicate of 0xb (within the 1-day state window) + new 0xc
    write("b2.parquet", {
        "transaction_digest": ["0xb", "0xc"],
        "ts": [t0 + pd.Timedelta("2h"), t0 + pd.Timedelta("3h")],
        "amount": [2.0, 3.0],
    })
    run()
    got = sorted(r["transaction_digest"] for r in spark.read.parquet(out).collect())
    assert got == ["0xa", "0xb", "0xc"], "dupes must drop in-batch and across batches"


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static enrichment: each micro-batch joins the (broadcast-sized)
    static dim — the streaming form of the seed-dimension lookup (SURVEY J4)."""
    import pandas as pd

    src = tmp_path / "jsrc"
    src.mkdir()
    pd.DataFrame({
        "pool": ["0xp1", "0xp2", "0xp3"],
        "amount": [10.0, 20.0, 30.0],
    }).to_parquet(str(src / "b1.parquet"), index=False)
    dim = spark.createDataFrame(
        [("0xp1", "SUI", 9), ("0xp2", "USDC", 6)],
        "pool string, coin_symbol string, coin_decimals int",
    )
    stream = spark.readStream.schema("pool string, amount double").parquet(str(src))
    enriched = (
        stream.join(F.broadcast(dim), "pool", "left")
        .withColumn("normalized", F.col("amount") / F.pow(F.lit(10.0), F.col("coin_decimals")))
    )
    out = str(tmp_path / "jout")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", str(tmp_path / "jckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {r["pool"]: r for r in spark.read.parquet(out).collect()}
    assert rows["0xp1"]["coin_symbol"] == "SUI" and rows["0xp1"]["normalized"] == 10.0 / 1e9
    assert rows["0xp3"]["coin_symbol"] is None, "left join keeps unmatched stream rows"


def test_windowed_aggregation_with_watermark(spark, tmp_path):
    """Tumbling 1-day windows + watermark: the streaming analog of the fact
    model's daily grain (SURVEY §2.8 mapping — watermark ≈ max(timestamp),
    allowed lateness ≈ lookback, window ≈ date bucketing)."""
    import pandas as pd

    src = tmp_path / "wsrc"
    src.mkdir()
    pd.DataFrame(
        {
            "user_id": [1, 1, 2, 1],
            "ts": pd.to_datetime(
                ["2026-01-01 01:00", "2026-01-01 23:00", "2026-01-02 05:00", "2026-01-02 12:00"]
            ),
            "value": [10.0, 20.0, 30.0, 40.0],
        }
    ).to_parquet(str(src / "b1.parquet"), index=False, coerce_timestamps="us")

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(str(src))
    agg = (
        stream.withWatermark("ts", "7 days")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("user_id"))
        .agg(F.sum("value").alias("daily_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("date").alias("day"), "user_id", "daily_value", "n")
    )
    out = str(tmp_path / "wout")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows older than the watermark; feed a later
    # batch to advance it past 2026-01-02
    pd.DataFrame(
        {"user_id": [9], "ts": pd.to_datetime(["2026-02-01 00:00"]), "value": [0.0]}
    ).to_parquet(str(src / "b2.parquet"), index=False, coerce_timestamps="us")
    q2 = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = {(str(r["day"]), r["user_id"]): (r["daily_value"], r["n"]) for r in spark.read.parquet(out).collect()}
    assert rows[("2026-01-01", 1)] == (30.0, 2)
    assert rows[("2026-01-02", 1)] == (40.0, 1)
    assert rows[("2026-01-02", 2)] == (30.0, 1)


def test_streaming_corpus_chunking(spark, tmp_path):
    """The LLM-ops preprocessing chain runs unchanged on a stream: quality
    filter → token-window chunking are narrow maps, so documents stream
    straight through to an append sink — the incremental-corpus-ingest
    shape (new crawl batches land as files, chunks append exactly once)."""
    import pandas as pd

    from sample_deepbook_margin_dune_dbt_spark.functions.text import token_count
    from sample_deepbook_margin_dune_dbt_spark.operators.chunking import chunk_documents

    src = tmp_path / "docs_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "chunks"), str(tmp_path / "ckpt")

    def _run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        good = stream.filter(token_count(F.col("text")) >= 4)
        q = (
            chunk_documents(good, "doc_id", "text", chunk_tokens=4, overlap=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c d e f g", "too short"]}
    ).to_parquet(str(src / "b1.parquet"), index=False)
    _run()
    got = spark.read.parquet(out)
    assert {r["doc_id"] for r in got.collect()} == {1}  # short doc filtered
    assert got.count() == 2  # 7 tokens, window 4, stride 3 → starts 0, 3

    # batch 2 appends new docs without reprocessing batch 1
    pd.DataFrame({"doc_id": [3], "text": ["x y z w v"]}).to_parquet(
        str(src / "b2.parquet"), index=False
    )
    _run()
    got = spark.read.parquet(out).collect()
    assert len(got) == 4  # +2 chunks for doc 3 (5 tokens → starts 0, 3)
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d3 = sorted(by_doc[3], key=lambda r: r["chunk_index"])
    assert [r["chunk_text"] for r in d3] == ["x y z w", "w v"]


def test_stream_dedup_against_materialized_corpus(spark, tmp_path):
    """Ingestion-time exact dedup: a stream of new documents anti-joins the
    MATERIALIZED corpus's fingerprints (stream-static left_anti), so
    re-crawled content never reaches the sink. The static side re-reads
    per micro-batch — at scale that's the fingerprint column of a
    clustered table, not the corpus text."""
    import pandas as pd

    from sample_deepbook_margin_dune_dbt_spark.functions.text import fingerprint64

    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "known document one"), (2, "known document two")],
        "doc_id long, text string",
    ).select("doc_id", fingerprint64(F.col("text")).alias("fingerprint")).write.parquet(
        corpus_dir
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "text": ["fresh content a", "known document two", "fresh content b"],
        }
    ).to_parquet(str(src / "b1.parquet"), index=False)

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    known = spark.read.parquet(corpus_dir).select("fingerprint")
    q = (
        stream.withColumn("fingerprint", fingerprint64(F.col("text")))
        .join(known, "fingerprint", "left_anti")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {10, 12}  # the re-crawled duplicate (11) never lands


def test_streaming_scrub_then_chunk(spark, tmp_path):
    """The full curation pass — repetition gate → PII redaction → chunking —
    runs unchanged on a stream: every stage is a narrow map, so crawl
    batches scrub and chunk exactly once with no stateful operator."""
    import pandas as pd

    from sample_deepbook_margin_dune_dbt_spark.functions import pii as P
    from sample_deepbook_margin_dune_dbt_spark.functions import text as T
    from sample_deepbook_margin_dune_dbt_spark.operators.chunking import chunk_documents

    src = tmp_path / "scrub_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "scrubbed"), str(tmp_path / "sckpt")

    def _run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        gated = stream.filter(T.top_bigram_frac(F.col("text")) <= 0.9)
        scrubbed = gated.withColumn("text", P.pii_redact(F.col("text")))
        q = (
            chunk_documents(scrubbed, "doc_id", "text", chunk_tokens=4, overlap=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "write to user1@example.com with the report today",
                "spam spam spam spam spam spam",  # top bigram = 1.0 → gated
            ],
        }
    ).to_parquet(str(src / "b1.parquet"), index=False)
    _run()
    got = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in got} == {1}
    joined = " ".join(
        r["chunk_text"] for r in sorted(got, key=lambda r: r["chunk_index"])
    )
    assert "[EMAIL]" in joined and "@" not in joined
