"""Engine feature tests: append strategy, maintenance hooks, schema isolation,
streaming MERGE, source catalog, and the consumer-query layer."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore, get_spark
from sample_deepbook_margin_dune_dbt_spark.models_deepbook import consumer
from sample_deepbook_margin_dune_dbt_spark.sources import SourceCatalog
from sample_deepbook_margin_dune_dbt_spark.sources import testdata_sources as load_testdata_sources
from sample_deepbook_margin_dune_dbt_spark.streaming import merge_stream
import sample_deepbook_margin_dune_dbt_spark.models_deepbook  # noqa: F401
from tests.fixtures import write_fixtures

FIXED_NOW = dt.datetime(2026, 2, 1)


def test_append_strategy(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.append(df1, "t")
    store.append(df1, "t")
    assert store.read("t").count() == 4  # append never dedups (S8)


def test_merge_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    d1, d2 = dt.date(2026, 1, 1), dt.date(2026, 1, 2)
    base = spark.createDataFrame(
        [(1, d1, 10.0), (2, d1, 20.0), (3, d2, 30.0)],
        "id long, day date, v double",
    )
    store.write_full(base, "t", partition_by=["day"])
    p1 = os.path.join(store.path("t"), "day=2026-01-02")
    mtime_before = max(os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1))

    updates = spark.createDataFrame([(1, d1, 99.0)], "id long, day date, v double")
    store.merge(updates, "t", unique_key=["id", "day"], partition_by=["day"])

    rows = {(r["id"], r["day"]): r["v"] for r in store.read("t").collect()}
    assert rows[(1, d1)] == 99.0
    assert rows[(2, d1)] == 20.0
    assert rows[(3, d2)] == 30.0
    # the untouched partition's files were not rewritten
    mtime_after = max(os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1))
    assert mtime_after == mtime_before


def test_optimize_compacts_files(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 10000).repartition(16).withColumn("v", F.rand(seed=1))
    store.write_full(df, "t")
    n_before = len([f for f in os.listdir(store.path("t")) if f.endswith(".parquet")])
    store.optimize("t", target_files=2)
    n_after = len([f for f in os.listdir(store.path("t")) if f.endswith(".parquet")])
    assert n_after < n_before and n_after <= 2
    assert store.read("t").count() == 10000


def test_vacuum_removes_stale_staging(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    stale = store.path(".staging-old-deadbeef")
    os.makedirs(stale)
    os.utime(stale, (0, 0))  # very old
    fresh = store.path(".staging-new-cafebabe")
    os.makedirs(fresh)
    store.vacuum("t", retain_hours=1)
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


def test_prod_profile_runs_post_hooks(spark, tmp_path):
    """The prod profile must optimize (compact, layout-preserving) and
    vacuum (stale staging cleanup) after every build — the reference's
    target.name == 'prod' post-hooks — while dev builds skip both and a
    per-model post_hooks=[] opts out even under prod."""
    import os

    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model
    from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore

    def _many_files(ctx):
        return (
            ctx.spark.range(0, 2000)
            .select(F.col("id"), (F.col("id") % 4).alias("day"), F.rand(seed=1).alias("v"))
            .repartition(16)
        )

    model(name="_hook_probe", materialized="table", partition_by=["day"])(_many_files)
    model(name="_hook_probe_optout", materialized="table", post_hooks=[])(_many_files)
    try:
        store = TableStore(spark, str(tmp_path))
        stale = store.path(".staging-old-dead")
        os.makedirs(stale)
        os.utime(stale, (0, 0))

        Runner(spark, store, {}, profile="dev").run("_hook_probe")
        n_dev = store.file_count("_hook_probe")
        assert n_dev > 4, "dev build must not compact"
        assert os.path.isdir(stale), "dev build must not vacuum"

        prod = Runner(spark, store, {}, profile="prod", vacuum_retain_hours=1)
        prod.run("_hook_probe", full_refresh=True)
        assert store.file_count("_hook_probe") <= 4, "prod optimize must compact"
        assert store.partition_cols("_hook_probe") == ["day"], (
            "optimize must preserve the partition layout"
        )
        assert store.read("_hook_probe").count() == 2000
        assert not os.path.isdir(stale), "prod vacuum must clean stale staging"

        prod.run("_hook_probe_optout")
        assert store.file_count("_hook_probe_optout") > 4, (
            "post_hooks=[] must opt out of prod maintenance"
        )
    finally:
        _REGISTRY.pop("_hook_probe", None)
        _REGISTRY.pop("_hook_probe_optout", None)


def test_schema_suffix_isolation(spark, tmp_path):
    """Dev/prod schema isolation (S11): same table name, separate stores."""
    prod = TableStore(spark, str(tmp_path), schema_suffix="")
    dev = TableStore(spark, str(tmp_path), schema_suffix="dev_pr42")
    df = spark.createDataFrame([(1,)], "id long")
    prod.write_full(df, "t")
    assert not dev.exists("t")
    dev.write_full(df.withColumn("id", F.lit(2)), "t")
    assert prod.read("t").first()["id"] == 1
    assert dev.read("t").first()["id"] == 2


def test_source_catalog(spark, sf_dir):
    cat = SourceCatalog(load_testdata_sources(sf_dir))
    assert cat.read(spark, "main", "region").count() == 5
    cat.register_views(spark)
    assert spark.sql("select count(*) n from main_region").first()["n"] == 5


def test_streaming_merge(spark, tmp_path):
    """The batch MERGE sink works under Structured Streaming foreachBatch:
    late/duplicate keys across micro-batches upsert instead of duplicating."""
    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    store = TableStore(spark, str(tmp_path / "wh"))

    df1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    df1.write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema("id long, v double").parquet(src_dir)
    q = merge_stream(
        stream, store, "t", unique_key=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True,
    )
    q.awaitTermination(120)
    assert {r["id"]: r["v"] for r in store.read("t").collect()} == {1: 10.0, 2: 20.0}

    # second batch: update key 2, add key 3 → MERGE semantics
    df2 = spark.createDataFrame([(2, 99.0), (3, 30.0)], "id long, v double")
    df2.write.mode("append").parquet(src_dir)
    q2 = merge_stream(
        stream, store, "t", unique_key=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True,
    )
    q2.awaitTermination(120)
    assert {r["id"]: r["v"] for r in store.read("t").collect()} == {1: 10.0, 2: 99.0, 3: 30.0}


@pytest.fixture(scope="module")
def domain_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("consumer")
    sources = write_fixtures(str(root / "src"))
    store = TableStore(spark, str(root / "wh"))
    import sample_deepbook_margin_dune_dbt_spark.models_deepbook as _mdl
    Runner(spark, store, sources, fixed_now=FIXED_NOW).run(_mdl.ALL_MODELS)
    return store


def test_consumer_queries(domain_store):
    tvl = consumer.pool_tvl_over_time(domain_store, "USDC").collect()
    assert tvl and all(r["coin_symbol"] == "USDC" for r in tvl)
    total = consumer.total_tvl_across_pools(domain_store).collect()
    assert total and total[0]["snapshot_date"] >= total[-1]["snapshot_date"]
    vol = consumer.daily_borrow_volume_by_pool(domain_store).collect()
    assert vol
    loans = consumer.recent_loan_events(domain_store, limit=10).collect()
    assert 0 < len(loans) <= 10
    assert loans[0]["time"] >= loans[-1]["time"]


def test_not_null_failure_reported(spark, tmp_path):
    """The assertion runner reports failing columns with null counts."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import clear_registry, model

    @model("bad_model", not_null=["v"], materialized="table")
    def bad_model(ctx):
        return ctx.spark.createDataFrame([(1, None), (2, "x"), (3, None)], "id long, v string")

    try:
        store = TableStore(spark, str(tmp_path))
        runner = Runner(spark, store, {})
        runner.run("bad_model")
        failures = runner.test("bad_model")
        assert failures == {"bad_model.v": 2}
    finally:
        from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY

        _REGISTRY.pop("bad_model", None)


def test_source_catalog_formats(spark, tmp_path):
    """CSV and JSON sources read through the catalog with explicit schemas."""
    import pandas as pd

    pdf = pd.DataFrame({"id": [1, 2, 3], "name": ["a", "b", "c"], "v": [1.5, 2.5, 3.5]})
    csv_path = str(tmp_path / "t.csv")
    json_path = str(tmp_path / "t.jsonl")
    pdf.to_csv(csv_path, index=False)
    pdf.to_json(json_path, orient="records", lines=True)

    cat = (
        SourceCatalog()
        .add("ext", "c", csv_path, format="csv",
             schema="id long, name string, v double", options={"header": "true"})
        .add("ext", "j", json_path, format="json",
             schema="id long, name string, v double")
    )
    c = cat.read(spark, "ext", "c")
    j = cat.read(spark, "ext", "j")
    assert sorted(r["v"] for r in c.collect()) == [1.5, 2.5, 3.5]
    assert sorted(r["name"] for r in j.collect()) == ["a", "b", "c"]
    assert [f.dataType.simpleString() for f in c.schema] == ["bigint", "string", "double"]
    cat.register_views(spark)
    assert spark.sql("select sum(v) s from ext_c").first()["s"] == 7.5


def test_generic_tests_full_set(spark, tmp_path):
    """unique / accepted_values / relationships generic tests (dbt's
    standard set beyond the reference's not_null)."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    @model("dim_ok", materialized="table", unique=["id"],
           accepted_values={"status": ["a", "b"]})
    def dim_ok(ctx):
        return ctx.spark.createDataFrame([(1, "a"), (2, "b")], "id long, status string")

    @model("fact_bad", materialized="table", deps=["dim_ok"],
           unique=["id"], accepted_values={"status": ["a", "b"]},
           relationships=[("dim_id", "dim_ok", "id")])
    def fact_bad(ctx):
        return ctx.spark.createDataFrame(
            # dup id 7, bad status 'z', orphan dim_id 99
            [(7, "a", 1), (7, "z", 2), (8, "b", 99)],
            "id long, status string, dim_id long",
        )

    try:
        store = TableStore(spark, str(tmp_path))
        runner = Runner(spark, store, {})
        runner.run(["dim_ok", "fact_bad"])
        failures = runner.test(["dim_ok", "fact_bad"])
        assert failures == {
            "fact_bad.unique:id": 1,             # one duplicated key value
            "fact_bad.accepted_values:status": 1,
            "fact_bad.relationships:dim_id->dim_ok.id": 1,
        }
    finally:
        _REGISTRY.pop("dim_ok", None)
        _REGISTRY.pop("fact_bad", None)


def test_optimize_cluster_by_enables_file_skipping(spark, tmp_path):
    """cluster_by (the ZORDER/CLUSTER BY analog) must produce files whose
    min/max ranges on the cluster column are near-disjoint, so parquet
    footer stats prune range scans."""
    import glob

    import pyarrow.parquet as pq

    store = TableStore(spark, str(tmp_path))
    df = (
        spark.range(0, 40_000)
        .select(F.col("id"), (F.col("id") * 7 % 40_000).alias("k"), F.rand(seed=7).alias("v"))
        .repartition(8)  # k is scattered across every file before optimize
    )
    store.write_full(df, "t")
    store.optimize("t", target_files=8, cluster_by=["k"])

    files = sorted(glob.glob(str(tmp_path / "t" / "*.parquet")))
    assert len(files) >= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        los, his = [], []
        for g in range(md.num_row_groups):
            col = next(
                md.row_group(g).column(i)
                for i in range(md.num_columns)
                if md.row_group(g).column(i).path_in_schema == "k"
            )
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    # near-disjoint: each file covers a narrow slice of the key space (an
    # unclustered layout would give every file ~the full [0, 40000) span)
    span = 40_000
    for lo, hi in ranges:
        assert hi - lo < span / 2, ranges
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]) if h1 > l2)
    assert overlaps <= 1, ranges

    # semantics preserved under re-clustering
    hit = (
        spark.read.parquet(str(tmp_path / "t"))
        .filter((F.col("k") >= 1000) & (F.col("k") < 3000))
    )
    assert hit.count() == 2000


def test_merge_on_schema_change_modes(spark, tmp_path):
    from sample_deepbook_margin_dune_dbt_spark.engine import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.merge(base, "t", ["id"])

    # default 'ignore': a new source column is dropped, merge still lands
    up = spark.createDataFrame([(2, "b2", 9.5), (3, "c", 1.0)],
                               "id long, v string, score double")
    store.merge(up, "t", ["id"])
    got = store.read("t")
    assert "score" not in got.columns
    assert {r["id"]: r["v"] for r in got.collect()} == {1: "a", 2: "b2", 3: "c"}

    # 'fail': raises before touching the table
    with pytest.raises(ValueError, match="score"):
        store.merge(up, "t", ["id"], on_schema_change="fail")

    # unknown modes (typos) must raise, not silently behave as 'ignore'
    with pytest.raises(ValueError, match="on_schema_change"):
        store.merge(up, "t", ["id"], on_schema_change="append-new-columns")

    # 'append_new_columns': widens, NULL-backfills old rows, upsert applies
    store.merge(up, "t", ["id"], on_schema_change="append_new_columns")
    rows = {r["id"]: r for r in store.read("t").collect()}
    assert rows[1]["score"] is None and rows[1]["v"] == "a"
    assert rows[2]["score"] == 9.5 and rows[3]["score"] == 1.0
    # subsequent plain merges see the widened schema
    store.merge(
        spark.createDataFrame([(4, "d", 2.0)], "id long, v string, score double"),
        "t", ["id"],
    )
    assert store.read("t").count() == 4


def test_merge_append_new_columns_partitioned_rewrites_uniformly(spark, tmp_path):
    """A widening merge on a partitioned table must leave EVERY file with
    the widened schema (full rewrite) — no mixed-footer directories."""
    from sample_deepbook_margin_dune_dbt_spark.engine import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p2", "b")], "id long, part string, v string"
    )
    store.merge(base, "t", ["id"], partition_by=["part"])
    up = spark.createDataFrame(
        [(3, "p1", "c", 7.0)], "id long, part string, v string, score double"
    )
    store.merge(up, "t", ["id"], partition_by=["part"],
                on_schema_change="append_new_columns")
    got = store.read("t")
    assert "score" in got.columns
    rows = {r["id"]: r for r in got.collect()}
    assert rows[2]["score"] is None and rows[3]["score"] == 7.0
    # untouched-partition rows ALSO read back with the new column present
    assert set(rows) == {1, 2, 3}


def test_downstream_and_tag_selectors(spark, tmp_path):
    """'name+' selects the model plus everything depending on it (with
    the upstreams those descendants need); 'tag:x' selects by tag."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    names = ["sel_a", "sel_b", "sel_c", "sel_d"]

    @model("sel_a", materialized="table", tags=["seltest"])
    def sel_a(ctx):
        return ctx.spark.createDataFrame([(1,)], "id long")

    @model("sel_b", materialized="table", deps=["sel_a"], tags=["seltest"])
    def sel_b(ctx):
        return ctx.ref("sel_a")

    @model("sel_c", materialized="table", deps=["sel_b"])
    def sel_c(ctx):
        return ctx.ref("sel_b")

    @model("sel_d", materialized="table")
    def sel_d(ctx):
        return ctx.spark.createDataFrame([(9,)], "id long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        assert runner._closure("sel_b+") == ["sel_a", "sel_b", "sel_c"]
        assert set(runner._closure("tag:seltest")) == {"sel_a", "sel_b"}
        assert runner._closure(["sel_d", "+sel_b"]) in (
            ["sel_a", "sel_b", "sel_d"], ["sel_a", "sel_d", "sel_b"],
            ["sel_d", "sel_a", "sel_b"],
        )
        with pytest.raises(KeyError, match="no models carry"):
            runner._closure("tag:nope")
        # e2e: downstream selector builds the chain
        order = runner.run("sel_b+")
        assert order == ["sel_a", "sel_b", "sel_c"]
        assert store.exists("sel_c")
    finally:
        for n in names:
            _REGISTRY.pop(n, None)


def test_model_registration_validates_config():
    """Unknown materialization/strategy/schema-change values raise at
    registration, not silently fall back (same defect class as the r4
    on_schema_change finding)."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import model

    with pytest.raises(ValueError, match="materialized"):
        model("bad1", materialized="view")(lambda ctx: None)
    with pytest.raises(ValueError, match="incremental_strategy"):
        model("bad2", incremental_strategy="delete_insert")(lambda ctx: None)
    with pytest.raises(ValueError, match="on_schema_change"):
        model("bad3", on_schema_change="sync-all-columns")(lambda ctx: None)
    # bucket_by mirrors are append-maintained (ADVICE r13 item 3): a
    # merge/insert_overwrite model would desync its mirror on every run,
    # so the combination is rejected at declaration — and the runner's
    # _sync_bucketed_mirror additionally gates its append branch on the
    # 'append' strategy (belt and braces for ad-hoc ModelConfigs)
    with pytest.raises(ValueError, match="append-maintained"):
        model(
            "bad4",
            materialized="incremental",
            incremental_strategy="merge",
            unique_key=["k"],
            bucket_by=["k"],
        )(lambda ctx: None)


def test_insert_overwrite_replaces_touched_partitions(spark, tmp_path):
    """The third incremental strategy: partitions present in the updates
    are replaced WHOLESALE (no key matching), untouched partitions keep
    their files byte-for-byte."""
    import datetime as dtm

    store = TableStore(spark, str(tmp_path))
    d1, d2 = dtm.date(2026, 1, 1), dtm.date(2026, 1, 2)
    base = spark.createDataFrame(
        [(1, d1, 10.0), (2, d1, 20.0), (3, d2, 30.0)],
        "id long, day date, v double",
    )
    store.insert_overwrite(base, "t", ["day"])  # first run = create
    p2 = os.path.join(store.path("t"), "day=2026-01-02")
    mtime_before = max(os.path.getmtime(os.path.join(p2, f)) for f in os.listdir(p2))

    # rewrite day 1 with DIFFERENT keys: id 2 must vanish (wholesale
    # replacement — the semantic difference from MERGE)
    store.insert_overwrite(
        spark.createDataFrame([(9, d1, 99.0)], "id long, day date, v double"),
        "t",
        ["day"],
    )
    rows = {(r["id"], r["day"]): r["v"] for r in store.read("t").collect()}
    assert rows == {(9, d1): 99.0, (3, d2): 30.0}
    mtime_after = max(os.path.getmtime(os.path.join(p2, f)) for f in os.listdir(p2))
    assert mtime_after == mtime_before, "untouched partition must not rewrite"

    with pytest.raises(ValueError, match="partition_by"):
        store.insert_overwrite(base, "t", [])


def test_insert_overwrite_model_end_to_end(spark, tmp_path):
    """A model declared insert_overwrite rebuilds only the partitions its
    incremental slice produces."""
    import datetime as dtm

    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    src = {"rows": [(1, dtm.date(2026, 1, 1), 1.0), (2, dtm.date(2026, 1, 2), 2.0)]}

    @model("io_model", incremental_strategy="insert_overwrite", partition_by=["day"])
    def io_model(ctx):
        return ctx.spark.createDataFrame(src["rows"], "id long, day date, v double")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        runner.run("io_model")
        # second run emits only day 2 with new content -> day 1 untouched,
        # day 2 replaced (id 2 gone, id 5 present)
        src["rows"] = [(5, dtm.date(2026, 1, 2), 9.0)]
        runner.run("io_model")
        rows = {(r["id"], r["day"]): r["v"] for r in store.read("io_model").collect()}
        assert rows == {(1, dtm.date(2026, 1, 1)): 1.0, (5, dtm.date(2026, 1, 2)): 9.0}
    finally:
        _REGISTRY.pop("io_model", None)

    with pytest.raises(ValueError, match="partition_by is required"):
        model("io_bad", incremental_strategy="insert_overwrite")(lambda ctx: None)


def test_run_results_artifact(spark, tmp_path):
    """Every run() writes <warehouse>/_artifacts/run_results.json with
    per-model status/duration; failures are recorded then re-raised."""
    import json

    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    @model("rr_ok", materialized="table")
    def rr_ok(ctx):
        return ctx.spark.createDataFrame([(1,)], "id long")

    @model("rr_boom", materialized="table")
    def rr_boom(ctx):
        raise RuntimeError("kaput")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        runner.run("rr_ok")
        art = json.load(open(store.path("_artifacts") + "/run_results.json"))
        assert art["results"][0]["model"] == "rr_ok"
        assert art["results"][0]["status"] == "success"
        assert art["results"][0]["execution_time_s"] >= 0
        assert art["full_refresh"] is False

        with pytest.raises(RuntimeError, match="kaput"):
            runner.run(["rr_ok", "rr_boom"])
        art = json.load(open(store.path("_artifacts") + "/run_results.json"))
        by_model = {r["model"]: r for r in art["results"]}
        assert by_model["rr_boom"]["status"] == "error"
        assert "kaput" in by_model["rr_boom"]["error"]
    finally:
        _REGISTRY.pop("rr_ok", None)
        _REGISTRY.pop("rr_boom", None)


def test_merge_sync_all_columns(spark, tmp_path):
    """sync_all_columns is the full two-way sync: new source columns
    widen (NULL backfill), vanished source columns DROP from the target,
    and dropping a unique_key column is refused."""
    from sample_deepbook_margin_dune_dbt_spark.engine import TableStore

    store = TableStore(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)],
                                 "id long, v string, legacy double")
    store.merge(base, "t", ["id"])

    up = spark.createDataFrame([(2, "b2", 9.5), (3, "c", 1.0)],
                               "id long, v string, score double")
    store.merge(up, "t", ["id"], on_schema_change="sync_all_columns")
    got = store.read("t")
    assert set(got.columns) == {"id", "v", "score"}, "legacy dropped, score added"
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["score"] is None and rows[1]["v"] == "a"
    assert rows[2]["score"] == 9.5 and rows[3]["v"] == "c"

    bad = spark.createDataFrame([(1.5, "x")], "other double, v string")
    with pytest.raises(ValueError, match="unique_key"):
        store.merge(bad, "t", ["id"], on_schema_change="sync_all_columns")


def test_manifest_artifact(spark, tmp_path):
    """manifest() exposes the selected DAG's declared config; the CLI
    docs path writes it next to run_results.json."""
    store = TableStore(spark, str(tmp_path / "wh"))
    runner = Runner(spark, store, {"main.events": "/x/events.parquet"})
    m = runner.manifest("+fct_deepbook_margin_pool_daily")
    fct = m["models"]["fct_deepbook_margin_pool_daily"]
    assert fct["unique_key"] == ["margin_pool_id", "snapshot_date"]
    assert fct["incremental_strategy"] == "merge"
    assert "stg_deepbook_margin_pool_object" in fct["depends_on"]
    assert set(m["models"]) == set(
        runner._closure("+fct_deepbook_margin_pool_daily")
    )
    assert "main.events" in m["sources"]
    import json
    path = runner.write_manifest("+fct_deepbook_margin_pool_daily")
    assert json.load(open(path))["models"].keys() == m["models"].keys()


def test_model_contract_enforced(spark, tmp_path):
    """dbt model contracts: a contracted model materializes only when its
    output schema is exactly the contracted columns/types; violations
    fail BEFORE any write, listing every problem."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import (
        _REGISTRY,
        enforce_contract,
        model,
    )

    shape = {"cols": "id long, v string"}

    @model(
        "contracted",
        materialized="table",
        contract={"id": "bigint", "v": "string"},
    )
    def contracted(ctx):
        return ctx.spark.createDataFrame([], shape["cols"])

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        runner.run("contracted")  # matching schema builds fine
        assert store.exists("contracted")

        # wrong type: fails, and the old materialization is untouched
        shape["cols"] = "id int, v string"
        with pytest.raises(ValueError, match="contract says bigint"):
            runner.run("contracted")
        # extra + missing columns both reported
        shape["cols"] = "id long, extra double"
        with pytest.raises(ValueError) as ei:
            runner.run("contracted")
        assert "missing contracted column 'v'" in str(ei.value)
        assert "uncontracted column 'extra'" in str(ei.value)
    finally:
        _REGISTRY.pop("contracted", None)

    # helper-level: alias spellings are canonicalized ('long' == 'bigint')
    df = spark.createDataFrame([], "id long")
    enforce_contract(df, {"id": "long"}, "m")
    enforce_contract(df, {"id": "BIGINT"}, "m")


def test_incremental_predicates_bound_merge_scope(spark, tmp_path):
    """dbt incremental_predicates: target rows outside the predicate
    window never enter the key match — an in-window update replaces its
    row, while an out-of-window key is treated as NOT MATCHED and
    inserted (dbt's documented hazard, reproduced faithfully)."""
    import datetime as dtm

    store = TableStore(spark, str(tmp_path))
    d_old, d_new = dtm.date(2025, 1, 1), dtm.date(2026, 1, 28)
    base = spark.createDataFrame(
        [(1, d_old, 10.0), (2, d_new, 20.0), (3, None, 30.0)],
        "id long, day date, v double",
    )
    store.write_full(base, "t")
    preds = ["day >= DATE '2026-01-01'"]

    updates = spark.createDataFrame(
        [(2, d_new, 99.0), (1, d_new, 77.0)], "id long, day date, v double"
    )
    store.merge(updates, "t", unique_key=["id"], incremental_predicates=preds)
    rows = sorted((r["id"], r["day"], r["v"]) for r in store.read("t").collect())
    assert rows == [
        (1, d_old, 10.0),   # out of scope: key matched an update but was shielded
        (1, d_new, 77.0),   # ...so the update inserted (dbt hazard, documented)
        (2, d_new, 99.0),   # in scope: replaced
        (3, None, 30.0),    # NULL predicate = out of scope, untouched
    ]


def test_incremental_predicates_partitioned_and_model_level(spark, tmp_path):
    """Predicates compose with the partition-pruned merge path and wire
    through the @model config; registration rejects them on non-merge
    strategies."""
    import datetime as dtm

    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    d1, d2 = dtm.date(2026, 1, 1), dtm.date(2026, 1, 2)
    src = {"rows": [(1, d1, 1.0), (2, d2, 2.0)]}

    @model(
        "ip_model",
        unique_key=["id"],
        partition_by=["day"],
        incremental_predicates=["v < 100"],
    )
    def ip_model(ctx):
        return ctx.spark.createDataFrame(src["rows"], "id long, day date, v double")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        runner.run("ip_model")
        # put id=2 out of scope by raising v over the bound, then try to
        # update it: the shielded row must survive alongside the insert
        store.merge(
            spark.createDataFrame([(2, d2, 200.0)], "id long, day date, v double"),
            "ip_model", ["id"], ["day"],
        )
        src["rows"] = [(2, d2, 5.0)]
        runner.run("ip_model")
        rows = sorted((r["id"], r["v"]) for r in store.read("ip_model").collect())
        assert rows == [(1, 1.0), (2, 5.0), (2, 200.0)]
    finally:
        _REGISTRY.pop("ip_model", None)

    with pytest.raises(ValueError, match="incremental_predicates"):
        model("ip_bad", incremental_strategy="append", incremental_predicates=["1=1"])(
            lambda ctx: None
        )


def test_exclude_selector_and_seed_command(spark, tmp_path):
    """dbt --exclude removes its resolved set after selection (the
    dependent still runs against the excluded model's existing
    materialization); dbt seed loads *.csv reference data as tables."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    calls = []

    @model("ex_a", materialized="table")
    def ex_a(ctx):
        calls.append("ex_a")
        return ctx.spark.createDataFrame([(1,)], "id long")

    @model("ex_b", materialized="table", deps=["ex_a"])
    def ex_b(ctx):
        calls.append("ex_b")
        return ctx.ref("ex_a")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        runner.run("+ex_b")
        assert calls == ["ex_a", "ex_b"]
        calls.clear()
        runner.run("+ex_b", exclude="ex_a")  # dep already materialized
        assert calls == ["ex_b"]
        # selection-level: excluding with a list removes both names
        order = runner._closure(["ex_a", "ex_b"], exclude=["ex_a", "ex_b"])
        assert order == []
    finally:
        _REGISTRY.pop("ex_a", None)
        _REGISTRY.pop("ex_b", None)

    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    (seed_dir / "coin_meta.csv").write_text(
        "coin,decimals,active\nSUI,9,true\nUSDC,6,true\n"
    )
    store = TableStore(spark, str(tmp_path / "wh2"))
    runner = Runner(spark, store, {})
    assert runner.seed(str(seed_dir)) == ["coin_meta"]
    rows = {r["coin"]: (r["decimals"], r["active"]) for r in store.read("coin_meta").collect()}
    assert rows == {"SUI": (9, True), "USDC": (6, True)}  # types inferred


def test_build_gates_downstream_on_tests(spark, tmp_path):
    """dbt build: a model whose data tests fail stops the DAG walk before
    its dependents run — the semantic difference from run-then-test."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    calls = []
    rows = {"a": [(1,), (None,)]}  # NULL violates not_null

    @model("b_a", materialized="table", not_null=["id"])
    def b_a(ctx):
        calls.append("b_a")
        return ctx.spark.createDataFrame(rows["a"], "id long")

    @model("b_b", materialized="table", deps=["b_a"])
    def b_b(ctx):
        calls.append("b_b")
        return ctx.ref("b_a")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        with pytest.raises(RuntimeError, match="tests failed on 'b_a'"):
            runner.build("+b_b")
        assert calls == ["b_a"], "downstream must not build after a test failure"
        statuses = {r["model"]: r["status"] for r in runner.last_run_results}
        assert statuses["b_a"] == "test_failed" or "b_a" in statuses

        calls.clear()
        rows["a"] = [(1,), (2,)]
        assert runner.build("+b_b") == ["b_a", "b_b"]
        assert calls == ["b_a", "b_b"]
    finally:
        _REGISTRY.pop("b_a", None)
        _REGISTRY.pop("b_b", None)


def test_store_failures_materializes_offending_rows(spark, tmp_path):
    """dbt store_failures: each failing test writes its offending rows to
    a `_test_failures__<model>__<test>` audit table."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    @model(
        "sf_model",
        materialized="table",
        not_null=["v"],
        unique=["id"],
        accepted_values={"cat": ["a", "b"]},
    )
    def sf_model(ctx):
        return ctx.spark.createDataFrame(
            [(1, None, "a"), (1, 2.0, "z"), (3, 4.0, "b")],
            "id long, v double, cat string",
        )

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        runner.run("sf_model")
        failures = runner.test("sf_model", store_failures=True)
        assert failures == {
            "sf_model.v": 1,
            "sf_model.unique:id": 1,
            "sf_model.accepted_values:cat": 1,
        }
        nulls = store.read("_test_failures__sf_model__not_null_v").collect()
        assert [r["id"] for r in nulls] == [1]
        dups = store.read("_test_failures__sf_model__unique_id").collect()
        assert sorted(r["id"] for r in dups) == [1, 1]
        bad_cat = store.read("_test_failures__sf_model__accepted_values_cat").collect()
        assert [r["cat"] for r in bad_cat] == ["z"]
        # default path writes nothing
        store2 = TableStore(spark, str(tmp_path / "wh2"))
        runner2 = Runner(spark, store2, {})
        runner2.run("sf_model")
        runner2.test("sf_model")
        assert not store2.exists("_test_failures__sf_model__not_null_v")
    finally:
        _REGISTRY.pop("sf_model", None)


def test_vars_and_source_freshness(spark, sf_dir, tmp_path):
    """ctx.var() resolves Runner(vars=...) with defaults; source
    freshness grades each source's newest-row age pass/warn/error
    against the injectable clock."""
    import datetime as dtm

    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model
    from sample_deepbook_margin_dune_dbt_spark.sources import (
        testdata_sources as tds,
    )

    seen = {}

    @model("v_model", materialized="table")
    def v_model(ctx):
        seen["thr"] = ctx.var("threshold", 5)
        seen["missing"] = ctx.var("nope", "fallback")
        return ctx.spark.createDataFrame([(1,)], "id long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {}, vars={"threshold": 9})
        runner.run("v_model")
        assert seen == {"thr": 9, "missing": "fallback"}
    finally:
        _REGISTRY.pop("v_model", None)

    sources = tds(sf_dir)
    import pyarrow.parquet as pq

    max_ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"])["ts"].to_pandas().max()
    base = max_ts.to_pydatetime().replace(tzinfo=None)

    def grade(now):
        r = Runner(spark, store, sources, fixed_now=now)
        return r.source_freshness(
            {"main.events": {"loaded_at_field": "ts", "warn_after_s": 3600, "error_after_s": 86400}}
        )["main.events"]["status"]

    assert grade(base + dtm.timedelta(seconds=60)) == "pass"
    assert grade(base + dtm.timedelta(hours=2)) == "warn"
    assert grade(base + dtm.timedelta(days=2)) == "error"


def test_state_modified_selector(spark, tmp_path):
    """dbt state:modified against a saved manifest: unchanged project
    selects nothing; a config change or builder-body change selects that
    model (builder source is part of the fingerprint)."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    def reg(tag):
        @model("sm_a", materialized="table", tags=[tag])
        def sm_a(ctx):
            return ctx.spark.createDataFrame([(1,)], "id long")

    def reg_b(body_marker):
        if body_marker == 1:
            @model("sm_b", materialized="table")
            def sm_b(ctx):
                return ctx.spark.createDataFrame([(1,)], "id long")
        else:
            @model("sm_b", materialized="table")
            def sm_b(ctx):
                return ctx.spark.createDataFrame([(2,)], "id long")

    reg("t1")
    reg_b(1)
    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        state_path = runner.write_manifest(["sm_a", "sm_b"])

        fresh = Runner(spark, store, {}, state=state_path)
        assert fresh._modified_models() & {"sm_a", "sm_b"} == set()

        reg("t2")      # config change
        reg_b(2)       # builder-body change, config identical
        assert {"sm_a", "sm_b"} <= Runner(
            spark, store, {}, state=state_path
        )._modified_models()

        with pytest.raises(ValueError, match="state:modified requires"):
            Runner(spark, store, {})._modified_models()
    finally:
        _REGISTRY.pop("sm_a", None)
        _REGISTRY.pop("sm_b", None)


def test_review_fixes_exclude_freshness_buildresults(spark, sf_dir, tmp_path):
    """Round-5 review fixes: test() honors exclude; empty-tag exclude is a
    no-op; DATE freshness columns grade instead of crashing; build()
    records ONE row (test_failed) for a gated model; store_failures
    clears a stale audit table once the test passes."""
    import datetime as dtm
    import json

    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model
    from sample_deepbook_margin_dune_dbt_spark.sources import (
        testdata_sources as _tds,
    )

    rows = {"v": [(1, None)]}

    @model("rf_a", materialized="table", not_null=["v"])
    def rf_a(ctx):
        return ctx.spark.createDataFrame(rows["v"], "id long, v double")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        with pytest.raises(RuntimeError):
            runner.build("rf_a")
        # exactly one run-results row for the gated model, and it is NOT success
        mine = [r for r in runner.last_run_results if r["model"] == "rf_a"]
        assert [r["status"] for r in mine] == ["test_failed"]

        # test() exclude + no-op empty tag exclude
        assert runner.test("rf_a", exclude="rf_a") == {}
        assert runner.test("rf_a", exclude="tag:no_such_tag") != {}
        assert runner._closure("rf_a", exclude="tag:no_such_tag") == ["rf_a"]

        # store_failures: stale audit table dropped once the test passes
        runner.test("rf_a", store_failures=True)
        assert store.exists("_test_failures__rf_a__not_null_v")
        rows["v"] = [(1, 2.0)]
        runner.run("rf_a", full_refresh=True)
        assert runner.test("rf_a", store_failures=True) == {}
        assert not store.exists("_test_failures__rf_a__not_null_v")
    finally:
        _REGISTRY.pop("rf_a", None)

    # DATE-typed freshness column: grades instead of TypeError
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "dsrc.parquet"
    pq.write_table(
        pa.table({"d": pa.array([dtm.date(2026, 1, 1), dtm.date(2026, 1, 5)])}),
        str(src),
    )
    r = Runner(
        spark,
        TableStore(spark, str(tmp_path / "wh2")),
        {"main.snap": str(src)},
        fixed_now=dtm.datetime(2026, 1, 5, 0, 30),
    )
    got = r.source_freshness(
        {"main.snap": {"loaded_at_field": "d", "warn_after_s": 3600, "error_after_s": 86400}}
    )["main.snap"]
    assert got["status"] == "pass" and got["age_s"] == 1800.0


def test_unknown_selector_names_fail_actionably(spark, tmp_path):
    """ADVICE r5: --select with an unknown name (plain or graph-operator)
    raises a descriptive KeyError naming the selector, not a bare KeyError
    from deep inside the DAG walk; --exclude of the same selectors matches
    nothing instead of crashing."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    @model("sel_known", materialized="table")
    def sel_known(ctx):
        return ctx.spark.createDataFrame([(1,)], "id long")

    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        for sel in ("no_such", "+no_such", "no_such+"):
            with pytest.raises(KeyError, match="unknown model 'no_such'"):
                runner._closure(sel)
            # non-strict exclude: the bad selector removes nothing
            assert runner._closure("sel_known", exclude=sel) == ["sel_known"]
    finally:
        _REGISTRY.pop("sel_known", None)


def test_builder_sha_stable_without_source(spark, tmp_path):
    """ADVICE r5: a builder without retrievable source (exec-defined) must
    hash to a process-stable token, not a repr() embedding its memory
    address — otherwise state:modified selects it forever."""
    from sample_deepbook_margin_dune_dbt_spark.engine.model import _REGISTRY, model

    ns: dict = {}
    exec(
        "def exec_builder(ctx):\n"
        "    return ctx.spark.createDataFrame([(1,)], 'id long')\n",
        ns,
    )
    model("sha_exec", materialized="table")(ns["exec_builder"])
    try:
        store = TableStore(spark, str(tmp_path / "wh"))
        runner = Runner(spark, store, {})
        sha1 = runner.manifest("sha_exec")["models"]["sha_exec"]["builder_sha"]
        sha2 = runner.manifest("sha_exec")["models"]["sha_exec"]["builder_sha"]
        assert sha1 == sha2
        # the token must not contain an object id: re-exec'ing the same
        # source yields a DIFFERENT function object with the SAME sha
        ns2: dict = {}
        exec(
            "def exec_builder(ctx):\n"
            "    return ctx.spark.createDataFrame([(1,)], 'id long')\n",
            ns2,
        )
        _REGISTRY.pop("sha_exec")
        model("sha_exec", materialized="table")(ns2["exec_builder"])
        sha3 = runner.manifest("sha_exec")["models"]["sha_exec"]["builder_sha"]
        assert sha1 == sha3
    finally:
        _REGISTRY.pop("sha_exec", None)


def test_local_master_defaults_to_affinity_cpus(monkeypatch):
    """Unset ``SPARK_GRAFT_CPUS`` must size ``local[N]`` to the CPUs this
    process may run on, not a fixed 32 that oversubscribes small boxes."""
    from sample_deepbook_margin_dune_dbt_spark.engine.session import local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert f"local[{local_cpus()}]" == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"


@pytest.mark.parametrize(
    "val,deep",
    [(None, False), ("", False), ("0", False), ("false", False),
     ("FALSE", False), ("no", False), ("1", True), ("true", True)],
)
def test_deep_fuzz_env_parse(monkeypatch, val, deep):
    """Only an affirmative ``SPARK_GRAFT_DEEP_FUZZ`` opts into the deep
    Hypothesis tier; ``0`` / ``false`` / empty keep the fast one."""
    from tests._util import fuzz_examples

    if val is None:
        monkeypatch.delenv("SPARK_GRAFT_DEEP_FUZZ", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DEEP_FUZZ", val)
    assert fuzz_examples(8, 4) == (8 if deep else 4)
