"""Sources (CSV modes, in-memory, parquet sink) + pipeline DAG +
multimodal plumbing + similarity recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from udacity_capstone_data_engineering_spark.operators.multimodal import (
    attach_media_metadata,
    extract_features,
    fake_features,
)
from udacity_capstone_data_engineering_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from udacity_capstone_data_engineering_spark.plans.pipeline import Pipeline, Stage
from udacity_capstone_data_engineering_spark.sources.readers import (
    read_csv,
    table_from_rows,
)
from udacity_capstone_data_engineering_spark.sources.sinks import write_parquet


def test_csv_modes(spark, tmp_path):
    p = tmp_path / "demo.csv"
    p.write_text("City;State;Count\nA;X;1\nB;Y;2\n")
    # S2: delimiter + header + inferred
    inferred = read_csv(spark, str(p), sep=";", infer_schema=True)
    assert dict(inferred.dtypes)["Count"] == "int"
    # S3: header-only → all strings (the reference's temperature read)
    strings = read_csv(spark, str(p), sep=";")
    assert dict(strings.dtypes)["Count"] == "string"
    # explicit schema (engine-preferred)
    schema = StructType(
        [
            StructField("City", StringType()),
            StructField("State", StringType()),
            StructField("Count", IntegerType()),
        ]
    )
    typed = read_csv(spark, str(p), schema=schema, sep=";")
    assert typed.schema == schema and typed.count() == 2


def test_table_from_rows_spaced_columns(spark):
    # Reference dims carry spaced names ('State Code', 'Median Age').
    schema = StructType(
        [StructField("State Code", StringType()), StructField("Median Age", DoubleType())]
    )
    df = table_from_rows(spark, [("CA", 36.5)], schema)
    assert df.select(F.col("State Code")).first()[0] == "CA"


def test_parquet_sink_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2016-04", 1.0), (2, "2016-05", 2.0)], "id int, month string, v double"
    )
    path = write_parquet(df, str(tmp_path), "fact", partition_by=["month"])
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert (tmp_path / "fact" / "month=2016-04").exists()
    # partition pruning: the filtered scan reads one of the two partition
    # directories (inputFiles() lists the whole index of a path read, so
    # it cannot show pruning; the scan's own metric can).
    for q, n_read in ((back, 2), (back.filter("month = '2016-04'"), 1)):
        assert len(q.collect()) == n_read
        scan = q._jdf.queryExecution().executedPlan().collectLeaves().head()
        assert scan.metrics().apply("numPartitions").value() == n_read


def test_pipeline_dag_and_materialize(spark, tmp_path):
    pl = Pipeline(spark, workdir=str(tmp_path))

    @pl.stage("base")
    def base():
        return spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("par"))

    @pl.stage("evens", inputs=["base"], materialize=True, partition_by=["par"])
    def evens(b):
        return b.filter("par = 0")

    @pl.stage("count", inputs=["evens"])
    def count(e):
        return e.agg(F.count(F.lit(1)).alias("n"))

    out = pl.run()
    assert out["count"].first().n == 5
    assert (tmp_path / "evens").exists()  # lineage-cut materialized


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs ``action()`` fires while ``group`` is the caller's job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_writes_inherit_callers_job_group(spark, tmp_path):
    # Pool threads in pinned-thread mode start with empty local
    # properties; without inheritance cancelJobGroup misses every write.
    def build(workdir):
        pl = Pipeline(spark, workdir=str(workdir))
        pl.add(Stage("a", lambda: spark.range(10), [], materialize=True))
        pl.add(Stage("b", lambda: spark.range(5), [], materialize=True))
        return pl

    serial = _jobs_in_group(
        spark, "pipe-serial", lambda: build(tmp_path / "s").run(concurrent=False)
    )
    concurrent = _jobs_in_group(
        spark, "pipe-concurrent", lambda: build(tmp_path / "c").run(concurrent=True)
    )
    assert serial > 0 and concurrent == serial


def test_pipeline_reread_pins_written_schema(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5, 10), (2, "b", 2.5, 20), (3, "a", None, 10)],
        "id int, p1 string, v double, p2 int",
    )
    pl = Pipeline(spark, workdir=str(tmp_path))
    pl.add(Stage("flat", lambda: df, [], materialize=True))
    pl.add(Stage("parts", lambda: df, [], materialize=True, partition_by=["p2", "p1"]))
    out = pl.run()
    for name in ("flat", "parts"):
        assert out[name].dtypes == spark.read.parquet(str(tmp_path / name)).dtypes, name
    assert [c for c, _ in out["parts"].dtypes] == ["id", "v", "p2", "p1"]
    assert sorted(map(tuple, out["parts"].collect())) == sorted(
        (r.id, r.v, r.p2, r.p1) for r in df.collect()
    )

    # Directory-name inference would turn "01" into the integer 1.
    padded = spark.createDataFrame([(1, "01"), (2, "12")], "id int, month string")
    pl = Pipeline(spark, workdir=str(tmp_path / "padded"))
    pl.add(Stage("m", lambda: padded, [], materialize=True, partition_by=["month"]))
    back = pl.run()["m"]
    assert dict(back.dtypes)["month"] == "string"
    assert {r.month for r in back.collect()} == {"01", "12"}


def test_pipeline_materialize_fires_only_the_write_jobs(spark, tmp_path):
    def materialize():
        pl = Pipeline(spark, workdir=str(tmp_path / "pipe"))
        pl.add(Stage("s", lambda: spark.range(100), [], materialize=True))
        pl.run()

    bare = _jobs_in_group(
        spark, "bare-write", lambda: write_parquet(spark.range(100), str(tmp_path), "bare")
    )
    assert _jobs_in_group(spark, "materialize", materialize) == bare


def test_pipeline_missing_workdir(spark):
    pl = Pipeline(spark, workdir=None)
    pl.add(Stage("s", lambda: spark.range(1), [], materialize=True))
    with pytest.raises(ValueError, match="workdir"):
        pl.run()


def test_multimodal_feature_extraction(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "world")], "doc_id long, text string"
    ).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    meta = attach_media_metadata(df, "payload", "text/plain")
    m = meta.filter("doc_id = 1").first().media_meta
    assert m.media_type == "text/plain" and m.n_bytes == 5
    feats = {r.doc_id: r.features for r in extract_features(meta, "payload", "doc_id").collect()}
    assert feats[1] == fake_features(b"hello", 4)  # deterministic, Arrow-batched
    assert all(len(v) == 4 for v in feats.values())


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_topk(emb, "vec_id", "embedding", k=5)
    approx = lsh_topk(emb, "vec_id", "embedding", dim=64, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # Deterministic (md5 hyperplanes, no RNG): auto-sized
    # planes + margin-ranked multiprobe measured recall@5 of 0.995
    # (500 vecs), 0.955 (2000 vecs) — pin the >=0.95 design target.
    assert recall >= 0.95, f"LSH recall below design target: {recall}"


def test_pq_recall_and_determinism_vs_brute_force(spark, sf_dir):
    from udacity_capstone_data_engineering_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_topk(emb, "vec_id", "embedding", k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    runs = []
    for _ in range(2):
        approx = pq_topk(emb, "vec_id", "embedding", dim=64, k=5)
        runs.append({(r.query_id, r.neighbor_id) for r in approx.collect()})
    # Deterministic end to end: seeded codebook fit, stable argsorts,
    # id tiebreaks — two fits must agree exactly.
    assert runs[0] == runs[1]
    recall = len(e & runs[0]) / len(e)
    # ksub=256 + rerank=n/20 measured recall@5 of 0.996 (500 vecs),
    # 0.971 (2000 vecs) — pin the >=0.95 design target.
    assert recall >= 0.95, f"PQ recall below design target: {recall}"


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    from udacity_capstone_data_engineering_spark.operators.pq import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_topk(emb, "vec_id", "embedding", k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = ivfpq_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_centroids=16, nprobe=12
    )
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # Recall is bound by the IVF cell filter: measured 0.958 (500) /
    # 0.928 (2000) at 16 cells/nprobe 12 — plain IVF minus ~2 points
    # of PQ cut. Pin >=0.9 at the pinned operating point.
    assert recall >= 0.9, f"IVF-PQ recall below design target: {recall}"


def test_schema_evolution_merged_read_and_union(spark, tmp_path):
    from udacity_capstone_data_engineering_spark.operators.setops import union_evolved
    from udacity_capstone_data_engineering_spark.sources.readers import (
        read_parquet_evolved,
    )

    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    )
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    v1.write.parquet(p1)
    v2.write.parquet(p2)

    merged = read_parquet_evolved(spark, p1, p2)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    unioned = union_evolved(v1, v2)
    assert set(unioned.columns) == {"id", "name", "score"}
    assert {r.id: r.score for r in unioned.collect()} == rows


def test_observe_metrics_piggyback_on_job(spark, sf_dir):
    """qc.observed computes stage telemetry inside the main job: the
    metric values must match an independent pass, with no extra action
    beyond the pipeline's own."""
    from pyspark.sql import functions as F

    from udacity_capstone_data_engineering_spark import qc
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    df, obs = qc.observed(
        orders,
        "orders_stage",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_dates": F.sum(
                F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)
            ),
            "max_price": F.max("o_totalprice"),
        },
    )
    out = df.filter(F.col("o_totalprice") > 0).count()  # the pipeline's action
    got = obs.get
    expected_rows = orders.count()
    assert got["n_rows"] == expected_rows
    assert got["n_null_dates"] == 0
    assert got["max_price"] == orders.agg(F.max("o_totalprice")).first()[0]
    assert out <= expected_rows
