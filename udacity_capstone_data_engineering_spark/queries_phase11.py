"""Phase-11 query tier (round 6): the VERDICT r5 action items that add
catalog surface — the bucketed standing fingerprint index, the real
image codec path, and the materializing quality-gate pipeline.

Same contract as ``queries.py`` (imported at the end of that module so
everything lands in one registry); house determinism rules apply.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.fixedpoint import (
    exact_round_div,
    exact_round_div_sql,
)
from udacity_capstone_data_engineering_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)
from udacity_capstone_data_engineering_spark.queries import _register
from udacity_capstone_data_engineering_spark.queries_phase10 import (
    _INGEST_MOD,
    _INGEST_ORACLE,
)
from udacity_capstone_data_engineering_spark.sources.catalog import (
    fan_out_small_scan,
    load_table,
)

# ---------------------------------------------------------------------------
# Dedup: incremental ingest against a BUCKETED standing index (r5 #2)
# ---------------------------------------------------------------------------


@_register("incremental_ingest_dedup_bucketed", _INGEST_ORACLE)
def incremental_ingest_dedup_bucketed(spark, sf_dir):
    """`incremental_ingest_dedup` with its 100 TB shape actually WIRED
    (VERDICT r5 #2): the standing fingerprint index is MATERIALIZED as
    a bucketed catalog table (bucketBy fingerprint, sorted within
    buckets), and the incoming batch joins against it with ZERO
    exchange on the index side — the index's bucket layout IS its
    partitioning, so the petabyte side of the join never shuffles and
    only the (small) incoming batch moves. Same verdict columns and
    the same oracle as the in-plan variant, so the materialize
    boundary is proven lossless; `tests/test_round6.py` pins the plan
    property (index scan `Bucketed: true`, no Exchange above it,
    strictly fewer exchanges than the unbucketed control). The merge
    hint pins SMJ so small-sf data doesn't degrade the demonstration
    to a broadcast."""
    from udacity_capstone_data_engineering_spark.sources.sinks import (
        write_bucketed,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", portable_hash64(F.col("text")).alias("fingerprint")
    )
    existing = (
        docs.filter(F.col("doc_id") % _INGEST_MOD != 0)
        .select("fingerprint")
        .distinct()
    )
    # ADVICE r6: a fresh mkdtemp per invocation leaked one parquet
    # index per bench/gate run (DROP TABLE on an external table leaves
    # the files), and the fixed table name precluded concurrent
    # sessions. Deterministic per-session workdir + per-session table
    # name, wiped before each write — repeat invocations reuse the
    # same path, and a second session gets its own.
    import shutil

    app_tag = spark.sparkContext.applicationId.replace("-", "_")
    table = f"fp_index_gate_{app_tag}"
    base = os.path.join(
        tempfile.gettempdir(), f"spark_fp_index_gate_{app_tag}"
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(base, ignore_errors=True)
    write_bucketed(
        existing,
        table,
        ["fingerprint"],
        8,
        sort_by=["fingerprint"],
        path=f"{base}/fp_index",
    )
    index = spark.table(table).withColumn("__hit", F.lit(True))

    from pyspark.sql import Window

    w = (
        Window.partitionBy("fingerprint")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = docs.filter(F.col("doc_id") % _INGEST_MOD == 0).select(
        "doc_id",
        "fingerprint",
        (F.count(F.lit(1)).over(w) > 0).alias("dup_within_batch"),
    )
    return flagged.join(index.hint("merge"), "fingerprint", "left").select(
        "doc_id",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("dup_of_existing"),
        "dup_within_batch",
        (
            ~F.coalesce(F.col("__hit"), F.lit(False))
            & ~F.col("dup_within_batch")
        ).alias("accept"),
    )


# ---------------------------------------------------------------------------
# Multimodal: REAL image decode (r5 #3 — the codec gap closed)
# ---------------------------------------------------------------------------

# Synthesized 8x4 PPM (P6) per document: 11-byte header + the first 96
# ASCII text bytes as row-major RGB pixels. doc_id % 7 == 0 payloads are
# truncated mid-body — the corrupt-decode branch, oracle-gated too.
_PPM_W, _PPM_H = 8, 4
_PPM_HDR = f"P6\n{_PPM_W} {_PPM_H}\n255\n"
_CORRUPT_MOD = 7
_CORRUPT_LEN = 50  # header (11) + 39 pixel bytes < 96 -> truncated body


def _ppm_payloads(spark, sf_dir):
    # ASCII invariant made EXPLICIT (ADVICE r6): Spark slices by
    # characters then UTF-8-encodes while the decoder sums bytes, and
    # the DuckDB oracle slices by bytes and sums code points — the two
    # only agree on pure-ASCII text. Both sides now filter to
    # char-length == byte-length (ASCII iff equal), so a future
    # non-ASCII fixture is consistently EXCLUDED on both sides instead
    # of silently diverging.
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") >= _PPM_W * _PPM_H * 3)
        & (F.length("text") == F.octet_length("text"))
    )
    base = F.concat(
        F.lit(_PPM_HDR), F.substring("text", 1, _PPM_W * _PPM_H * 3)
    )
    return docs.select(
        "doc_id",
        F.encode(
            F.when(
                F.col("doc_id") % _CORRUPT_MOD == 0,
                F.substring(base, 1, _CORRUPT_LEN),
            ).otherwise(base),
            "UTF-8",
        ).alias("payload"),
    )


@_register(
    "image_decode_stats",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE strlen(text) >= {_PPM_W * _PPM_H * 3}
                 AND length(text) = strlen(text)),
    sums AS (
      SELECT doc_id,
             CAST(sum(ascii(substring(text, CAST(3*p+1 AS INT), 1))) AS BIGINT) AS r_sum,
             CAST(sum(ascii(substring(text, CAST(3*p+2 AS INT), 1))) AS BIGINT) AS g_sum,
             CAST(sum(ascii(substring(text, CAST(3*p+3 AS INT), 1))) AS BIGINT) AS b_sum
      FROM d, range({_PPM_W * _PPM_H}) t(p) GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN d.doc_id % {_CORRUPT_MOD} = 0 THEN 'corrupt' ELSE 'ok' END AS status,
           CASE WHEN d.doc_id % {_CORRUPT_MOD} = 0 THEN NULL ELSE {_PPM_W} END AS width,
           CASE WHEN d.doc_id % {_CORRUPT_MOD} = 0 THEN NULL ELSE {_PPM_H} END AS height,
           CASE WHEN d.doc_id % {_CORRUPT_MOD} = 0 THEN NULL ELSE s.r_sum END AS r_sum,
           CASE WHEN d.doc_id % {_CORRUPT_MOD} = 0 THEN NULL ELSE s.g_sum END AS g_sum,
           CASE WHEN d.doc_id % {_CORRUPT_MOD} = 0 THEN NULL ELSE s.b_sum END AS b_sum
    FROM d JOIN sums s USING (doc_id)
    """,
)
def image_decode_stats(spark, sf_dir):
    """REAL image decode under the value-hash gate (VERDICT r5 #3):
    each document's leading text bytes become an 8x4 binary PPM (P6)
    payload — header parse, dimension read, and pixel-plane statistics
    all run through the native pure-numpy decoder that replaced the
    r2–r5 NotImplementedError (``operators/multimodal.decode_image``).
    Channel sums are exact BIGINTs, so the oracle recomputes every
    pixel byte with substring+ascii. One payload in 7 is TRUNCATED
    mid-body: the decoder raises, the operator quarantines it as
    status='corrupt' with null stats — the oracle reproduces the
    quarantine verdicts, so the failure path is hash-gated, not just
    unit-tested. Scale shape: Arrow-batched mapInPandas with bounded
    per-worker payload batches, identical to the fake-feature tier."""
    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        decode_image_stats,
    )

    return decode_image_stats(_ppm_payloads(spark, sf_dir), "payload", "doc_id")


@_register(
    "image_resize_decoded",
    f"""
    SELECT doc_id,
           CAST(r AS INTEGER) AS out_row,
           CAST(c AS INTEGER) AS out_col,
           CAST((ascii(substring(text, CAST(3*({_PPM_W}*2*r + 2*c)+1 AS INT), 1))
               + ascii(substring(text, CAST(3*({_PPM_W}*2*r + 2*c)+2 AS INT), 1))
               + ascii(substring(text, CAST(3*({_PPM_W}*2*r + 2*c)+3 AS INT), 1)))
               // 3 AS INTEGER) AS pixel
    FROM (SELECT doc_id, text FROM documents
          WHERE strlen(text) >= {_PPM_W * _PPM_H * 3}
            AND length(text) = strlen(text)
            AND doc_id % {_CORRUPT_MOD} <> 0) d,
         range({_PPM_H // 2}) t1(r), range({_PPM_W // 2}) t2(c)
    """,
)
def image_resize_decoded(spark, sf_dir):
    """Decoded-image nearest-neighbor downsample: the same PPM corpus,
    decoded natively, collapsed to exact integer luma (r+g+b)//3, and
    2x-downsampled by strided selection — output dimensions come from
    the DECODED header, not caller metadata. Corrupt payloads (the
    1-in-7 truncations) contribute no rows, matching the quarantine
    contract; the oracle reproduces every kept pixel byte-exactly."""
    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        resize_image_nearest,
    )

    return resize_image_nearest(_ppm_payloads(spark, sf_dir), "payload", "doc_id", factor=2)


# ---------------------------------------------------------------------------
# Embeddings: Johnson-Lindenstrauss random projection (ANN preprocessing)
# ---------------------------------------------------------------------------

_JL_OUT_DIMS = 16
_JL_SCALE = 1024


@_register(
    "embedding_random_projection",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {_JL_SCALE} + 0.5)
                           AS BIGINT)) AS qv
      FROM embeddings),
    vdim AS (
      SELECT vec_id, u.i AS i, u.val AS val FROM (
        SELECT vec_id, unnest(list_transform(range(1, len(qv) + 1),
                   i -> {{'i': i - 1, 'val': qv[i]}})) AS u
        FROM q))
    SELECT v.vec_id, CAST(j AS INTEGER) AS out_dim,
           CAST(sum(v.val * (1 - 2 * ({portable_hash64_sql(
               "CAST(v.i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} % 2)))
             AS BIGINT) AS proj
    FROM vdim v, range({_JL_OUT_DIMS}) t(j)
    GROUP BY 1, 2
    """,
)
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss dimensionality reduction (Achlioptas
    ±1 signs): project the 64-dim embeddings to 16 dims with a
    DETERMINISTIC sign matrix — sign(i,j) = 1 - 2*(h(i_j) % 2) from
    the portable 60-bit hash, so the projection is a pure function of
    the coordinates: engine-portable, repartition-stable, and (on the
    floor-quantized integer grid) fully value-hash-gateable. This is
    the standard ANN/sketch preprocessing step: downstream LSH or
    clustering runs on 4x fewer dimensions with (1±eps)-preserved
    distances. Scale shape: one map-only posexplode x 16 output dims
    (the sign is computed inline — no sign-matrix join), one
    (vec, out_dim)-keyed aggregation with map-side combine; at 100 TB
    this is scan-bound, shuffle bytes are n*16 longs."""
    vecs = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    q = vecs.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _JL_SCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    vdim = q.select("vec_id", F.posexplode("qv").alias("i", "val"))
    dims = F.broadcast(
        spark.range(_JL_OUT_DIMS).select(F.col("id").cast("int").alias("out_dim"))
    )
    sign = 1 - 2 * F.pmod(
        portable_hash64(
            F.concat(
                F.col("i").cast("string"), F.lit("_"), F.col("out_dim").cast("string")
            )
        ),
        F.lit(2),
    )
    return (
        vdim.crossJoin(dims)
        .groupBy("vec_id", "out_dim")
        .agg(F.sum(F.col("val") * sign).alias("proj"))
    )


# ---------------------------------------------------------------------------
# Monitoring: MAD-based robust outlier detection per event type
# ---------------------------------------------------------------------------


@_register(
    "event_value_outliers_mad",
    """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    med AS (
      SELECT event_type, value AS median
      FROM ranked WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT r.event_type, abs(r.value - m.median) AS adev, m.median,
             row_number() OVER (PARTITION BY r.event_type
                                ORDER BY abs(r.value - m.median),
                                         r.value, r.rn) AS drn,
             count(*) OVER (PARTITION BY r.event_type) AS n
      FROM ranked r JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, median, adev AS mad
      FROM dev WHERE drn = (n + 1) // 2)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(m.median, 6) AS median,
           ROUND(m.mad, 6) AS mad,
           CAST(count(*) FILTER (abs(e.value - m.median) > 3 * m.mad)
                AS BIGINT) AS n_outliers
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type, m.median, m.mad
    """,
)
def event_value_outliers_mad(spark, sf_dir):
    """Robust outlier monitor: per event type, the DISCRETE (lower)
    median and the median absolute deviation, then the count of values
    past the classic 3*MAD fence — the monitor that survives the very
    outliers it hunts (mean/stddev fences get dragged by them).
    Determinism: both medians are ORDER STATISTICS selected under a
    total order (value, event_id — never interpolated floats), so the
    fence arithmetic is identical IEEE ops on identical doubles in
    both engines. Scale shape: two ranked windows per key (sort-based,
    partition = event type; a skewed key follows the house salting
    path) and one counting join — no global sort, no collect."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("value").alias("median"))
    dev_base = ranked.join(med, "event_type").select(
        "event_type",
        "median",
        F.abs(F.col("value") - F.col("median")).alias("adev"),
        "value",
        "rn",
    )
    wd = Window.partitionBy("event_type").orderBy("adev", "value", "rn")
    mad = (
        dev_base.select(
            "event_type",
            "median",
            "adev",
            F.row_number().over(wd).alias("drn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("drn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", "median", F.col("adev").alias("mad"))
    )
    return (
        events.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("median"))
                    > 3 * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("median", 6).alias("median"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Ops: join-key skew profiler (the pre-salting diagnostic)
# ---------------------------------------------------------------------------

_SKEW_TOPK = 20


@_register(
    "join_key_skew_profile",
    f"""
    WITH freq AS (
      SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys
            FROM lineitem)
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           CAST({exact_round_div_sql("cnt * 1000000", "t.total", 0)} AS BIGINT)
             AS share_ppm,
           CAST({exact_round_div_sql("cnt * t.n_keys * 1000", "t.total", 0)}
             AS BIGINT) AS x_mean_permille
    FROM freq CROSS JOIN tot t
    ORDER BY cnt DESC, key
    LIMIT {_SKEW_TOPK}
    """,
)
def join_key_skew_profile(spark, sf_dir):
    """The diagnostic a 100 TB join runs BEFORE choosing a strategy:
    top-20 heaviest join keys with exact share (ppm of all rows) and
    skew factor (x the mean key frequency, permille) — the numbers
    that decide between plain shuffle, AQE skew split, salting, or a
    broadcast of the hot slice (`operators/skew.py`). One counting
    aggregation + a 1-row stats broadcast + TakeOrderedAndProject —
    the profile costs one scan no matter the corpus. Ratios are
    rounded in exact BIGINT arithmetic (the divide-then-round rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = li.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("l_partkey").alias("n_keys"),
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            exact_round_div(
                F.col("cnt") * F.lit(1_000_000), F.col("total"), 0
            ).alias("share_ppm"),
            exact_round_div(
                F.col("cnt") * F.col("n_keys") * F.lit(1000), F.col("total"), 0
            ).alias("x_mean_permille"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(_SKEW_TOPK)
    )


# ---------------------------------------------------------------------------
# The materializing corpus pipeline: gate -> dedup -> split -> packed shards
# ---------------------------------------------------------------------------

_QP_BUDGET = 500
_QP_BUCKETS = 8
_QP_FRACS = {"train": 0.9, "valid": 0.05, "test": 0.05}
_QP_SEED = 1


def _quality_pipeline_oracle_sql() -> str:
    from udacity_capstone_data_engineering_spark.functions.hashing import (
        portable_hash64_sql,
    )
    from udacity_capstone_data_engineering_spark.operators.sampling import (
        hash_split_case_sql,
    )
    from udacity_capstone_data_engineering_spark.queries import _TOKENS_SQL
    from udacity_capstone_data_engineering_spark.queries_phase10 import (
        _quality_gate_oracle_sql,
    )

    case = hash_split_case_sql("fingerprint", _QP_FRACS, seed=_QP_SEED)
    return f"""
    WITH gate AS ({_quality_gate_oracle_sql()}),
    kept AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN gate g ON d.doc_id = g.doc_id WHERE g.keep),
    fp AS (
      SELECT {portable_hash64_sql("text")} AS fingerprint,
             CAST(min(doc_id) AS BIGINT) AS doc_id,
             CAST(min(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM kept GROUP BY 1),
    asg AS (
      SELECT doc_id, n_tokens, {case} AS split,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_QP_BUCKETS} AS bucket
      FROM fp),
    packed AS (
      SELECT split, bucket, doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY split, bucket
                                       ORDER BY doc_id)
                   - n_tokens) // {_QP_BUDGET} AS INTEGER) AS pack_id
      FROM asg)
    SELECT split, CAST(bucket AS INTEGER) AS bucket, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY 1, 2, 3
    """


@_register("quality_pipeline_manifest", _quality_pipeline_oracle_sql())
def quality_pipeline_manifest(spark, sf_dir):
    """THE corpus run, end to end, as a materializing `plans/` Pipeline
    (VERDICT r5 #6 — `full_quality_gate` promoted from verdict query to
    pipeline stage): (1) gate every document through all four quality
    signals and MATERIALIZE the verdict-joined corpus as
    keep-partitioned parquet shards (the lineage cut a 100 TB run
    needs — four corpus-scanning signals run once, and downstream
    stages read the pruned keep=true partition instead of re-running
    the gate's lineage); (2) exact-dedup the kept docs on the content
    fingerprint (min-id keep); (3) leak-proof hash-split keyed on the
    FINGERPRINT so byte-twins can never straddle splits; (4) pack each
    split into ~500-token training shards (contiguous packing in
    portable-hash buckets — per-bucket windows, no global sort). The
    returned shard MANIFEST (split, bucket, pack_id, n_docs,
    pack_tokens) is what a training job consumes, and the oracle
    recomputes the whole chain — so the materialize boundary, the
    partition pruning, and every stage's arithmetic are value-hash
    gated as ONE composition. Post-boundary plan cost is pinned in
    tests/test_round6.py: TWO exchanges — the dedup groupBy on
    fingerprint and the pack window on (split, bucket); the manifest
    aggregation is exchange-free because hash-partitioning on
    (split, bucket) already clusters its (split, bucket, pack_id)
    grouping keys. The gate's own scans live behind the parquet
    boundary."""
    from pyspark.sql import Window

    from udacity_capstone_data_engineering_spark.functions.text import tokens
    from udacity_capstone_data_engineering_spark.plans.pipeline import Pipeline
    from udacity_capstone_data_engineering_spark.operators.sampling import (
        hash_split,
    )
    from udacity_capstone_data_engineering_spark.queries_phase10 import (
        full_quality_gate,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Deterministic per-session workdir, wiped before each run (same
    # ADVICE r6 leak class as the fingerprint index: mkdtemp per
    # invocation accumulated one shard tree per bench/gate run).
    import shutil

    workdir = os.path.join(
        tempfile.gettempdir(),
        "spark_qpipe_"
        + spark.sparkContext.applicationId.replace("-", "_"),
    )
    shutil.rmtree(workdir, ignore_errors=True)
    pipe = Pipeline(spark, workdir=workdir)

    @pipe.stage("gate", materialize=True, partition_by=["keep"])
    def gate():
        verdicts = full_quality_gate(spark, sf_dir).select("doc_id", "keep")
        return docs.join(verdicts, "doc_id")

    @pipe.stage("kept", inputs=["gate"])
    def kept(gate_df):
        # Reads the materialized shards; keep=true prunes at the
        # partition level (asserted in tests/test_round6.py). keep comes
        # back boolean: the Pipeline re-reads with the schema it wrote.
        return gate_df.filter(F.col("keep")).select("doc_id", "text")

    @pipe.stage("dedup", inputs=["kept"])
    def dedup(kept_df):
        return (
            kept_df.select(
                portable_hash64(F.col("text")).alias("fingerprint"),
                "doc_id",
                F.size(tokens("text")).cast("long").alias("n_tokens"),
            )
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min("n_tokens").alias("n_tokens"),
            )
        )

    @pipe.stage("split", inputs=["dedup"])
    def split(dedup_df):
        return hash_split(dedup_df, "fingerprint", _QP_FRACS, seed=_QP_SEED)

    @pipe.stage("pack", inputs=["split"])
    def pack(split_df):
        bucket = F.pmod(
            portable_hash64(F.col("doc_id").cast("string")),
            F.lit(_QP_BUCKETS),
        ).cast("int")
        w = (
            Window.partitionBy("split", "bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            split_df.select("split", "doc_id", "n_tokens", bucket.alias("bucket"))
            .withColumn("__cum", F.sum("n_tokens").over(w))
            .select(
                "split",
                "bucket",
                "doc_id",
                "n_tokens",
                # Exact integer division (ADVICE r6: the double-path
                # F.floor(x / N) silently diverges from the oracle's
                # integer `//` once per-bucket cumulative tokens pass
                # 2^53 — `div` keeps it BIGINT end to end).
                F.expr(f"(__cum - n_tokens) div {_QP_BUDGET}")
                .cast("int")
                .alias("pack_id"),
            )
        )

    @pipe.stage("manifest", inputs=["pack"])
    def manifest(pack_df):
        return pack_df.groupBy("split", "bucket", "pack_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )

    return pipe.run()["manifest"]
