"""Similarity search over embedding columns (``array<float>``).

Two paths:
  - ``brute_force_topk``: exact cosine top-k via a blocked self-join —
    the correctness baseline, quadratic, fine at test scale and as the
    recall oracle for the approximate path.
  - ``lsh_topk``: multi-table random-hyperplane LSH — deterministic
    hyperplanes derived from md5 (no RNG state to ship); candidates are
    generated only WITHIN sign-pattern buckets, so the join cost scales
    with bucket sizes, not corpus². Bucketing and candidate scoring are
    Arrow-batched numpy matmuls (declared Python boundaries — measured
    4-5× faster than interpreted higher-order functions here); the
    shuffled data is ids only.

``brute_force_topk`` (the oracle-paired op) keeps builtin zip_with/
aggregate vector math in DOUBLE with left-to-right accumulation —
bit-stable across engines (see ``functions/vectors.py``). The approx
paths trade that portability for throughput; they are verified by
recall, not hash equality.

Every ANN candidate scan (LSH here, IVF in ``ivf.py``, PQ and IVF-PQ
in ``pq.py``, the standing index in ``ann_index.py``) runs through
one of two runners defined below; each operator supplies only its
numpy block scorer:

  - ``_broadcast_scan``: the index ships once as a content-keyed
    broadcast (``_cached_broadcast``) and one Arrow UDF scores each
    query batch against it.
  - ``_grid_scan``: past the broadcast byte cap the index stays a
    DataFrame; query blocks × corpus shards meet in one cogrouped
    ``applyInPandas`` and a query-keyed window merges the shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.vectors import cosine_similarity

# Live kernel broadcasts, content-keyed (ADVICE r7: each anchor query
# used to leave an up-to-256MiB broadcast pinned on the executors for
# the life of the session; a 201-query catalog run accretes them).
_KERNEL_BC: "dict[tuple, object]" = {}
_KERNEL_BC_MAX = 3


def _cached_broadcast(spark, payload):
    """Content-keyed LRU of live TorrentBroadcasts, shared by every
    Arrow scan kernel. The key is a digest of the whole pickled
    payload — every array's dtype, shape and bytes — so no caller
    writes a key by hand and a payload that differs in any array can
    never be served a stale entry (ADVICE r9). Equal payloads reuse
    one broadcast within a session.

    Shipping the index through an explicit broadcast instead of
    UDF-closure capture matters (r9): a closure is re-serialized to
    the python worker PER TASK (measured DOUBLING the sf1 lsh_self
    wall), while a broadcast value is fetched once per worker process
    and cached. Evicted entries are unpersist(blocking=False)-ed —
    safe even if a stale plan still references one, since Spark
    re-ships an unpersisted broadcast from the driver on next use."""
    import hashlib
    import pickle
    from types import SimpleNamespace

    h = hashlib.sha1()
    pickle.Pickler(SimpleNamespace(write=h.update), protocol=5).dump(payload)
    key = (id(spark.sparkContext), h.hexdigest())
    bc = _KERNEL_BC.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast(payload)
        _KERNEL_BC[key] = bc
        while len(_KERNEL_BC) > _KERNEL_BC_MAX:
            old = _KERNEL_BC.pop(next(iter(_KERNEL_BC)))
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass  # already cleaned by context shutdown
    return bc


def _rank_topk(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The one top-k rule of every similarity operator: per query, rank
    by ``score`` descending (NULLs last), ties to the lower
    neighbor_id, keep ``rnk <= k``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", score, "rnk")
    )


def _broadcast_scan(
    queries: DataFrame, payload, score_block, min_partitions: int | None = None
) -> DataFrame:
    """Candidate pairs from an index small enough to broadcast.

    ``queries`` is ``(query_id, qv array<double>)``; ``payload`` ships
    once via ``_cached_broadcast``; ``score_block(payload, x)`` maps a
    (batch × dim) query matrix to one id array per row (its candidates).
    The query scan is widened first (``fan_out_small_scan``), so the
    CPU-heavy scorer runs at cluster parallelism. Returns
    ``(query_id, neighbor_id)`` with self pairs dropped."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    bc = _cached_broadcast(queries.sparkSession, payload)

    def scan(v):
        return pd.Series(list(score_block(bc.value, np.vstack(v.to_numpy()))))

    # .asNondeterministic() is an OPTIMIZER FENCE, not a semantics
    # change (every scorer is deterministic): without it,
    # InferFiltersFromGenerate infers `size(result) > 0` from the
    # downstream explode and pushes that filter — WITH the whole Arrow
    # UDF inside it — below the fan-out exchange, re-evaluating the
    # ENTIRE scan a second time on the raw one-full-split layout, on
    # one core (r9 diagnosis of the sf10 "straggler tail").
    # Nondeterministic expressions cannot be duplicated or moved, so
    # the kernel runs once, above the exchange, at the fan-out's
    # parallelism.
    udf = pandas_udf(scan, "array<long>").asNondeterministic()
    return (
        fan_out_small_scan(queries, min_partitions=min_partitions)
        .select("query_id", udf(F.col("qv")).alias("cs"))
        .select("query_id", F.explode("cs").alias("neighbor_id"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def _shard_count(total_bytes: int, cap: int, par: int, n_blocks: int) -> int:
    """Shards for a grid scan: enough that each fits ``cap``, at least
    2, and — since the grid's task count is shards × query blocks —
    enough for ~2 tasks per core (at most 4 per core) when there are
    few query blocks. Shards may be finer than the cap requires:
    per-(query, row) scores are shard-independent and shards partition
    the corpus."""
    return max(
        2,
        -(-total_bytes // max(cap, 1)),
        min(-(-2 * par // n_blocks), 4 * par),
    )


def _grid_scan(
    queries: DataFrame,
    corpus: DataFrame,
    score_block,
    take: int,
    n_q: int,
    corpus_bytes: int,
    cap: int,
    assign=None,
) -> DataFrame:
    """Candidate pairs from an index past the broadcast cap.

    Queries (``(query_id, qv)``) are hash-blocked into
    ``ADC_QUERY_BLOCK_ROWS`` blocks, the corpus (``id`` plus the
    scorer's columns) is split into ``_shard_count`` shards, and one
    cogrouped ``applyInPandas`` runs ``score_block(lpdf, rpdf)`` per
    (query block × shard) cell; it returns ``(query ids, neighbor ids,
    scores)`` arrays, NULL scores allowed. A query-keyed window
    (``_rank_topk``) merges the shards to each query's top-``take`` by
    (score desc, id asc). Nothing corpus-sized is broadcast; the
    shuffled volume is corpus × blocks + queries × shards rows.

    Shards are ``xxhash64(id) mod n_shards`` and every query visits
    every shard, unless ``assign(n_shards)`` returns its own
    ``(corpus with __shard, probes (query_id, __shard))``. Returns
    ``(query_id, neighbor_id, score)`` with self pairs dropped."""
    import numpy as np
    import pandas as pd

    from udacity_capstone_data_engineering_spark.operators.pq import (
        ADC_QUERY_BLOCK_ROWS,
    )

    spark = queries.sparkSession
    n_blocks = max(1, -(-n_q // ADC_QUERY_BLOCK_ROWS))
    par = max(1, spark.sparkContext.defaultParallelism)
    n_shards = _shard_count(corpus_bytes, cap, par, n_blocks)
    if assign is None:
        corpus = corpus.withColumn(
            "__shard", F.pmod(F.xxhash64("id"), F.lit(n_shards)).cast("int")
        )
        left = queries.crossJoin(
            F.broadcast(
                spark.range(n_shards).select(
                    F.col("id").cast("int").alias("__shard")
                )
            )
        )
    else:
        corpus, probes = assign(n_shards)
        left = probes.join(queries, "query_id")
    left = left.withColumn(
        "__qb", F.pmod(F.xxhash64("query_id"), F.lit(n_blocks)).cast("int")
    )
    right = corpus.crossJoin(
        F.broadcast(
            spark.range(n_blocks).select(F.col("id").cast("int").alias("__qb"))
        )
    )

    def scan(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) and len(rpdf):
            qids, nids, scores = score_block(lpdf, rpdf)
        else:
            qids = nids = np.zeros(0, dtype=np.int64)
            scores = np.zeros(0, dtype=np.float64)
        return pd.DataFrame(
            {"query_id": qids, "neighbor_id": nids, "score": scores}
        )

    cand = (
        left.groupBy("__shard", "__qb")
        .cogroup(right.groupBy("__shard", "__qb"))
        .applyInPandas(scan, "query_id long, neighbor_id long, score double")
    )
    return (
        _rank_topk(cand, take, "score")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "score")
    )


def _exact_cosine_kernel_pairs(
    emb: DataFrame, id_col: str, vec_col: str, dim: int, ordered: bool = False
) -> DataFrame:
    """All-pairs exact cosine via a BROADCAST raw-vector matrix and an
    Arrow kernel whose accumulation is LEFT-TO-RIGHT over dims
    (``acc = acc + q[:, i] * c[:, i]``) — each IEEE double op is
    correctly rounded in the SAME order as the JVM ``aggregate`` fold
    and DuckDB's ``list_dot_product``, so the result is BIT-IDENTICAL
    to the expression path (pinned by
    test_pairwise_cosine_fast_path_bit_equal and the committed
    manifest digests), unlike ``einsum``'s SIMD/pairwise order. The n²
    join carries only id pairs; vectors live once per executor.

    This is the exact-anchor twin of ``_score_pairs``' serving kernel:
    that one is approximate-friendly (einsum over unit vectors), this
    one is oracle-grade. ~20x over the interpreted n² expression plan
    (the three exact anchors were the most expensive catalog rows).

    Degenerate inputs never crash (ADVICE r7): NULL or
    ragged-dimension vectors are excluded from the broadcast matrix and
    their pairs score NULL cosine — the same contract the expression
    path honors via null-propagating folds."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = emb.sparkSession
    rows = (
        emb.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .collect()
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64).reshape(
        len(rows), dim
    )
    sumsq = np.zeros(len(ids))
    for i in range(dim):  # left-to-right, matching the JVM fold
        sumsq = sumsq + mat[:, i] * mat[:, i]
    index = {int(v): p for p, v in enumerate(ids)}
    bc = _cached_broadcast(spark, (index, mat, sumsq))

    def score(qs, cs):
        idx, m, sq = bc.value
        if m.shape[0] == 0:  # nothing valid to score against
            return pd.Series(pd.array([pd.NA] * len(qs), dtype="Float64"))
        qi_f, ci_f = qs.map(idx), cs.map(idx)
        # ids excluded above (NULL / ragged vectors) are absent from the
        # index: their pairs get NULL cosine, like the expression path.
        known = qi_f.notna().to_numpy() & ci_f.notna().to_numpy()
        qi = qi_f.fillna(0).to_numpy(dtype=np.int64)
        ci = ci_f.fillna(0).to_numpy(dtype=np.int64)
        acc = np.zeros(len(qs))
        qm, cm = m[qi], m[ci]
        for i in range(m.shape[1]):  # left-to-right per pair
            acc = acc + qm[:, i] * cm[:, i]
        denom = np.sqrt(sq[qi]) * np.sqrt(sq[ci])
        ok = known & (denom > 0)
        out = np.zeros(len(qs))
        out[ok] = acc[ok] / denom[ok]
        res = pd.array(out, dtype="Float64")
        res[~ok] = pd.NA  # zero-norm/excluded -> SQL NULL
        return pd.Series(res)

    udf = pandas_udf(score, "double")
    ids_df = emb.select(F.col(id_col))
    pairs = ids_df.select(F.col(id_col).alias("query_id")).crossJoin(
        ids_df.select(F.col(id_col).alias("neighbor_id"))
    )
    pairs = pairs.filter(
        F.col("query_id") < F.col("neighbor_id")
        if ordered
        else F.col("query_id") != F.col("neighbor_id")
    )
    # UNROUNDED — callers that threshold must compare the raw double
    # (the oracle filters before rounding); display rounding is theirs.
    return pairs.select(
        "query_id",
        "neighbor_id",
        udf(F.col("query_id"), F.col("neighbor_id")).alias("cosine_raw"),
    )


def _pairwise_cosine(
    emb: DataFrame, id_col: str, vec_col: str, queries: DataFrame | None = None
) -> DataFrame:
    """(query id, candidate id, cosine) for all pairs, excluding self.

    r7 perf, bit-identical floats: under the broadcast byte cap the
    self-join anchors route through the exact-accumulation Arrow
    kernel (see ``_exact_cosine_kernel_pairs``); beyond it — or when a
    separate ``queries`` relation is supplied, whose vectors need not
    live in ``emb`` — the expression plan runs with per-side squared
    norms projected ONCE per row (n folds, not n²) and the per-pair
    dot as the unrolled scalar expression."""
    from udacity_capstone_data_engineering_spark.functions.vectors import (
        cosine_similarity_presq,
        dot,
        dot_unrolled,
    )

    head = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .head()
    )
    dim = int(head["d"]) if head is not None and head["d"] is not None else 0
    if queries is None and dim > 0:
        # gate on what will actually be broadcast: valid-vector rows only
        n = emb.filter(
            F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
        ).count()
        if n * dim * 8 <= BROADCAST_SCORE_MAX_BYTES:
            return _exact_cosine_kernel_pairs(
                emb, id_col, vec_col, dim
            ).select(
                "query_id",
                "neighbor_id",
                F.round("cosine_raw", 6).alias("cosine"),
            )
    q = (queries or emb).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        dot(vec_col, vec_col).alias("__qsq"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        dot(vec_col, vec_col).alias("__csq"),
    )
    joined = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    # dot_unrolled is only valid when `dim` covers BOTH arrays; a vector
    # LONGER than the probed dim would get its tail silently dropped
    # (ADVICE r7). Guard per pair: conforming rows take the codegen
    # unrolled sum, anything else (ragged, NULL — size(NULL) is NULL so
    # the condition routes to otherwise) falls back to the zip_with
    # fold, whose null padding yields NULL exactly as before.
    dotp = (
        F.when(
            (F.size("qv") == dim) & (F.size("cv") == dim),
            dot_unrolled("qv", "cv", dim),
        ).otherwise(dot("qv", "cv"))
        if dim > 0
        else dot("qv", "cv")
    )
    return joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity_presq(dotp, F.col("__qsq"), F.col("__csq")), 6
        ).alias("cosine"),
    )


# Safety margin for the top-k kernel's candidate cut (see
# _topk_margin_candidates): ranking happens on round(cosine, 6), and
# |round(x) - x| <= 5e-7, so a candidate can out-rank the k-th raw
# score by at most 1e-6 after rounding. 2e-6 doubles that bound so a
# float comparison at the boundary can never exclude a true top-k row.
_TOPK_ROUND_MARGIN = 2e-6


def _strict_kernel_matrix(emb: DataFrame, id_col: str, vec_col: str):
    """Collect ``(ids, mat, sumsq)`` for the self-pair fast kernels —
    or None when ANY row is degenerate (NULL / ragged / non-finite /
    zero-norm vectors, duplicate or non-long ids) or the corpus is
    over ``BROADCAST_SCORE_MAX_BYTES``: those shapes carry NULL-cosine
    semantics only the n² pair plan implements, so callers fall back.
    ``sumsq`` accumulates left-to-right per dimension, matching the
    JVM fold bit-for-bit."""
    import numpy as np
    from pyspark.sql.types import LongType

    if not isinstance(emb.schema[id_col].dataType, LongType):
        return None
    head = emb.select(F.size(F.col(vec_col)).alias("d")).head()
    if head is None or head["d"] is None:
        return None
    dim = int(head["d"])
    if dim <= 0:
        return None
    max_rows = BROADCAST_SCORE_MAX_BYTES // (8 * dim)
    pdf = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .limit(max_rows + 1)
        .toPandas()
    )
    n = len(pdf)
    if n == 0 or n > max_rows:
        return None
    vecs = pdf.iloc[:, 1]
    if vecs.isna().any() or pdf[id_col].isna().any():
        return None
    lens = vecs.map(len).to_numpy()
    if (lens != dim).any():
        return None
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    if len(np.unique(ids)) != n:
        return None
    mat = np.vstack(vecs.to_numpy()).astype(np.float64)
    if not np.isfinite(mat).all():
        return None
    sumsq = np.zeros(n)
    for i in range(dim):  # left-to-right, matching the JVM fold
        sumsq = sumsq + mat[:, i] * mat[:, i]
    if (sumsq <= 0).any():  # zero-norm rows score NULL in the slow path
        return None
    return ids, mat, sumsq


def _topk_margin_candidates(
    emb: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame | None:
    """Self-top-k fast path (r11, guide §2.3/§4.2): emit only the
    ~n·k candidate pairs that can possibly survive the rounded-cosine
    ranking, instead of materializing all n² pairs through the Arrow
    scorer and shuffling them into the window.

    The per-pair kernel (``_exact_cosine_kernel_pairs``) is already
    broadcast-based, but the PAIR STREAM it scores is n² rows: at the
    2 000-vector gate corpus that is 4M rows crossing Arrow both ways
    plus a 4M-row exchange for the rank window — measured 12.3 s for
    ``embedding_cosine_topk`` (r10 bench), ~1 s of which is arithmetic.
    Here each query row scores against the SAME broadcast matrix with
    the SAME left-to-right dim accumulation (bit-identical doubles, see
    below) and locally cuts to the candidates with raw cosine within
    ``_TOPK_ROUND_MARGIN`` of the k-th largest.  Downstream rounding +
    window ranking is unchanged, so the final rows are provably the
    rows the n² plan produces:

      ranking is by round(raw, 6) DESC with |round(x)-x| <= 5e-7, so
      any candidate that beats the k-th by rounded order satisfies
      raw >= raw_k - 1e-6, where raw_k is the k-th largest raw score —
      every such row is kept (margin 2e-6), ties included.

    Returns the slim (query_id, neighbor_id, cosine_raw) relation, or
    None when the corpus is not eligible — over the broadcast byte
    cap, fewer than k+1 rows, or ANY degenerate row (NULL / ragged /
    non-finite / zero-norm vectors, duplicate ids), in which case the
    caller falls back to the n² pair plan whose NULL-cosine semantics
    the degenerate rows need."""
    import numpy as np

    got = _strict_kernel_matrix(emb, id_col, vec_col)
    if got is None or len(got[0]) <= k:
        # ineligible, or fewer than k neighbors: NULL-padding is the
        # n² plan's
        return None

    def keep(scores, qb, qi, inv):
        nn = scores.shape[1]
        scores[np.arange(len(qb)), qi] = -np.inf  # exclude self
        kth = np.partition(scores, nn - k, axis=1)[:, nn - k]
        return scores >= (kth - _TOPK_ROUND_MARGIN)[:, None]

    return _exact_block_pairs(emb, id_col, got, keep)


def _threshold_pairs_kernel(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame | None:
    """Ordered self-pairs (id_a < id_b) with RAW cosine >= threshold,
    computed inside one Arrow scan against the broadcast matrix — the
    exact-tier near-dup shape (``embedding_dup_pairs``). The n² plan
    filters on the UNROUNDED kernel double, and this kernel reproduces
    that double bit-for-bit (same left-to-right accumulation, same
    sqrt/divide), so emitting only passing pairs is exactly the
    filter — no margin lemma needed. Pairs with a degenerate side
    score NULL in the n² plan and NULL fails the >= filter, so those
    rows were never emitted there either; still, degenerate corpora
    fall back (None) so both plans stay row-identical everywhere.
    Returns (query_id, neighbor_id, cosine_raw) or None if ineligible."""
    got = _strict_kernel_matrix(emb, id_col, vec_col)
    if got is None:
        return None
    return _exact_block_pairs(
        emb,
        id_col,
        got,
        lambda scores, qb, qi, inv: (scores >= threshold)
        & (qb[:, None] < inv[None, :]),  # ordered pairs only
    )


def _exact_block_pairs(emb: DataFrame, id_col: str, got, keep) -> DataFrame:
    """One Arrow scan shared by the strict self-pair kernels: each
    block of query rows scores against the WHOLE broadcast matrix with
    the pair kernel's left-to-right dim accumulation and sqrt/divide
    (bit-identical doubles to ``_exact_cosine_kernel_pairs``), and
    ``keep(scores, qb, qi, inv)`` picks the pairs to emit — ``qb`` the
    block's query ids, ``qi`` their matrix rows, ``inv`` row → id.
    Returns (query_id, neighbor_id, cosine_raw)."""
    import numpy as np
    import pandas as pd

    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    ids, mat, sumsq = got
    index = {int(v): p for p, v in enumerate(ids)}
    bc = _cached_broadcast(emb.sparkSession, (index, mat, sumsq))

    def gen(batches):
        idx, m, sq = bc.value
        nn, d = m.shape
        inv = np.empty(nn, dtype=np.int64)
        for vid, pos in idx.items():
            inv[pos] = vid
        roots = np.sqrt(sq)
        # <=64 MB of double score scratch per block regardless of n
        block = max(8, (8 << 20) // max(nn, 1))
        for pdf_in in batches:
            qids = pdf_in["query_id"].to_numpy(dtype=np.int64)
            for s in range(0, len(qids), block):
                qb = qids[s : s + block]
                qi = np.fromiter(
                    (idx[int(v)] for v in qb), dtype=np.int64, count=len(qb)
                )
                qm = m[qi]
                acc = np.zeros((len(qb), nn))
                for i in range(d):  # left-to-right per pair
                    acc = acc + qm[:, i][:, None] * m[:, i][None, :]
                scores = acc / (roots[qi][:, None] * roots[None, :])
                rows, cols = np.nonzero(keep(scores, qb, qi, inv))
                yield pd.DataFrame(
                    {
                        "query_id": qb[rows],
                        "neighbor_id": inv[cols],
                        "cosine_raw": scores[rows, cols],
                    }
                )

    qsrc = fan_out_small_scan(emb.select(F.col(id_col).alias("query_id")))
    return qsrc.mapInPandas(
        gen, schema="query_id long, neighbor_id long, cosine_raw double"
    )


def brute_force_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine (ties → lower id first)."""
    if queries is None:
        fast = _topk_margin_candidates(emb, id_col, vec_col, k)
        if fast is not None:
            return _rank_topk(
                fast.select(
                    "query_id",
                    "neighbor_id",
                    F.round("cosine_raw", 6).alias("cosine"),
                ),
                k,
            )
    return _rank_topk(_pairwise_cosine(emb, id_col, vec_col, queries), k)


JL_SCALE = 1024  # same quantization grid as embedding_random_projection


def _jl_sign_matrix(in_dim: int, out_dims: int) -> list[list[int]]:
    """Deterministic Achlioptas ±1 sign matrix: sign(i, j) =
    1 - 2*(h60(f"{i}_{j}") % 2), the SAME portable-md5 formula the
    `embedding_random_projection` catalog query hash-gates — so the
    projection used for ANN preprocessing is the one the oracle
    already verifies bit-for-bit."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [1 - 2 * (h60(f"{i}_{j}") % 2) for i in range(in_dim)]
        for j in range(out_dims)
    ]


def jl_project(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    out_dims: int,
    dim: int | None = None,
    scale: int = JL_SCALE,
) -> DataFrame:
    """Map-only Johnson-Lindenstrauss projection (VERDICT r6 #7 — the
    r6 standalone demo composed into the ANN tier): quantize to the
    integer grid, multiply by the LITERAL ±1 sign matrix (out_dims x
    dim ints embedded in the plan — no sign-matrix join, no shuffle,
    no runtime hashing), emit ``array<double>`` of the exact integer
    sums. Cosine on the projected vectors approximates cosine on the
    originals with the JL (1±eps) distance guarantee; determinism is
    exact (integer sums are order-free). At 100 TB this is scan-bound
    preprocessing: per-row flops drop every downstream index build by
    dim/out_dims (64→16 = 4x)."""
    if dim is None:
        head = emb.select(F.size(F.col(vec_col)).alias("d")).head()
        dim = int(head["d"]) if head is not None else 0
    # One parsed SQL literal, not out_dims*dim F.lit() calls: the
    # 16x64 sign matrix cost ~2.5 s of driver wall in py4j round-trips
    # (r11, guide §1.2 driver-side; values and INT element type are
    # identical).
    signs = F.expr(
        "CAST(array("
        + ",".join(
            "array(" + ",".join(str(int(s)) for s in row) + ")"
            for row in _jl_sign_matrix(dim, out_dims)
        )
        + ") AS ARRAY<ARRAY<INT>>)"
    )
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    proj = F.transform(
        signs,
        lambda row: F.aggregate(
            F.zip_with(qv, row, lambda a, s: a * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double"),
    )
    return emb.select(F.col(id_col), proj.alias(vec_col))


MANIFOLD_LATENT = 8  # intrinsic dimension of the structured fixture
MANIFOLD_GRID = 1000  # latent coordinates live on a +-1 integer grid


def manifold_embeddings(
    ids: DataFrame,
    id_col: str,
    out_dim: int = 64,
    latent: int = MANIFOLD_LATENT,
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic LOW-INTRINSIC-DIMENSION embedding corpus
    (VERDICT r7 #7): each id gets a ``latent``-dim coordinate
    z_j = (h60(id || '_' || j) % (2*grid+1) - grid) / grid  in [-1, 1]
    (the house portable-md5 hash — no RNG state, any engine can
    reproduce it), embedded into ``out_dim`` dims by a FIXED
    md5-derived literal mixing matrix. The corpus therefore lies
    exactly on an ``latent``-dimensional linear manifold inside
    R^out_dim — the structure real text/image embeddings have and the
    isotropic test corpus (JL's worst case by construction) lacks.
    This is the fixture the ``project_dims=`` JL hook exists for:
    distances here are governed by ``latent`` effective dimensions, so
    a 4x projection preserves neighbor margins instead of destroying
    O(1/sqrt(dim)) near-ties. Map-only expression plan (8 md5 calls +
    a literal out_dim x latent multiply-add per row), scan-bound at
    any scale."""
    from udacity_capstone_data_engineering_spark.functions.hashing import (
        portable_hash64,
    )

    mod = 2 * MANIFOLD_GRID + 1

    def h60(s: str) -> int:
        import hashlib

        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    mix = [
        [
            (h60(f"mix_{i}_{j}") % mod - MANIFOLD_GRID) / MANIFOLD_GRID
            for j in range(latent)
        ]
        for i in range(out_dim)
    ]
    z = [
        (
            (
                portable_hash64(
                    F.concat(F.col(id_col).cast("string"), F.lit(f"_{j}"))
                )
                % mod
                - MANIFOLD_GRID
            ).cast("double")
            / MANIFOLD_GRID
        ).alias(f"__z{j}")
        for j in range(latent)
    ]
    # r11 (guide §1.2 driver-side): the old mixing build issued
    # out_dim*latent*3 ≈ 1500 py4j Column calls (~2.5 s of driver wall
    # per call — the bulk of jl_manifold_capture's jobs-vs-wall gap).
    # The latent coordinates are BOUND columns (each referenced
    # out_dim times, so CollapseProject cannot re-inline the md5
    # hashes), and the mixing matrix enters as ONE parsed expression.
    # Term order and association are unchanged:
    # ((0.0 + m_i0*z0) + m_i1*z1) + ... with D-suffixed double
    # literals that parse to the identical IEEE doubles repr() emits.
    bound = ids.select(F.col(id_col), *z)
    out = F.expr(
        "array("
        + ",".join(
            _sum_terms_sql(
                [f"({mix[i][j]!r}D * __z{j})" for j in range(latent)]
            )
            for i in range(out_dim)
        )
        + ")"
    )
    return bound.select(F.col(id_col), out.alias(vec_col))


def _sum_terms_sql(terms: list[str]) -> str:
    """Left-associated ``((0.0 + t0) + t1) + ...`` — the exact fold
    Python's ``sum(..., F.lit(0.0))`` built, as a SQL string."""
    acc = "0.0D"
    for t in terms:
        acc = f"({acc} + {t})"
    return acc


def _exact_rerank_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cand: DataFrame,
    k: int,
) -> DataFrame:
    """Exact-cosine rerank of candidate (query_id, neighbor_id) pairs
    in the ORIGINAL vector space — brute_force_topk's scoring and tie
    rule, restricted to the candidate set."""
    scored = _score_pairs(emb, id_col, vec_col, cand.select("query_id", "neighbor_id"))
    return _rank_topk(scored, k)


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component values in [-1, 1],
    derived from md5 so any engine can reproduce them."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"t:{table}:p:{plane}:d:{d}".encode()).hexdigest()[:15], 16)
        out.append(h / float(2**59) - 1.0)
    return out


def _lsh_key_fn(dim: int, planes: int, tables: int, probes: int):
    """The pure numpy probe-key machinery shared by the DataFrame
    bucketing UDF and the in-UDF scan kernel, so both paths produce
    BYTE-IDENTICAL key sequences for the same raw vectors.  Returns
    ``(fn, n_probes)`` where ``fn(x)`` maps a (batch × dim) RAW float
    matrix to (batch × tables·(n_probes+1)) int64 keys laid out
    [t0r0, t0r1, …, t1r0, …] (just (batch × tables) when n_probes is
    0).  Keys must be computed from RAW vectors (as the bucketing UDF
    always has): signs and margin ORDER are scale-invariant, but
    dividing by the norm can collapse near-tied margins differently
    in the last ulp."""
    import itertools

    import numpy as np

    hmat = np.array(
        [
            _hyperplane(dim, t, p)
            for t in range(tables)
            for p in range(planes)
        ],
        dtype=np.float64,
    ).T  # (dim, tables*planes)
    weights = (2 ** np.arange(planes, dtype=np.int64))[None, None, :]
    if planes >= 3:
        universe = max(3, -(-planes // 2))  # ceil(planes/2)
        subsets = [
            s
            for r in range(1, universe + 1)
            for s in itertools.combinations(range(universe), r)
        ]
        n_probes = min(probes, len(subsets))
    else:
        subsets = []
        n_probes = min(probes, planes)

    def fn(x):
        proj = (x @ hmat).reshape(len(x), tables, planes)
        bits = proj > 0
        keys = (bits * weights).sum(axis=2, dtype=np.int64)
        if not n_probes:
            return keys
        margins = np.abs(proj)
        order = np.argsort(margins, axis=2)
        if planes < 3:
            out = np.empty((len(x), tables * (n_probes + 1)), dtype=np.int64)
            out[:, :: n_probes + 1] = keys
            for r in range(n_probes):
                out[:, r + 1 :: n_probes + 1] = keys ^ (
                    np.int64(1) << order[:, :, r]
                )
            return out
        n_univ = max(p for s in subsets for p in s) + 1
        low = order[:, :, :n_univ]
        mlow = np.take_along_axis(margins, low, axis=2)
        scores = np.stack(
            [mlow[:, :, list(s)].sum(axis=2) for s in subsets], axis=2
        )
        masks = np.zeros(scores.shape, dtype=np.int64)
        for si, s in enumerate(subsets):
            for pos in s:
                masks[:, :, si] |= np.int64(1) << low[:, :, pos]
        rank = np.argsort(scores, axis=2, kind="stable")[:, :, :n_probes]
        probe_keys = keys[:, :, None] ^ np.take_along_axis(masks, rank, axis=2)
        out = np.concatenate([keys[:, :, None], probe_keys], axis=2)
        return out.reshape(len(x), -1)

    return fn, n_probes


def lsh_bucket_keys(
    emb: DataFrame,
    vec_col: str,
    dim: int,
    planes: int = 4,
    tables: int = 16,
    probes: int = 0,
) -> DataFrame:
    """Append (table, probe_rank, bucket) LSH keys: bucket bit p =
    sign(v · hyperplane_{table,p}). Multi-table is the standard recall
    lever for random-hyperplane LSH: each extra table is an
    independent chance for true neighbors to collide.

    ``probes > 0`` adds QUERY-DIRECTED multiprobe keys (Lv et al.):
    per table, also the ``probes`` buckets reached by the
    margin-ordered PERTURBATION SEQUENCE — the non-empty subsets of
    the table's three lowest-|margin| sign bits, ranked per row by the
    summed margin of the flipped bits (the likelihood a true neighbor
    lands exactly there). probe_rank 0 is the exact key; ranks
    1..probes walk the sequence. Multi-bit subsets matter once planes
    auto-grow with the corpus: with 6+ planes a boundary miss
    increasingly flips TWO bits, and single-bit probing plateaus
    (measured recall 0.93 at 16 tables × 2 single-bit probes on 2000
    vectors, vs 0.97+ from the same probe count drawn from the ranked
    subset sequence). Directed probing stays the cost sweet spot vs
    more tables: each probe adds probe-side rows only, while a table
    adds build-side rows AND an independent hash family.

    All tables×planes projections are ONE Arrow-batched matmul against
    the (dim × tables·planes) hyperplane matrix — the measured
    pandas-UDF sweet spot (compute ≫ transfer; interpreted per-plane
    ``aggregate`` costs tables×planes×dim lambda evaluations per row).
    Sign bits, margins, subset scores, and flips all stay numpy-side;
    the explode multiplies rows by tables×(probes+1) (cheap: ids +
    small ints)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Perturbation universe note (lives in _lsh_key_fn): non-empty
    # subsets of the U lowest-margin bits, U = max(3, ceil(planes/2))
    # — U must GROW with key width or the probe sequence saturates
    # (measured recall 0.96 → 0.61 from 2k to 20k vectors, r3).
    keyfn, n_probes = _lsh_key_fn(dim, planes, tables, probes)

    def buckets(v):
        x = np.vstack(v.to_numpy())  # (batch, dim)
        return pd.Series(list(keyfn(x)))

    # optimizer fence: see _broadcast_scan (the downstream posexplode
    # would otherwise re-run the whole keying below any exchange)
    udf = pandas_udf(buckets, "array<long>").asNondeterministic()
    keyed = emb.select("*", udf(F.col(vec_col).cast("array<double>")).alias("__keys"))
    stride = n_probes + 1
    exploded = keyed.select(
        *emb.columns, F.posexplode("__keys").alias("__idx", "bucket")
    )
    return exploded.select(
        *emb.columns,
        (F.col("__idx") / stride).cast("int").alias("table"),
        (F.col("__idx") % stride).alias("probe_rank"),
        "bucket",
    )


# Above this many MATRIX BYTES (n_vectors × dim × 8), fall back to
# join-based pair scoring instead of broadcasting the normalized vector
# matrix to every worker. Sized in measured bytes, not vector count,
# because driver/executor heap cost scales with dim too (VERDICT r1
# "What's wrong" #3). 256 MiB keeps the driver-side numpy copy + the
# torrent broadcast comfortably inside an 8g driver; tune per cluster.
BROADCAST_SCORE_MAX_BYTES = 256 * 1024 * 1024


def _unit_vectors(emb, id_col: str, vec_col: str):
    """(id, uv) with uv the L2-normalized double vector; zero-norm →
    NULL uv (ANSI /0 raises), which yields NULL cosine ranked last —
    degenerate vectors never crash the job.

    r11 (guide §4.2/§4.4): the normalize runs as an Arrow kernel
    instead of the interpreted ``aggregate``+``transform`` fold, and —
    because every caller filters ``uv IS NOT NULL`` right above this
    projection — the old expression plan ALSO paid the §4.4 pushdown
    tax: Catalyst pushed ``isnotnull(<whole normalize expression>)``
    below the projection, evaluating the l2 fold twice per row (the
    r11 filter audit flagged a 925-char HOF condition in every ANN
    plan). ``mapInArrow`` is an optimizer-opaque boundary, so the
    filter stays above and the normalize runs once. Every consumer is
    a declared-Arrow ANN path (encode/assign kernels, ADC scans,
    ``_score_pairs``).

    BIT-IDENTICAL doubles to the JVM expression: sumsq accumulates
    LEFT-TO-RIGHT per dimension exactly like the ``aggregate`` fold;
    ``np.sqrt`` and the per-element divide are the same
    correctly-rounded IEEE ops. Degenerate semantics replicated
    exactly (pinned by ``test_unit_vectors_kernel_bit_equal``):
    NULL vector / any NULL element / zero norm → NULL uv; a NaN norm
    passes the ``when(__n > 0)`` gate (Spark orders NaN greater than
    every number) so NaN/±inf elements propagate NaN into uv — the
    output is built with explicit pyarrow buffers because the pandas
    return path would silently rewrite those NaN elements to nulls."""
    id_type = emb.schema[id_col].dataType.simpleString()
    return (
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        )
        .mapInArrow(_unit_vector_batches, f"__id {id_type}, uv array<double>")
        .select(F.col("__id").alias(id_col), "uv")
    )


def _unit_vector_batches(batches):
    """The ``_unit_vectors`` Arrow kernel: RecordBatches of (id, vector)
    → (__id, uv). Offsets are honoured, so sliced batches are safe."""
    import numpy as np
    import pyarrow as pa

    for rb in batches:
        ids = rb.column(0)
        vecs = rb.column(1)
        if isinstance(vecs, pa.ChunkedArray):
            vecs = vecs.combine_chunks()
        n_rows = len(vecs)
        out_vals: list = [None] * n_rows
        live: list = []
        offs = vecs.offsets.to_numpy(zero_copy_only=False)
        lens = np.diff(offs)
        # flatten(), not .values: it honours a sliced batch's offset
        flat_vals = vecs.flatten()
        if (
            vecs.null_count == 0
            and flat_vals.null_count == 0
            and n_rows > 0
            and lens.min() == lens.max() != 0
        ):
            # Fixed-dim, no-null batch (the real corpus shape):
            # one zero-copy reshape, no per-cell accessor churn.
            flat_in = flat_vals.to_numpy(zero_copy_only=False)
            live = [
                (p, row)
                for p, row in enumerate(
                    np.asarray(flat_in, dtype=np.float64).reshape(
                        n_rows, int(lens[0])
                    )
                )
            ]
        else:
            for p in range(n_rows):
                cell = vecs[p]
                if not cell.is_valid:
                    continue
                a = cell.values.to_numpy(zero_copy_only=False)
                if cell.values.null_count or a.shape[0] == 0:
                    # NULL element → NULL fold → NULL uv; empty →
                    # norm 0 → NULL uv, as the expression path
                    continue
                live.append((p, np.asarray(a, dtype=np.float64)))
        by_len: dict[int, list] = {}
        for p, a in live:
            by_len.setdefault(a.shape[0], []).append((p, a))
        for d, rows in by_len.items():
            x = np.vstack([a for _, a in rows])
            acc = np.zeros(len(rows))
            for i in range(d):  # left-to-right, matching the JVM fold
                acc = acc + x[:, i] * x[:, i]
            n = np.sqrt(acc)
            # when(__n > 0): Spark compares NaN greater than any
            # number, so NaN norms PASS and propagate NaN elements.
            ok = (n > 0) | np.isnan(n)
            u = x / np.where(ok, n, 1.0)[:, None]
            for r in np.nonzero(ok)[0]:
                out_vals[rows[int(r)][0]] = u[int(r)]
        # Explicit ListArray build: values buffer keeps true NaNs
        # (pandas' from_pandas path would null them out).
        offsets = np.zeros(n_rows + 1, dtype=np.int32)
        for p in range(n_rows):
            offsets[p + 1] = offsets[p] + (
                len(out_vals[p]) if out_vals[p] is not None else 0
            )
        flat = (
            np.concatenate([v for v in out_vals if v is not None])
            if offsets[-1]
            else np.zeros(0, dtype=np.float64)
        )
        mask = pa.array([v is None for v in out_vals], type=pa.bool_())
        uv = pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(flat, type=pa.float64()),
            mask=mask,
        )
        yield pa.RecordBatch.from_arrays([ids, uv], ["__id", "uv"])


def _unit_rows(raw):
    """(unit, norms) of a raw row matrix: elementwise x / ||x||, with
    zero-norm rows left all-zero. Every collector and scan kernel
    normalizes through here, so identical rows give bit-identical
    unit vectors in every regime."""
    import numpy as np

    norms = np.linalg.norm(raw, axis=1, keepdims=True)
    unit = raw / np.where(norms == 0, 1.0, norms)
    unit[norms[:, 0] == 0] = 0.0
    return unit, norms[:, 0]


def _collect_matrix(emb, id_col: str, vec_col: str, dim: int):
    """Collect the corpus to the driver iff it fits
    ``BROADCAST_SCORE_MAX_BYTES``: ``(ids, raw, unit, live)`` sorted by
    id, or None past the cap. ``unit`` comes from ``_unit_rows``;
    ``live`` marks rows with a direction (norm > 0) — ``_score_pairs``
    scores only those, while the LSH kernel keys every non-NULL row
    from its RAW vector, exactly the bytes the bucketing UDF sees.

    One Arrow job replaces three (count + dim-probe + full collect):
    the byte cap is enforced with a LIMIT of cap/(8·dim)+1 rows — if
    the limited collect comes back full, the corpus is over the cap
    and the caller takes the distributed path (and pays a real count).
    The driver never sees more than the cap + one row."""
    import numpy as np

    max_rows = BROADCAST_SCORE_MAX_BYTES // (8 * max(dim, 1))
    pdf = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .filter(F.col(vec_col).isNotNull())
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        return None
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    raw = (
        np.vstack(pdf.iloc[:, 1].to_numpy()).astype(np.float64)
        if len(pdf)
        else np.zeros((0, dim), dtype=np.float64)
    )
    order = np.argsort(ids, kind="stable")
    ids, raw = ids[order], raw[order]
    unit, norms = _unit_rows(raw)
    return ids, raw, unit, norms > 0


# Above this many BUILD-SIDE BYTES (n_vectors × tables × ~24 b/row of
# id+table+bucket ints), stop broadcasting the exact-key side of the
# LSH candidate join and let it shuffle. Same philosophy as
# BROADCAST_SCORE_MAX_BYTES: measured bytes, not row counts.
BROADCAST_BUILD_MAX_BYTES = 64 * 1024 * 1024

# Estimated candidate MULTISET rows (n_queries × tables × (probes+1) ×
# mean bucket size) above which lsh_topk's in-UDF scan kernel beats the
# candidate join: the join materializes the multiset through a
# distinct shuffle, the kernel never leaves the Python worker.
# Measured crossover: join 3.7 s at ~12M rows (2k vectors) vs kernel
# 352 s → ~35 s at ~380M rows (20k). Same discipline as
# ivf._PAIR_JOIN_MAX_PAIRS.
LSH_JOIN_MAX_CANDIDATES = 32_000_000


def _bucket_index(corpus_keys):
    """(table, exact key) → id-sorted positions dict from a corpus key
    matrix (n × tables int64) — shared by the broadcast scan kernel and
    the per-shard builds of the grid kernel, so both regimes gather
    identical bucket membership for identical key matrices."""
    import numpy as np

    n_tables = corpus_keys.shape[1] if corpus_keys.ndim == 2 else 1
    index: dict[tuple[int, int], object] = {}
    for t in range(n_tables):
        kt = corpus_keys[:, t]
        order = np.argsort(kt, kind="stable")
        sk = kt[order]
        bounds = np.flatnonzero(np.diff(sk)) + 1
        for grp in np.split(order, bounds):
            if len(grp):
                index[(t, int(kt[grp[0]]))] = np.sort(grp)
    return index


def _lsh_top_positions(index, unit, zero_mask, x, probe_keys, take):
    """The LSH block scorer of both scan regimes: per RAW query row of
    ``x``, gather the bucket-mates its probe keys hit in ``index``
    (``probe_keys``: (rows × tables × (probes+1)) from the SAME
    ``_lsh_key_fn`` machinery as the bucketing UDF), deduplicate with
    one sort, and keep the top-``take`` positions by exact cosine
    against the id-sorted ``unit`` rows (score desc, position asc;
    ``zero_mask`` rows score −inf, i.e. ranked last like the join
    path's NULL cosine). Returns ``(xq, qzero, tops)``: the unit
    queries, the zero-norm query mask, and one position array per
    query."""
    import numpy as np

    xq, qnorms = _unit_rows(x)
    tables, width = probe_keys.shape[1], probe_keys.shape[2]
    tops = []
    for qi in range(len(x)):
        parts = [
            arr
            for t in range(tables)
            for r in range(width)
            if (arr := index.get((t, int(probe_keys[qi, t, r])))) is not None
        ]
        if not parts:
            tops.append(np.zeros(0, dtype=np.int64))
            continue
        pos = np.unique(np.concatenate(parts))
        s = unit[pos] @ xq[qi]
        s[zero_mask[pos]] = -np.inf
        tops.append(pos[np.argsort(-s, kind="stable")[: min(take, len(pos))]])
    return xq, qnorms == 0, tops


def _score_pairs(
    emb,
    id_col: str,
    vec_col: str,
    cand,
    n: int | None = None,
    unit=None,
    unit_mat=None,
):
    """Cosine for candidate (query_id, neighbor_id) pairs.

    Fast path: broadcast the normalized vector matrix (corpus is small
    enough) and score id pairs with one numpy gather + row-wise dot per
    Arrow batch — the pairs DataFrame carries ONLY ids, so nothing wide
    is shuffled or Arrow-transferred per pair. This is how an ANN
    serving tier scores candidates (replicated vector store).

    Fallback (corpus too big to replicate): two equi-joins bringing the
    unit vectors to the pairs, scored with the builtin dot.

    ``unit``: optionally a precomputed ``(id, uv)`` DataFrame from
    :func:`_unit_vectors`, so callers that already normalized (IVF's
    probe stage) don't pay the normalization scan twice.

    ``unit_mat``: optionally the ALREADY-COLLECTED corpus (the
    :func:`_collect_matrix` tuple). Callers that collected it for
    their own sizing (LSH) pass it through, which skips the count +
    dim-probe + collect jobs entirely — on small inputs those fixed
    jobs, not the math, dominate wall time.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from udacity_capstone_data_engineering_spark.functions.vectors import dot

    spark = emb.sparkSession

    if unit is not None:
        unit = unit.select(F.col(id_col), F.col("uv"))
    else:
        unit = _unit_vectors(emb, id_col, vec_col)

    if unit_mat is None:
        if n is None:
            n = emb.count()
        # Cap in measured bytes: dim probed from one row (limit-1 scan).
        head = emb.select(F.size(F.col(vec_col)).alias("d")).head()
        dim = int(head["d"]) if head is not None else 0
        if n * dim * 8 <= BROADCAST_SCORE_MAX_BYTES:
            unit_mat = _collect_matrix(emb, id_col, vec_col, dim)

    if unit_mat is not None:
        ids, _, mat, live = unit_mat
        ids, mat = ids[live], mat[live]
        index = {int(i): pos for pos, i in enumerate(ids)}
        bc = spark.sparkContext.broadcast((index, mat))

        def score(q, c):
            idx, m = bc.value
            qi = q.map(idx).to_numpy()
            ci = c.map(idx).to_numpy()
            ok = ~(pd.isna(qi) | pd.isna(ci))
            out = np.zeros(len(q))
            if ok.any():
                out[ok] = np.einsum(
                    "ij,ij->i", m[qi[ok].astype(int)], m[ci[ok].astype(int)]
                )
            # Ids absent from the index (zero-norm vectors) must score
            # NULL, not NaN: Spark orders NaN FIRST under desc(), which
            # would rank degenerate vectors as everyone's top neighbor;
            # NULL sorts last, matching brute_force_topk and the join
            # fallback (dot(NULL) → NULL). Nullable Float64 + pd.NA is
            # what Arrow maps to a true SQL NULL (ADVICE r1).
            res = pd.array(out, dtype="Float64")
            res[~ok] = pd.NA
            return pd.Series(res)

        udf = pandas_udf(score, "double")
        return cand.select(
            "query_id",
            "neighbor_id",
            F.round(udf(F.col("query_id"), F.col("neighbor_id")), 6).alias("cosine"),
        )

    return (
        cand.join(
            unit.select(F.col(id_col).alias("query_id"), F.col("uv").alias("qv")),
            "query_id",
        )
        .join(
            unit.select(F.col(id_col).alias("neighbor_id"), F.col("uv").alias("cv")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("qv", "cv"), 6).alias("cosine"),
        )
    )


def auto_lsh_tables(n: int) -> int:
    """Scale-aware LSH table count (VERDICT r8 #1): the measured
    frontier points (10 @ <4096, 12 @ ≤20k) joined past 20k by the
    L ~ n^ρ growth law at the DECADE RATE THE r8 LADDER MEASURED —
    tables = ceil(12 · (n/20k)^0.22), which lands 200k vectors exactly
    on the 20-table / 0.9699-recall@5 rung (12 tables had silently
    decayed to 0.8787 there). Capped at 32 (~2M vectors); past that
    the recommended recall-targeted tier is IVF/IVF-PQ."""
    import math

    if n < 4096:
        return 10
    if n <= 20_000:
        return 12
    return min(32, math.ceil(12 * (n / 20_000) ** 0.22))


def lsh_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    planes: int | None = None,
    tables: int | None = None,
    multiprobe: int | None = None,
    queries: DataFrame | None = None,
    project_dims: int | None = None,
    stage1_mult: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = pairs sharing any table's bucket
    (deduplicated), then exact cosine ranking of candidates only.

    ``project_dims`` (VERDICT r6 #7): run candidate generation on a
    JL random projection to that many dimensions (``jl_project`` —
    deterministic ±1 signs, map-only), with a DEEPER stage-1 cut
    (``max(k*stage1_mult, k+10)``) to absorb projection error, then
    exact-rerank the candidates in the ORIGINAL space. Index flops
    and hyperplane-matrix width drop by dim/project_dims; recall is
    restored by the rerank — the classic sketch-then-verify shape.

    Scale shape: one shuffle on (table, bucket); candidate count is
    sum of per-bucket sizes², tunable via planes (bucket granularity)
    × tables (recall). ``planes=None`` auto-sizes granularity to the
    corpus — planes ≈ log2(n / 32) keeps expected bucket size ~32, so
    candidate generation stays near-linear as n grows instead of
    quadratic (fixed planes degenerate at scale).

    THREE regimes, all row-identical (regime tests pin it): the
    candidate JOIN below the candidate-volume crossover, the bucket
    index through ``_broadcast_scan`` above it while the raw matrix
    fits ``BROADCAST_SCORE_MAX_BYTES``, and PAST that byte cap the
    same block scorer through ``_grid_scan`` (VERDICT r10 #1: the join
    regime past the cap was measured spilling >60 GB to disk
    exhaustion at 2M vectors, so it is no longer reachable there).

    ``multiprobe`` enables QUERY-DIRECTED multiprobe (Lv et al.): the
    probe side also checks, per table, the ``multiprobe`` next-likeliest
    buckets from the margin-ranked perturbation sequence (subsets of
    the 3 lowest-|margin| sign bits ordered by summed margin) — the
    recall lever that does NOT add tables. ``multiprobe=None``
    auto-sizes it to ``max(2, planes-2)``: probe depth must GROW with
    key width, because auto-sizing adds planes as n grows, which
    decays per-table exact-key collision odds — a FIXED probe count
    then decays recall exactly like r2's fixed-planes bug (measured
    0.995 → 0.93 recall@5 from 500 to 2000 vectors at 2 probes;
    planes-2 probes holds ≥0.95 at both, r3 sweep). Directed beats
    flip-everything: all-bit probing costs ×(planes+1) probe rows
    (measured 6× slower end-to-end) where the ranked low-margin
    subsets capture most boundary misses at ×(multiprobe+1). The
    build side keeps exact keys only, so no pair is double-generated
    across probe ranks. ``multiprobe=0`` restores exact-bucket
    probing. Recall is validated against ``brute_force_topk`` in
    tests AND in-gate via ``ann_recall_report`` (approx operators get
    recall thresholds, not hash equality — SURVEY.md §7 risk
    register).
    """
    if project_dims is not None:
        proj = jl_project(emb, id_col, vec_col, project_dims, dim=dim)
        proj_q = (
            jl_project(queries, id_col, vec_col, project_dims, dim=dim)
            if queries is not None
            else None
        )
        cand = lsh_topk(
            proj,
            id_col,
            vec_col,
            dim=project_dims,
            k=max(k * stage1_mult, k + 10),
            planes=planes,
            tables=tables,
            multiprobe=multiprobe,
            queries=proj_q,
        )
        return _exact_rerank_pairs(emb, id_col, vec_col, cand, k)
    # ONE sizing job on the happy path: try to collect the matrix
    # under the byte cap (needed for broadcast scoring anyway); its
    # length is the vector count that drives auto-sizing. Only an
    # over-cap corpus pays a separate count.
    #
    # ``queries``: optional serving WORKLOAD (same id/vec columns, ids
    # a subset of the corpus). Only workload vectors probe — the
    # bucket index is still built over the full corpus, and all knob
    # auto-sizing stays a function of CORPUS size (recall depends on
    # the index, not on how many queries hit it). This is the stage-1
    # hook ``rerank_two_stage`` uses.
    unit_mat = _collect_matrix(emb, id_col, vec_col, dim)
    n = int(unit_mat[3].sum()) if unit_mat is not None else emb.count()
    if tables is None:
        # Table count must GROW with the corpus, because recall decays
        # with n at fixed tables (measured recall@5 at 12 tables:
        # 0.995 @ 500 → 0.985 @ 2k → 0.960 @ 20k → 0.8787 @ 200k)
        # while the ≥0.95 bar is constant — the same knob-coupling law
        # as planes/probes, applied to the last fixed knob. Measured
        # frontier: 10 tables holds 0.986 @ 500 and 0.970 @ 2k at ~80%
        # of the 12-table wall; 8 tables drops to 0.943 @ 2k (below
        # bar); 20k needs the full 12 (sf1 probe). Past 20k the count
        # follows the L ~ n^ρ growth law the r8 second-decade ladder
        # MEASURED (same sf10 cell, tables pinned, all else auto:
        # 12 → 0.8787, 16 → 0.9400 @ 1.31× wall, 20 → 0.9699 @ 1.49×):
        # ρ = log10(20/12) ≈ 0.22 is the decade rate that lands the
        # 200k corpus exactly on the measured 20-table ≥0.95 point
        # (VERDICT r8 #1 — the r8 default was left at 12 to keep
        # mid-round digests stable, silently serving 0.88 recall at
        # 200k). Capped at 32 (~2M vectors): past that corpus size the
        # recommended recall-targeted tier is IVF/IVF-PQ, whose
        # measured-curve knobs hold 0.996 at sf10 without growing the
        # hash-family count.
        tables = auto_lsh_tables(n)
    if planes is None:
        import math

        # Bucket target grows as ~1.4·sqrt(n), NOT a constant: planes =
        # ceil(log2(n/32)/2) + 2 ⇒ bucket ≈ sqrt(32n)/4. A constant
        # bucket target (r2's log2(n/32)) forces key width — and with
        # it per-table miss probability — up linearly in log n, and the
        # sf1 probe measured the result: recall 0.96 → 0.61 from 2k to
        # 20k vectors even with probe depth auto-scaling. Sqrt-growth
        # buckets keep per-query candidates at ~tables·probes·1.4·sqrt(n)
        # — the same n^1.5 total-work shape as IVF's sqrt(n) centroids —
        # and measured recall@5 ≥0.95 at every probed size (0.995 @
        # 500, 0.985 @ 2k, 0.96 @ 20k).
        planes = max(4, math.ceil(math.log2(max(n, 64) / 32) / 2) + 2)
    if multiprobe is None:
        # Probe depth must GROW with key width: wider keys decay
        # per-table exact-collision odds, and a fixed probe count then
        # decays recall exactly like r2's fixed-planes bug — and it
        # must grow FASTER once keys are wide (misses spread over more
        # bits). planes-2 up to 6 planes, planes-1 beyond, from the
        # margin-ranked subset sequence, measured recall@5 ≥0.95 at
        # every probed size (12 tables): 0.995 @ 500 vecs/4 planes,
        # 0.985 @ 2k/5 planes, 0.96 @ 20k/7 planes (sf1 probe).
        multiprobe = max(2, planes - 2) if planes <= 6 else planes - 1
    n_q = n if queries is None else queries.count()
    # Regime choice (r5): above the candidate-volume crossover, gather
    # and score candidates INSIDE the worker from a bucket index
    # instead of materializing the tables·probes·bucket² multiset
    # through the join + distinct (measured 352 s at 20k vectors on the
    # join path). Mean per-table bucket size is n / 2^planes; all
    # regimes return identical rows (test_lsh_regimes_identical).
    est_candidates = n_q * tables * (multiprobe + 1) * (n / (2 ** planes))
    if unit_mat is None or est_candidates > LSH_JOIN_MAX_CANDIDATES:
        corpus_keyfn, _ = _lsh_key_fn(dim, planes, tables, 0)
        probe_keyfn, n_probes = _lsh_key_fn(dim, planes, tables, multiprobe)
        take = k + 8
        src = (emb if queries is None else queries).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        if unit_mat is not None:
            ids_s, raw_m, unit_m, _ = unit_mat

            def kernel_block(payload, x):
                index, b_ids, b_unit, b_zero = payload
                pk = probe_keyfn(x).reshape(len(x), tables, n_probes + 1)
                _, _, tops = _lsh_top_positions(
                    index, b_unit, b_zero, x, pk, take
                )
                return [b_ids[t] for t in tops]

            # FINER-than-cores query partitions (VERDICT r8 #6): per-query
            # scan cost varies with local cluster density, so cores-wide
            # partitions leave one task grinding ~2x the mean (the
            # measured sf10 lsh_self straggler tail). ADAPTIVE, not
            # unconditional: each task pays fixed scheduler/Arrow
            # overhead (~0.3 s here), so 4x tasks on a minute-scale cell
            # is pure loss (measured +26 s on the 60 s sf1 cell) — widen
            # only when estimated candidate volume says the scan stage is
            # tens of core-minutes.
            fan = 4 if est_candidates > 16 * LSH_JOIN_MAX_CANDIDATES else 1
            cand = _broadcast_scan(
                src,
                (
                    _bucket_index(corpus_keyfn(raw_m)),
                    ids_s,
                    unit_m,
                    (unit_m == 0).all(axis=1),
                ),
                kernel_block,
                min_partitions=fan
                * emb.sparkSession.sparkContext.defaultParallelism,
            )
            return _rank_topk(
                _score_pairs(emb, id_col, vec_col, cand, n=n, unit_mat=unit_mat),
                k,
            )
        # PAST the broadcast byte cap (VERDICT r10 #1): the bucket-JOIN
        # regime's pair-scoring join was MEASURED spilling >60 GB to disk
        # exhaustion at 2M vectors × 2k queries (SCALING.md r10
        # third-decade probe) — each grid cell builds its shard's bucket
        # index and runs the same block scorer instead, so no vector
        # ever rides a join. Cosines are the row-wise einsum over unit
        # rows, as ``_score_pairs`` computes them.
        import numpy as np
        import pandas as pd

        def grid_block(lpdf, rpdf):
            rpdf = rpdf.sort_values("id")
            raw = np.vstack(rpdf["v"].to_numpy()).astype(np.float64)
            unit, norms = _unit_rows(raw)
            zero_mask = norms == 0
            x = np.vstack(lpdf["qv"].to_numpy()).astype(np.float64)
            xq, qzero, tops = _lsh_top_positions(
                _bucket_index(corpus_keyfn(raw)),
                unit,
                zero_mask,
                x,
                probe_keyfn(x).reshape(len(x), tables, n_probes + 1),
                take,
            )
            sel = np.concatenate(tops)
            qrow = np.repeat(np.arange(len(x)), [len(t) for t in tops])
            cos = pd.array(
                np.einsum("ij,ij->i", unit[sel], xq[qrow]), dtype="Float64"
            )
            cos[zero_mask[sel] | qzero[qrow]] = pd.NA
            qids = lpdf["query_id"].to_numpy(dtype=np.int64)
            return qids[qrow], rpdf["id"].to_numpy(dtype=np.int64)[sel], cos

        cand = _grid_scan(
            src.filter(F.col("qv").isNotNull()),
            emb.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            ).filter(F.col("v").isNotNull()),
            grid_block,
            take,
            n_q,
            n * dim * 8,
            BROADCAST_SCORE_MAX_BYTES,
        )
        return _rank_topk(
            cand.select(
                "query_id", "neighbor_id", F.round("score", 6).alias("cosine")
            ),
            k,
        )
    if queries is None:
        # Persisted: the self-join reads the bucketed keys from BOTH
        # sides, and without the persist each side re-runs the scan +
        # bucket UDF. Rows are (id, table, rank, bucket) ints — tiny
        # vs the vectors. Widened BEFORE the persist (guide §2.5): a
        # one-file corpus caches as ONE partition, so the key UDF, the
        # broadcast build and every stage planned on the cache run as
        # a single task (measured 2.5 s one-task stage at sf0.1/32c).
        # At real scale the scan is already wide and this no-ops.
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            fan_out_small_scan,
        )

        b = lsh_bucket_keys(
            fan_out_small_scan(emb), vec_col, dim, planes, tables,
            probes=multiprobe,
        ).select(F.col(id_col), "table", "probe_rank", "bucket").persist()
        left = b.select(
            F.col(id_col).alias("query_id"), "table", "bucket"
        )
        right = b.filter(F.col("probe_rank") == 0).select(
            F.col(id_col).alias("neighbor_id"), "table", "bucket"
        )
    else:
        # Workload serving: probe keys (with multiprobe) only for the
        # workload; the build side keys the whole corpus at exact rank
        # (probes=0 — cheaper than keying everything at full depth and
        # filtering). Each side is read once, so no persist.
        left = lsh_bucket_keys(
            queries, vec_col, dim, planes, tables, probes=multiprobe
        ).select(F.col(id_col).alias("query_id"), "table", "bucket")
        right = lsh_bucket_keys(
            emb, vec_col, dim, planes, tables, probes=0
        ).select(F.col(id_col).alias("neighbor_id"), "table", "bucket")
    if n * tables * 24 <= BROADCAST_BUILD_MAX_BYTES:
        # Exact-key side is ids+ints only; under the byte gate a
        # broadcast-hash join deletes BOTH shuffle exchanges of the
        # candidate join (the probe side then flows map-side into the
        # single query_id repartition below). Past the gate — a real
        # corpus — the join shuffles on (table, bucket) as designed.
        right = F.broadcast(right)
    # Candidate multiset: a pair appears once per (table × probe) it
    # collides in — up to tables·(probes+1)×. Deduplicate BEFORE
    # scoring with a plain distinct: the partial (map-side) aggregate
    # collapses most duplicates BEFORE the exchange, so the wire
    # carries ~distinct pairs, not the multiset. (Deferring dedup into
    # the ranking window was measured ~30% slower — the window then
    # sorts the whole multiset; pre-repartitioning by query_id was no
    # better: the Arrow scoring node doesn't propagate partitioning,
    # so the window re-exchanges anyway AND the multiset crosses the
    # wire unreduced.) Net plan under the byte gates: broadcast-hash
    # candidate join + two slim exchanges (distinct pairs, then scored
    # pairs for the window) — pinned in tests/test_plans.py.
    cand = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rank_topk(
        _score_pairs(emb, id_col, vec_col, cand, n=n, unit_mat=unit_mat), k
    )
