"""Product quantization (PQ) approximate nearest neighbors.

The third ANN path beside hyperplane LSH (``similarity.py``) and IVF
(``ivf.py``), and the one whose point is MEMORY: each unit vector is
compressed to ``m`` one-byte codes (64-dim float64 → 8 bytes, a 64×
reduction), so the whole index broadcasts/replicates where raw vectors
cannot — the standard serving layout for billion-vector corpora
(Jégou et al., "Product Quantization for Nearest Neighbor Search").

Pipeline:

  1. FIT: split the dimension into ``m`` subspaces; per subspace, run
     seeded Lloyd k-means over a bounded Arrow-collected sample (the
     same driver-side fit practice as IVF — codebooks are
     m × ksub × dsub floats, trivially small).
  2. ENCODE: one Arrow-batched pass assigns every vector its nearest
     centroid PER SUBSPACE → one BYTE per subspace (ksub ≤ 256 —
     codes stay uint8 from the encode matmul through every closure,
     so the driver/executor footprint matches the byte gate, not 8×
     it).
  3. SEARCH (ADC — asymmetric distance computation): the query stays
     EXACT; per query, a lookup table LUT[s][c] = q_s · codebook[s][c]
     turns each corpus row's approximate dot product into ``m`` table
     lookups + adds.  The scan streams over FIXED-SIZE id chunks with
     a per-query running top-``rerank`` tournament, so the score
     buffer is bounded (~256 MB) no matter how large the corpus is —
     a single (batch × n) matrix would out-grow executor memory long
     before the index cap binds.  Top-``rerank`` candidates per query
     then get EXACT cosine scoring and the final top-k — the standard
     two-stage that recovers most recall lost to quantization.

Scale shape — two regimes, switched on MEASURED index bytes
(n·(8+m) — uint8 codes plus the int64 id), both through the shared
scan runners of ``similarity.py`` with the SAME block scorers, so they
return identical rows (the forced-cap equality tests pin it):

  * UNDER the broadcast cap (256 MiB ≈ 16M vectors at m=8):
    ``_broadcast_scan`` ships the code matrix (or, for IVF-PQ, the
    coded inverted file) once; candidate generation is one Arrow pass
    over the queries.
  * PAST the cap (VERDICT r3 #2): ``_grid_scan`` — codes stay a
    DataFrame, hash-sharded (IVF-PQ packs whole cells into shards,
    ``_pack_cells_to_shards``), and the shard merge keeps (ADC desc,
    id asc), the broadcast kernel's tie rule.

At 100 TB pair PQ with the IVF cell filter (IVF-PQ below) so each
query scans only probed cells' codes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-query-batch ADC score buffer budget, in float64 ELEMENTS
# (32M ≈ 256 MB).  The corpus-axis chunk size is derived from it so
# batch_rows × chunk stays bounded regardless of corpus size.
ADC_CHUNK_ELEMS = 32_000_000

# Column width of the reused gather window inside _adc_top_block's
# accumulation — sized for cache residency under MANY concurrent
# workers, measured best at 2048 for nq 625 AND 10000 (smaller hits a
# short-gather slow path, larger spills shared L3).
_ADC_ACC_COLS = 2048

# Target rows per query block in every grid scan (LSH, PQ, IVF-PQ;
# ``similarity._grid_scan``) — bounds the per-task pandas group
# (block × dim doubles) and the score buffer.
ADC_QUERY_BLOCK_ROWS = 4096


def fit_pq_codebooks(
    emb: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample: int = 100_000,
    iters: int = 10,
    n: int | None = None,
):
    """Seeded per-subspace Lloyd k-means over a bounded Arrow sample.

    Returns an (m, k, dim//m) float64 ndarray of codebooks, fit on
    L2-NORMALIZED vectors (PQ approximates the unit vector, so ADC
    lookup sums approximate the cosine directly).  An EMPTY corpus
    short-circuits to the zero-initialized books (k=1) instead of
    tripping ``rng.choice`` on a zero-length population."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if ksub > 256:
        raise ValueError("ksub > 256 does not fit one-byte codes")
    if n is None:
        n = emb.count()
    frac = min(1.0, sample / max(n, 1))
    train_df = emb.sample(fraction=frac, seed=seed) if frac < 1.0 else emb
    pdf = train_df.select(F.col(vec_col).cast("array<double>")).toPandas()
    col = pdf.iloc[:, 0].to_numpy()
    x = (
        np.vstack(col).astype(np.float64)
        if len(col)
        else np.zeros((0, dim), dtype=np.float64)
    )
    dsub = dim // m
    rng = np.random.default_rng(seed)
    k = min(ksub, max(len(x), 1))
    books = np.zeros((m, k, dsub), dtype=np.float64)
    if not len(x):
        return books
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        centers = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(iters):
            # nearest by L2: argmin |x-c|² == argmax x·c − ½|c|²
            d = xs @ centers.T - 0.5 * (centers * centers).sum(axis=1)
            lab = d.argmax(axis=1)
            # vectorized Lloyd update: scatter-add members per centroid
            # (a per-centroid boolean-mask loop is O(k·n) per iter and
            # dominated the fit at ksub=256)
            sums = np.zeros_like(centers)
            np.add.at(sums, lab, xs)
            counts = np.bincount(lab, minlength=k).astype(np.float64)
            nonempty = counts > 0
            centers[nonempty] = sums[nonempty] / counts[nonempty, None]
        books[s] = centers
    return books


def _encode_udf(books):
    """pandas_udf: unit vector → array<smallint> of per-subspace codes
    (one batch matmul per subspace against the broadcast codebooks).
    Values are 0..255 (ksub ≤ 256); smallint is the narrowest Spark
    integral that holds them, and every numpy consumer downcasts to
    uint8 on arrival."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, _k, dsub = books.shape
    corrections = [0.5 * (books[s] * books[s]).sum(axis=1) for s in range(m)]

    def encode(v):
        x = np.vstack(v.to_numpy())
        codes = np.empty((len(x), m), dtype=np.int16)
        for s in range(m):
            xs = x[:, s * dsub : (s + 1) * dsub]
            d = xs @ books[s].T - corrections[s]
            codes[:, s] = d.argmax(axis=1).astype(np.int16)
        return pd.Series(list(codes))

    return pandas_udf(encode, "array<smallint>")


def _query_luts(x, books):
    """Per-subspace ADC lookup tables for a query block: list of
    (n_queries × ksub) float64 arrays.

    Computed with ``einsum`` (default optimize=False — a fixed-order C
    loop, NOT a shape-adaptive BLAS kernel), so each LUT entry is a
    pure function of (query row, codebook row) regardless of how the
    query block is composed (ADVICE r4): the broadcast kernel's Arrow
    batches and the grid scan's hash blocks slice queries
    differently, and dgemm/dgemv results may differ in the last ulp
    across shapes — einsum makes LUTs, and with the fixed per-subspace
    accumulation order every downstream ADC score, bit-identical
    across regimes.  ~1.7× the dgemm cost on the LUTs only (measured
    0.6 s vs 0.36 s per 10k-query batch), invisible next to the scan."""
    import numpy as np

    m, _k, dsub = books.shape
    return [
        np.einsum("qd,kd->qk", x[:, s * dsub : (s + 1) * dsub], books[s])
        for s in range(m)
    ]


def _adc_top_block(luts, ids, codes, take):
    """Streaming top-``take`` ADC tournament over the corpus axis.

    ``ids`` must be ASCENDING; ``codes`` is (n × m) uint8.  Scans in
    chunks sized so the (n_queries × chunk) float64 buffer stays
    under ``ADC_CHUNK_ELEMS`` elements; between chunks each query
    keeps its best ``take`` (score desc, id asc) — maintained in
    id-ascending storage order so the stable argsort reproduces the
    full-matrix kernel's tie behavior bit-for-bit.  Returns
    (top_ids, top_scores), both (n_queries × ≤take)."""
    import numpy as np

    nq = luts[0].shape[0] if luts else 0
    n = len(ids)
    take = min(take, n)
    if not nq or not n or not take:
        return (
            np.zeros((nq, 0), dtype=np.int64),
            np.zeros((nq, 0), dtype=np.float64),
        )
    chunk = max(256, ADC_CHUNK_ELEMS // max(nq, 1))
    best_i = np.zeros((nq, 0), dtype=np.int64)
    best_s = np.zeros((nq, 0), dtype=np.float64)
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        nb = best_s.shape[1]
        width = nb + (hi - lo)
        # one buffer holds [carry-over best | this chunk]; gather into
        # it through a reused ~2048-column sliding window (accumulation
        # ORDER over subspaces is unchanged, so scores stay
        # bit-identical). The windowed np.take(out=) form exists for
        # memory behavior, not semantics: the r4 one-gather-per-subspace
        # form allocated 7 fresh (nq × chunk) float64 temps per chunk,
        # and at 32 concurrent workers that allocation+bandwidth storm
        # collapsed throughput 8× (measured 48.6 s → 1.5 s wall for 32
        # parallel 625-query scans of 20k codes after this rewrite;
        # 2048 columns beat both 512 and 8192 at every probed nq).
        all_s = np.empty((nq, width), dtype=np.float64)
        all_s[:, :nb] = best_s
        sc = all_s[:, nb:]
        w = hi - lo
        tmp = np.empty((nq, min(_ADC_ACC_COLS, w)), dtype=np.float64)
        for b0 in range(0, w, _ADC_ACC_COLS):
            b1 = min(b0 + _ADC_ACC_COLS, w)
            view = sc[:, b0:b1]
            np.take(luts[0], codes[lo + b0 : lo + b1, 0], axis=1, out=view)
            t = tmp[:, : b1 - b0]
            for s in range(1, len(luts)):
                np.take(luts[s], codes[lo + b0 : lo + b1, s], axis=1, out=t)
                view += t
        all_i = np.concatenate(
            [best_i, np.broadcast_to(ids[lo:hi], (nq, hi - lo))], axis=1
        )
        if width <= take:
            best_s, best_i = all_s, np.ascontiguousarray(all_i)
            continue
        # Invariant: previous best ids < this chunk's ids (global id
        # sort) and best rows stay id-ascending, so one row is one
        # id-ascending sequence. Top-``take`` selection WITHOUT the
        # O(width log width) stable mergesort the r4 kernel paid per
        # chunk (its argsort dominated the chunk wall and its index
        # matrix the memory traffic — 8× contention collapse at 32
        # concurrent workers): threshold at the take-th largest, keep
        # everything strictly greater, then fill with the LOWEST
        # storage indices among threshold ties — row-major boolean
        # selection order IS id-ascending, which IS the stable
        # argsort's tie rule, so the kept set and its storage order
        # match the r4 kernel bit-for-bit
        # (test_adc_chunked_tournament_matches_one_shot).
        kth = np.partition(all_s, width - take, axis=1)[:, width - take]
        gt = all_s > kth[:, None]
        need = (take - gt.sum(axis=1, dtype=np.int64))[:, None]
        eq = all_s == kth[:, None]
        sel = gt | (eq & (np.cumsum(eq, axis=1, dtype=np.int32) <= need))
        best_s = all_s[sel].reshape(nq, take)
        best_i = all_i[sel].reshape(nq, take)
    # emit in rank order (score desc, id asc)
    order = np.argsort(-best_s, axis=1, kind="stable")
    return (
        np.take_along_axis(best_i, order, axis=1),
        np.take_along_axis(best_s, order, axis=1),
    )


def _compact_candidate_partials(qpos, cids, cscores, nq, rerank):
    """Reduce accumulated (query, id, score) candidate partials to each
    query's top-``rerank`` by the merge key (query, score desc, id asc)
    — the SAME lexsort the final emission uses, so compacting
    mid-accumulation is lossless for the final per-query top-``rerank``
    (every dropped row is beaten by ``rerank`` kept rows of its own
    query under the exact final ordering; (query, id) pairs are unique
    because cells partition ids and a query probes a cell once).
    Returns the compacted (qpos, cids, cscores), sorted by the key."""
    import numpy as np

    order = np.lexsort((cids, -cscores, qpos))
    qpos, cids, cscores = qpos[order], cids[order], cscores[order]
    starts = np.searchsorted(qpos, np.arange(nq), side="left")
    rank = np.arange(len(qpos)) - starts[qpos]
    keep = rank < rerank
    return qpos[keep], cids[keep], cscores[keep]


def _cell_major_candidates(
    x, centers, books, cell_ids, cell_rows, nprobe, rerank,
    compact_elems=None, return_partials=False,
):
    """CELL-MAJOR scan of an inverted file for a query batch: probe
    each query's ``nprobe`` nearest cells, score each cell once for ALL
    the queries probing it (chunked on the cell axis under
    ``ADC_CHUNK_ELEMS``), keep per-chunk top-``rerank`` partials, and
    merge with one (query, score desc, id asc) lexsort.

    The per-cell scorer depends on what the cells hold: with ``books``
    the rows are PQ codes and a chunk scores as one fancy-indexed LUT
    gather per subspace (``_query_luts`` — shape-invariant einsum, so
    every regime sees bit-identical ADC scores); with ``books=None``
    they are unit vectors (IVF) and a chunk scores as one exact dgemm.

    ``compact_elems`` (ADVICE r10, the memory bound): whenever the
    accumulated partial count exceeds this many elements, compact to
    per-query top-``rerank`` via :func:`_compact_candidate_partials`
    — without it the partials grow O(nq_batch · probe_fraction · n)
    (a 10k-query Arrow batch at n=8M probing 3/4 of cells would
    accumulate tens of GB before the final lexsort), while the
    compacted floor is nq·rerank. Defaults to ``ADC_CHUNK_ELEMS``.
    Compaction is lossless (same merge key), pinned by
    ``test_cell_major_compaction_lossless``.

    Returns a list of ``nq`` int64 id arrays (each ≤ ``rerank``) — or,
    with ``return_partials=True``, the compacted ``(qpos, ids, score)``
    arrays themselves (sorted by the merge key), which the grid scan
    emits so the cross-shard window can re-merge on the identical
    (query, score desc, id asc) rule."""
    import numpy as np

    if compact_elems is None:
        compact_elems = ADC_CHUNK_ELEMS
    if books is None:

        def score(qidx, rows):
            return x[qidx] @ rows.T

    else:
        luts = _query_luts(x, books)

        def score(qidx, rows):
            scores = luts[0][qidx][:, rows[:, 0]]
            for s in range(1, len(luts)):
                scores += luts[s][qidx][:, rows[:, s]]
            return scores

    correction = 0.5 * (centers * centers).sum(axis=1)
    nq = len(x)
    n_cells = len(cell_ids)
    cell_scores = x @ centers.T - correction
    take_cells = min(nprobe, cell_scores.shape[1])
    probed = np.argsort(-cell_scores, axis=1, kind="stable")[:, :take_cells]
    mask = np.zeros((nq, n_cells), dtype=bool)
    np.put_along_axis(mask, probed, True, axis=1)
    qpos_parts, id_parts, score_parts = [], [], []
    acc_elems = 0
    empty = np.zeros(0, dtype=np.int64)
    empty_f = np.zeros(0, dtype=np.float64)
    for c in range(n_cells):
        ids_c = cell_ids[c]
        if not len(ids_c):
            continue
        qidx = np.nonzero(mask[:, c])[0]
        if not len(qidx):
            continue
        chunk = max(256, ADC_CHUNK_ELEMS // max(len(qidx), 1))
        for lo in range(0, len(ids_c), chunk):
            hi = min(lo + chunk, len(ids_c))
            scores = score(qidx, cell_rows[c][lo:hi])
            w = min(rerank, hi - lo)
            top = np.argsort(-scores, axis=1, kind="stable")[:, :w]
            qpos_parts.append(np.repeat(qidx, w))
            id_parts.append(ids_c[lo:hi][top].ravel())
            score_parts.append(
                np.take_along_axis(scores, top, axis=1).ravel()
            )
            acc_elems += len(qidx) * w
            if acc_elems > compact_elems:
                qp, ci, cs = _compact_candidate_partials(
                    np.concatenate(qpos_parts),
                    np.concatenate(id_parts),
                    np.concatenate(score_parts),
                    nq,
                    rerank,
                )
                qpos_parts, id_parts, score_parts = [qp], [ci], [cs]
                acc_elems = len(qp)
    if not qpos_parts:
        if return_partials:
            return empty, empty, empty_f
        return [empty] * nq
    qpos, cids, cscores = _compact_candidate_partials(
        np.concatenate(qpos_parts),
        np.concatenate(id_parts),
        np.concatenate(score_parts),
        nq,
        rerank,
    )
    if return_partials:
        return qpos, cids, cscores
    starts = np.searchsorted(qpos, np.arange(nq), side="left")
    ends = np.searchsorted(qpos, np.arange(nq), side="right")
    return [
        cids[starts[qi] : ends[qi]] if ends[qi] > starts[qi] else empty
        for qi in range(nq)
    ]


def _inverted_file(ids, cells, rows, n_cells: int):
    """Per-cell ``(ids ASCENDING, matching rows)`` lists from parallel
    id / cell-label / row arrays — the one inverted-file builder of
    IVF (unit-vector rows), IVF-PQ and the standing index (code
    rows), driver-side and per grid shard alike."""
    import numpy as np

    order = np.lexsort((ids, cells))
    ids, cells, rows = ids[order], cells[order], rows[order]
    bounds = np.searchsorted(cells, np.arange(n_cells + 1))
    return (
        [ids[bounds[c] : bounds[c + 1]] for c in range(n_cells)],
        [rows[bounds[c] : bounds[c + 1]] for c in range(n_cells)],
    )


def _pack_cells_to_shards(counts: dict, row_bytes: int, cap: int):
    """Deterministic first-fit-decreasing packing of IVF cells into
    byte-capped shards (r11): each cell whose code bytes exceed the cap
    is first hash-split into ``ceil(bytes/cap)`` pieces, then pieces
    pack into the fewest shards whose content stays ≤ ``cap``.

    Why pack MANY cells per shard instead of shard-per-cell (the r4
    design): the per-(query, shard) top-``rerank`` cut only truncates
    when a shard holds ≫ ``rerank`` rows. With shard = cell, cell size
    (~√n) is BELOW the √n-contour rerank budget, so every probed
    cell's every row flowed into the cross-shard merge window —
    nq · probe_fraction · n rows of shuffle, the same failure class as
    the r10 LSH join spill, just deferred to the fourth decade. Packed
    shards hold ~cap/row_bytes rows (16M at m=8), the cut binds, and
    the merge window receives nq · n_shards · rerank rows.

    Returns ``(mapping_rows, n_shards, nsub)``: mapping_rows is
    ``[(cell, sub, shard)]``, ``nsub[cell]`` the piece count."""
    pieces = []
    nsub = {}
    for c in sorted(counts):
        ns = max(1, -(-counts[c] * row_bytes // max(cap, 1)))
        nsub[int(c)] = int(ns)
        per_piece = -(-counts[c] // ns) * row_bytes
        pieces.extend((per_piece, int(c), j) for j in range(ns))
    pieces.sort(key=lambda p: (-p[0], p[1], p[2]))
    remaining: list[int] = []
    mapping_rows = []
    for size, c, j in pieces:
        for s, room in enumerate(remaining):
            if room >= size:
                remaining[s] = room - size
                mapping_rows.append((c, j, s))
                break
        else:
            remaining.append(max(cap - size, 0))
            mapping_rows.append((c, j, len(remaining) - 1))
    return mapping_rows, max(1, len(remaining)), nsub


def _ivfpq_pairs(
    qframe, coded, centers, books, nprobe, rerank, n: int, n_q: int, cap: int
) -> DataFrame:
    """IVF-PQ candidate pairs — the scan tail shared by ``ivfpq_topk``
    and the standing index (``ann_index.ann_topk_against_index``).

    ``qframe`` is ``(query_id, qv)`` unit queries; ``coded`` the
    inverted file as a DataFrame ``(id, cell, codes)``. Under the cap
    it is collected into per-cell lists and scanned through
    ``_broadcast_scan``; past it ``_grid_scan`` runs over CELL-PACKED
    shards (``_pack_cells_to_shards``, hot cells hash-split first so
    the per-task bound holds under any skew — ADVICE r4), each query
    joins only the shards holding one of its probed cells, and each
    grid cell re-derives the query's probes from the centroids and
    runs the same cell-major scan on its shard's cells. Per-(query,
    row) ADC scores are shard-independent, so both regimes select the
    same rows."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.ivf import (
        _probe_cells_udf,
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _broadcast_scan,
        _grid_scan,
    )
    from udacity_capstone_data_engineering_spark.session import local_df

    n_cells = len(centers)
    row_bytes = 8 + books.shape[0]

    def arrays(pdf):
        codes = (
            np.vstack(pdf["codes"].to_numpy()).astype(np.uint8)
            if len(pdf)
            else np.zeros((0, books.shape[0]), dtype=np.uint8)
        )
        return _inverted_file(
            pdf["id"].to_numpy(dtype=np.int64),
            pdf["cell"].to_numpy(dtype=np.int64),
            codes,
            n_cells,
        )

    if n * row_bytes <= cap:
        return _broadcast_scan(
            qframe,
            arrays(coded.select("id", "cell", "codes").toPandas()),
            lambda payload, x: _cell_major_candidates(
                x, centers, books, *payload, nprobe, rerank
            ),
        )

    # bounded Arrow boundary: cells × count = √n rows to the driver
    cnt_pdf = coded.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).toPandas()
    counts = dict(
        zip(cnt_pdf["cell"].astype(int).tolist(), cnt_pdf["cnt"].astype(int).tolist())
    )
    total_bytes = sum(counts.values()) * row_bytes
    spark = qframe.sparkSession

    def assign(n_shards):
        mapping_rows, _, nsub = _pack_cells_to_shards(
            counts, row_bytes, max(1, -(-total_bytes // n_shards))
        )
        mapping = local_df(
            spark, mapping_rows or [(0, 0, 0)], "cell int, __sub int, __shard int"
        )
        nsub_df = local_df(
            spark, sorted(nsub.items()) or [(0, 1)], "cell int, __nsub int"
        )
        corpus = (
            coded.join(F.broadcast(nsub_df), "cell")
            .withColumn(
                "__sub", F.pmod(F.xxhash64("id"), F.col("__nsub")).cast("int")
            )
            .join(F.broadcast(mapping), ["cell", "__sub"])
            .select("id", "cell", "codes", "__shard")
        )
        # an INDEPENDENT cell→shard relation for the probe side (sharing
        # `mapping` across both cogroup lineages trips Spark's
        # ambiguous-self-join analysis on __shard)
        probe_mapping = local_df(
            spark,
            sorted({(c, s) for c, _j, s in mapping_rows}) or [(0, 0)],
            "cell int, __shard int",
        )
        probe = _probe_cells_udf(centers, nprobe)
        probes = (
            qframe.select("query_id", F.explode(probe(F.col("qv"))).alias("cell"))
            .join(F.broadcast(probe_mapping), "cell")
            .select("query_id", "__shard")
            .distinct()
        )
        return corpus, probes

    def grid_block(lpdf, rpdf):
        x = np.vstack(lpdf["qv"].to_numpy())
        qpos, cids, cscores = _cell_major_candidates(
            x, centers, books, *arrays(rpdf), nprobe, rerank,
            return_partials=True,
        )
        return lpdf["query_id"].to_numpy(dtype=np.int64)[qpos], cids, cscores

    return _grid_scan(
        qframe, coded, grid_block, rerank, n_q, total_bytes, cap, assign=assign
    )


def ivfpq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    n_centroids: int | None = None,
    nprobe: int | None = None,
    rerank: int | None = None,
    seed: int = 42,
    fit_sample: int = 100_000,
    target_recall: float | None = 0.9,
    max_broadcast_bytes: int | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the composition the module docstring promises — PQ's
    64×-compressed codes grouped into IVF cells, so each query
    ADC-scans only its ``nprobe`` nearest cells' codes instead of the
    whole index. Per-query scan cost drops from n to ~n·nprobe/cells
    (sub-linear with sqrt(n) cells); the broadcast stays code-sized.
    This variant quantizes the raw unit vectors (not per-cell
    residuals — the classic residual refinement buys recall at the
    cost of per-cell code spaces; the auto-sized exact-rerank cut
    recovers it more simply here).

    Auto-sizing follows the coupled-knob law end to end: sqrt(n)
    cells, rerank = n/20 (floor 50), and nprobe sized FROM THE
    MEASURED RECALL CURVE via ``target_recall`` (see
    :func:`probe_fraction_for_recall` — VERDICT r3 #3: the old raw
    cells/4 default measured recall@5 ≈ 0.66; the default 0.9 target
    probes 3/4 of cells, the operating point measured at 0.93-0.96
    with ~2 points of PQ cut recovered by the exact rerank).  Pass
    ``target_recall=None`` to fall back to the speed-first 1/4
    fraction, or pin ``nprobe`` explicitly.

    Under the broadcast cap the coded inverted file is collected and
    broadcast; past it the inverted file STAYS DISTRIBUTED and the
    scan runs over cell-packed shards (``_ivfpq_pairs``). Both regimes
    return identical results (forced-cap equality tests, including a
    cap small enough to force sub-shard splits).

    ``queries``: optional serving WORKLOAD — a DataFrame with the same
    ``id_col``/``vec_col`` columns whose ids are a subset of the
    corpus.  Only workload vectors probe the index (the index itself
    is still built over the full corpus), so per-batch serving cost is
    |workload|·nprobe·cellsize instead of n·…; this is the stage-1
    hook ``rerank_two_stage`` uses.  ``None`` keeps the all-pairs
    self-topk behavior."""
    import math

    from udacity_capstone_data_engineering_spark.operators.ivf import (
        _fit_centroids,
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        BROADCAST_SCORE_MAX_BYTES,
        _rank_topk,
        _score_pairs,
        _unit_vectors,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    cap = (
        BROADCAST_SCORE_MAX_BYTES
        if max_broadcast_bytes is None
        else max_broadcast_bytes
    )
    n = emb.count()
    if n_centroids is None:
        n_centroids = max(16, int(math.sqrt(max(n, 256))))
    if nprobe is None:
        frac = probe_fraction_for_recall(target_recall)
        nprobe = max(4, math.ceil(n_centroids * frac))
    if rerank is None:
        # Budget from the measured curve (VERDICT r8 #5) at the SAME
        # target the nprobe sizing uses; k-aware floor from r4 (a
        # deeper top-k needs ~20 exact-rerank candidates per returned
        # neighbor or recall decays like every under-coupled knob).
        rerank = rerank_budget(n, k, target_recall)

    centers = _fit_centroids(emb, vec_col, n_centroids, seed, fit_sample, n=n)
    books = fit_pq_codebooks(
        emb, vec_col, dim, m=m, ksub=ksub, seed=seed, sample=fit_sample, n=n
    )

    unit = _unit_vectors(emb, id_col, vec_col)
    v, qframe, n_q = _query_frame(unit, queries, id_col, vec_col, n)
    encode = _encode_udf(books)
    assign = _probe1_cell_udf(centers)
    # fan out before the CPU-heavy encode/assign UDFs: a one-file
    # corpus otherwise runs the whole encode as ONE task (r8, observed
    # 13 serial CPU-minutes at 200k vectors in the sf10 probe). No-op
    # at real scale.
    coded = fan_out_small_scan(v, n_rows=n).select(
        F.col(id_col).alias("id"),
        assign(F.col("uv")).cast("int").alias("cell"),
        encode(F.col("uv")).alias("codes"),
    )
    pairs = _ivfpq_pairs(
        qframe, coded, centers, books, nprobe, rerank, n, n_q, cap
    )
    return _rank_topk(_score_pairs(emb, id_col, vec_col, pairs, n=n, unit=unit), k)


def _query_frame(unit, queries, id_col, vec_col, n):
    """``(valid corpus unit rows, (query_id, qv) unit queries, query
    count)`` for the PQ-family operators: the corpus itself unless a
    serving workload ``queries`` is given."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _unit_vectors,
    )

    v = unit.filter(F.col("uv").isNotNull())
    if queries is None:
        qv, n_q = v, n
    else:
        qv = _unit_vectors(queries, id_col, vec_col).filter(
            F.col("uv").isNotNull()
        )
        n_q = queries.count()
    return v, qv.select(F.col(id_col).alias("query_id"), F.col("uv").alias("qv")), n_q


def rerank_budget(
    n: int, k: int, target_recall: float | None = None
) -> int:
    """Exact-rerank candidate budget per query (VERDICT r8 #5): the
    coupled-knob floor (max of 50, 20·k, and a corpus term) with the
    corpus term sized from the MEASURED recall curve instead of pinned
    at the generous n/20 — which the r8 sf10 cell measured at recall
    0.9992, an order of magnitude of rerank pairs past a 0.95 target.

    The curve collapses on rerank/√n, not rerank/n (measured,
    ``scripts/pq_rerank_probe.py``, fixed-20k-query second-decade
    protocol, m=8 / ksub=256, recall@5 vs exact truth):

        rerank/√n   sf1 (n=20k)        sf10 (n=200k)
        0.71        0.7815 (155 s)     —
        1.41        0.8881 (315 s)     —
        2.24        —                  0.9240 (1389 s)
        2.83        0.9560 (340 s)     —
        4.47        —                  0.9700 (1782 s)
        7.07        0.9933 (354 s)     —
        22.4        —                  0.9992 (3059 s, r8)

    (IVF-PQ tracks the same contour: 0.7818 at rerank/√n = 0.71 vs
    PQ's 0.7815 — the cut, not the cell filter, governs.) A constant
    FRACTION over-delivers as n grows (n/20 is 7.07√n at sf1 but
    22.4√n at sf10); a constant COUNT decays (100 is 0.78@20k vs
    0.97@2k); √n is the iso-recall contour between them. Tiers take
    the smallest coefficient whose target is MEASURED at one probed
    decade and bracket-monotone at the other:

        target ≤0.90 → 2.83·√n  (0.9560 measured sf1; sf10 ≥ the
                                  2.24-rung's 0.9240 by monotonicity)
        target ≤0.95 → 4.5·√n   (0.9700 measured sf10; sf1 ≥ 0.9560)
        target ≤0.97 → 7.1·√n   (0.9933 measured sf1; sf10 ≥ 0.9700)
        above / None → n/20     (legacy hash-anchor cut: 0.9933 sf1,
                                  0.9992 sf10)

    At sf10 the 0.95 default cut the PQ serving wall 3059 → ~1782 s
    (1.7×) while holding 0.97; total rerank work becomes Q·√n instead
    of Q·n/20 — the difference between a linear and a √-scaling
    serving tier at the third decade."""
    import math

    if target_recall is None or target_recall > 0.97:
        return max(50, -(-n // 20), 20 * k)
    if target_recall <= 0.90:
        c = 2.83
    elif target_recall <= 0.95:
        c = 4.5
    else:
        c = 7.1
    return max(50, 20 * k, math.ceil(c * math.sqrt(n)))


def probe_fraction_for_recall(target_recall: float | None) -> float:
    """Probed-cell fraction for a recall@5 target, from the measured
    IVF/IVF-PQ curves (SCALING.md rounds 2-3, re-measured each round
    by ``ann_recall_report`` + the sf1 probe at 500/2k/20k vectors):

        fraction 1/4 → recall ≈ 0.66     (the old speed-first default)
        fraction 1/2 → recall ≈ 0.85
        fraction 3/4 → recall ≈ 0.93-0.96 (the pinned 16-cell/nprobe-12
                                           operating point)
        fraction 7/8 → recall ≈ 0.97+

    ``None`` keeps the legacy speed-first 1/4.  The step above the
    smallest measured fraction meeting the target is chosen, so the
    returned operating point sits ON the measured curve rather than
    interpolating optimistically."""
    if target_recall is None:
        return 0.25
    if target_recall <= 0.66:
        return 0.25
    if target_recall <= 0.85:
        return 0.5
    if target_recall <= 0.95:
        return 0.75
    return 0.875


def _probe1_cell_udf(centers):
    """pandas_udf: unit vector → its single nearest cell id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    correction = 0.5 * (centers * centers).sum(axis=1)

    def assign(v):
        x = np.vstack(v.to_numpy())
        d = x @ centers.T - correction
        return pd.Series(d.argmax(axis=1).astype("int64"))

    return pandas_udf(assign, "long")


def pq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    rerank: int | None = None,
    seed: int = 42,
    fit_sample: int = 100_000,
    max_broadcast_bytes: int | None = None,
    queries: DataFrame | None = None,
    target_recall: float | None = 0.95,
) -> DataFrame:
    """Approximate cosine top-k via PQ + ADC with exact reranking.

    ``queries``: optional serving workload (same columns, ids ⊆
    corpus) — r8, closing the one asymmetry with the LSH/IVF/IVF-PQ
    kernels, which all had the hook; only workload vectors scan, the
    codebooks/codes stay corpus-wide. This is the shape that matters
    at scale: per-query ADC work is linear in the CORPUS, so the
    self-workload (queries = corpus) is quadratic by construction —
    fine as a correctness anchor at probe scale, never the serving
    path.

    Stage 1 scans the COMPRESSED index (n × m BYTES) per query and
    keeps the top-``rerank`` ADC candidates; stage 2 scores those
    candidates with exact cosine and ranks the final top-k, so
    quantization error only costs recall when a true neighbor falls
    outside the top-``rerank`` ADC cut. Codes and candidates are
    deterministic (seeded fit, stable argsort, id tiebreaks).

    Under the measured broadcast cap (n·(8+m) bytes — uint8 codes are
    what actually ships) the code matrix goes through
    ``_broadcast_scan``; past it the same chunked ADC tournament runs
    per shard through ``_grid_scan``, with identical results (VERDICT
    r3 #2).

    ``rerank=None`` auto-sizes to a CONSTANT FRACTION of the corpus
    via the measured ``rerank_budget`` curve (VERDICT r8 #5) at the
    default ``target_recall=0.95`` — a FRACTION, not a fixed count,
    because a fixed cut decays recall as n grows (measured recall@5
    at m=8: ksub=16/rerank=50 gave 0.74 @ 500 → 0.50 @ 2,000; the
    same knob-coupling law as IVF's nprobe and LSH's tables), and a
    TARGETED fraction, not always-n/20, because the r8 sf10 cell
    measured the generous cut at recall 0.9992 — an order of
    magnitude of rerank pairs past a 0.95 target (the wall numbers
    are in ``rerank_budget``'s docstring). ``target_recall=None``
    keeps the legacy n/20. ``ksub=256`` (8-bit codes) is the
    standard PQ operating point — 16 centroids per subspace
    quantizes too coarsely for the ADC ranking to keep true
    neighbors inside any affordable cut."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.similarity import (
        BROADCAST_SCORE_MAX_BYTES,
        _broadcast_scan,
        _grid_scan,
        _rank_topk,
        _score_pairs,
        _unit_vectors,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    cap = (
        BROADCAST_SCORE_MAX_BYTES
        if max_broadcast_bytes is None
        else max_broadcast_bytes
    )
    n = emb.count()
    if rerank is None:
        # Budget from the measured √n contour (VERDICT r8 #5; the
        # default 0.95 target takes the 4.5·√n rung — at sf10 that
        # cut the serving wall 3059 → 1782 s (1.7×) while measuring
        # recall 0.9700); k-aware floor from r4 (a deeper top-k needs
        # ~20 exact-rerank candidates per returned neighbor).
        rerank = rerank_budget(n, k, target_recall)
    books = fit_pq_codebooks(
        emb, vec_col, dim, m=m, ksub=ksub, seed=seed, sample=fit_sample, n=n
    )

    unit = _unit_vectors(emb, id_col, vec_col)
    v, qframe, n_q = _query_frame(unit, queries, id_col, vec_col, n)
    encode = _encode_udf(books)
    # fan out before the CPU-heavy encode UDF (r8, as in ivfpq_topk)
    coded = fan_out_small_scan(v, n_rows=n).select(
        F.col(id_col).alias("id"), encode(F.col("uv")).alias("codes")
    )

    def adc_top(x, ids, codes):
        return _adc_top_block(_query_luts(x, books), ids, codes, rerank)

    index_bytes = n * (8 + m)
    if index_bytes > cap:

        def grid_block(lpdf, rpdf):
            rpdf = rpdf.sort_values("id")
            top_i, top_s = adc_top(
                np.vstack(lpdf["qv"].to_numpy()),
                rpdf["id"].to_numpy(dtype=np.int64),
                np.vstack(rpdf["codes"].to_numpy()).astype(np.uint8),
            )
            qids = lpdf["query_id"].to_numpy(dtype=np.int64)
            return np.repeat(qids, top_i.shape[1]), top_i.ravel(), top_s.ravel()

        pairs = _grid_scan(
            qframe, coded, grid_block, rerank, n_q, index_bytes, cap
        )
    else:
        encoded = coded.toPandas()
        ids = encoded["id"].to_numpy(dtype=np.int64)
        codes = (
            np.vstack(encoded["codes"].to_numpy()).astype(np.uint8)
            if len(encoded)
            else np.zeros((0, m), dtype=np.uint8)
        )
        # Driver-side stable sort replaces the collect's orderBy: ids
        # are unique, so the layout is identical and the job drops its
        # global sort exchange (guide §2.4).
        order = np.argsort(ids, kind="stable")
        pairs = _broadcast_scan(
            qframe,
            (ids[order], codes[order]),
            lambda payload, x: adc_top(x, *payload)[0],
        )
    return _rank_topk(_score_pairs(emb, id_col, vec_col, pairs, n=n, unit=unit), k)
