"""The shared ANN scan runners (``similarity._broadcast_scan`` /
``_grid_scan``): the grid's single shard-count rule, the payload-digest
broadcast key, and the ``_unit_vectors`` Arrow kernel on sliced
batches."""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _ceil(a, b):
    return -(-a // b)


def _old_hash_grid_shards(total_bytes, cap, par, n_blocks):
    """The rule the LSH and PQ grids each wrote out."""
    return max(
        2,
        _ceil(total_bytes, max(cap, 1)),
        min(_ceil(2 * par, n_blocks), 4 * par),
    )


def _old_ivfpq_shards(total_bytes, cap, par, n_blocks):
    """IVF-PQ's ``eff_cap`` form: shrink the packing cap until the
    shard count reaches ~2 tasks/core; evenly divisible cells pack
    into ceil(total / eff_cap) shards."""
    min_shards = min(_ceil(2 * par, n_blocks), 4 * par)
    eff_cap = max(1, min(cap, _ceil(total_bytes, max(min_shards, 1))))
    return _ceil(total_bytes, eff_cap)


def test_shard_count_rule_matches_old_formulas():
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _shard_count,
    )

    cap = 16 << 20
    cases = {
        # byte-bound: 10 caps of corpus, many query blocks
        "byte_bound": ((10 * cap, cap, 4, 8), 10),
        # core-bound: a 3-cap corpus on 16 cores, 2 query blocks
        "core_bound": ((3 * cap, cap, 16, 2), 16),
        # one-block serving batch: half a cap, 4 cores
        "one_block": ((cap // 2, cap, 4, 1), 8),
    }
    for name, (args, want) in cases.items():
        got = _shard_count(*args)
        assert got == want, name
        assert got == _old_hash_grid_shards(*args), name
        assert got == _old_ivfpq_shards(*args), name


def test_shard_count_never_below_two():
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _shard_count,
    )

    for total in (0, 1, 1000, 10**9):
        for cap in (1, 1024, 10**12):
            for par in (1, 4, 32):
                for n_blocks in (1, 7, 10**6):
                    assert _shard_count(total, cap, par, n_blocks) >= 2


def test_broadcast_key_digests_payload(spark):
    """Same ids, different payload arrays (PQ codes of another ksub)
    must not share a broadcast; an identical payload must reuse one —
    the ADVICE r9 stale-payload class, pinned for every kernel at once."""
    from udacity_capstone_data_engineering_spark.operators import similarity

    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "query_id long, qv array<double>"
    )
    ids = np.array([1, 2], dtype=np.int64)
    codes16 = np.array([[3, 1], [0, 2]], dtype=np.uint8)
    codes256 = np.array([[200, 17], [0, 255]], dtype=np.uint8)

    def scorer(payload, x):
        return [payload[0]] * len(x)

    similarity._KERNEL_BC.clear()
    try:
        pairs = similarity._broadcast_scan(q, (ids, codes16), scorer)
        similarity._broadcast_scan(q, (ids.copy(), codes16.copy()), scorer)
        assert len(similarity._KERNEL_BC) == 1
        similarity._broadcast_scan(q, (ids, codes256), scorer)
        assert len(similarity._KERNEL_BC) == 2
        assert sorted(map(tuple, pairs.collect())) == [(1, 2), (2, 1)]
    finally:
        for bc in similarity._KERNEL_BC.values():
            bc.unpersist(blocking=False)
        similarity._KERNEL_BC.clear()


def _batch(vectors):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(1, len(vectors) + 1), pa.int64()),
            pa.array(vectors, pa.list_(pa.float64())),
        ],
        ["id", "v"],
    )


def test_unit_vector_batches_on_sliced_batch():
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _unit_vector_batches,
    )

    for vectors in (
        [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]],  # fixed-dim fast path
        [[1.0, 2.0], None, [3.0, 4.0, 12.0], [0.0, 0.0]],  # per-row path
    ):
        rb = _batch(vectors)
        (full,) = _unit_vector_batches([rb])
        (part,) = _unit_vector_batches([rb.slice(1)])
        assert part.to_pylist() == full.slice(1).to_pylist()
