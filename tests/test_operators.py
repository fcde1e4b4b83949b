"""Unit tests on tiny literal DataFrames (SURVEY.md §5: the reference's
own in-memory dims are the model for these fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark import qc
from udacity_capstone_data_engineering_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from udacity_capstone_data_engineering_spark.operators.joins import (
    anti_join,
    fk_orphans,
    semi_join,
)
from udacity_capstone_data_engineering_spark.operators.projections import (
    cast_columns,
    dedup_by_key,
    fill_nulls,
    project,
)
from udacity_capstone_data_engineering_spark.operators.setops import (
    duplicate_witness,
    except_all,
)
from udacity_capstone_data_engineering_spark.operators.windows import (
    global_top_k,
    top_k_per_group,
)


# Fixture mirrors the reference's i94mode dim (etl.py:48-53).
@pytest.fixture(scope="module")
def modes(spark):
    return spark.createDataFrame(
        [(1, "Air"), (2, "Sea"), (3, "Land"), (9, "Not reported")],
        "i94mode int, mode_name string",
    )


@pytest.fixture(scope="module")
def facts(spark):
    return spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 2, 30.0), (4, 7, 40.0), (5, None, 50.0)],
        "id int, mode int, amount double",
    )


def test_project_rename(spark, modes):
    out = project(modes, {"m": "i94mode", "label": "upper(mode_name)"})
    assert out.columns == ["m", "label"]
    assert {r.label for r in out.collect()} == {"AIR", "SEA", "LAND", "NOT REPORTED"}


def test_cast_columns_one_select(spark, facts):
    out = cast_columns(facts, {"mode": "string", "amount": "int"})
    types = dict(out.dtypes)
    assert types == {"id": "int", "mode": "string", "amount": "int"}


def test_fill_nulls(facts):
    out = fill_nulls(facts, {"mode": 9})
    assert out.filter(F.col("mode").isNull()).count() == 0
    assert out.filter("id = 5").first().mode == 9


def test_dedup_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b", 2), (1, "a", 1), (2, "c", 3)], "k int, v string, ord int"
    )
    first = dedup_by_key(df, ["k"], [F.col("ord")])
    assert {(r.k, r.v) for r in first.collect()} == {(1, "a"), (2, "c")}
    last = dedup_by_key(df, ["k"], [F.col("ord")], keep="last")
    assert {(r.k, r.v) for r in last.collect()} == {(1, "b"), (2, "c")}


# (fact keys, dim keys): the fixtures' keys, then hostile inputs.
_FK_CASES = {
    "fixture": ([1, 1, 2, 7, None], [1, 2, 3, 9]),
    "fixture_clean": ([1, 1, 2, None], [1, 2, 3, 9]),
    "null_fact_keys": ([None, 4, None, 1, None], [1]),
    "duplicate_dim_keys": ([1, 2, 5], [1, 1, 2, 2, 2]),
    "repeated_orphans": ([7, 7, 8, 1, 7, 8], [1, 2]),
    "empty_dim": ([3, 1, 3, None], []),
    "empty_fact": ([], [1, 2]),
}


@pytest.mark.parametrize("broadcast_dim", [True, False], ids=["broadcast", "shuffle"])
@pytest.mark.parametrize("case", list(_FK_CASES))
def test_fk_orphans_and_qc(spark, case, broadcast_dim):
    fact_keys, dim_keys = _FK_CASES[case]
    facts = spark.createDataFrame([(k,) for k in fact_keys], "mode int")
    modes = spark.createDataFrame([(k,) for k in dim_keys], "i94mode int")
    orphans = fk_orphans(facts, "mode", modes, "i94mode", broadcast_dim=broadcast_dim)
    got = [r.fk for r in orphans.collect()]
    want = {k for k in fact_keys if k is not None} - set(dim_keys)
    assert sorted(got) == sorted(want)  # each orphan once, null keys excluded
    assert qc.fk_check(facts, "mode", modes, "i94mode").passed == (not want)


def test_semi_anti_partition(facts, modes):
    """semi + anti of the same join = the non-null-key universe."""
    s = semi_join(facts, modes, facts.mode == modes.i94mode)
    a = anti_join(facts, modes, facts.mode == modes.i94mode)
    assert s.count() + a.count() == facts.count()
    assert {r.id for r in a.collect()} == {4, 5}  # no-match + null key


def test_duplicate_witness(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    assert duplicate_witness(df, ["x"]).collect() == [
        df.sparkSession.createDataFrame([(1,)], "x int").collect()[0]
    ]
    assert qc.duplicate_rows(df, ["x"]).passed is False
    assert qc.duplicate_rows(df.distinct(), ["x"]).passed is True


def test_except_all_multiset(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    b = spark.createDataFrame([(1,)], "x int")
    assert sorted(r.x for r in except_all(a, b).collect()) == [1, 2]


def test_qc_nonempty_and_suite(spark, modes):
    good = qc.assert_nonempty(modes, "modes")
    empty = qc.assert_nonempty(modes.filter("i94mode = 42"), "none")
    assert good.passed and not empty.passed
    # The reference returned True iff every check FAILED (qhi.py:91);
    # run_suite must be the sane conjunction.
    assert qc.run_suite([good]) is True
    assert qc.run_suite([good, empty]) is False


def test_null_profile(spark, facts):
    row = qc.profile_nulls(facts, ["mode"]).first()
    assert row.row_count == 5
    assert row.mode_nulls == 1
    assert row.mode_null_ratio == 0.2


def test_top_k_per_group_ties(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 10.0, "b"), (1, 5.0, "c"), (2, 1.0, "d")],
        "g int, score double, id string",
    )
    out = top_k_per_group(df, ["g"], [F.col("score").desc(), F.col("id")], k=2)
    assert {(r.g, r.id, r.rnk) for r in out.collect()} == {
        (1, "a", 1),
        (1, "b", 2),
        (2, "d", 1),
    }


def test_global_top_k(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("m"))
    out = global_top_k(df, [F.col("m").desc(), F.col("id")], k=3).collect()
    assert [(r.m, r.id) for r in out] == [(6, 6), (6, 13), (6, 20)]


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r.rep_id: r.copies for r in exact_duplicates(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_always_pair(spark):
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in (1, 2)]
        + [(3, "completely different words appear in this document body")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, "text", "doc_id")
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "zzz qqq www eee rrr ttt yyy uuu")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_upsert_latest_wins_updates_and_inserts(spark):
    from udacity_capstone_data_engineering_spark.operators.merge import (
        upsert_latest_wins,
    )

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, src int"
    )
    upd = spark.createDataFrame(
        [(2, "B", 2), (4, "D", 2)], "k long, v string, src int"
    )
    out = {
        r.k: (r.v, r.src)
        for r in upsert_latest_wins(base, upd, ["k"], ["src"]).collect()
    }
    assert out == {1: ("a", 1), 2: ("B", 2), 3: ("c", 1), 4: ("D", 2)}


def test_hash_split_deterministic_and_proportional(spark, sf_dir):
    from udacity_capstone_data_engineering_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fr = {"train": 0.8, "valid": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id", fr).collect()}
    # repartitioning must not move any row between splits
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(7), "doc_id", fr).collect()
    }
    assert a == b
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.7 < train / n < 0.9
    # sample ⊆ split-train relationship isn't required; just determinism
    s1 = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2, seed=3).collect()}
    s2 = {r.doc_id for r in hash_sample(docs.repartition(5), "doc_id", 0.2, seed=3).collect()}
    assert s1 == s2 and 0 < len(s1) < n
