"""Bloom kernel: sizing, zero false negatives, empirical FPR bound, and the
merge algebra (associative/commutative/idempotent OR; param-mismatch error)
— the FPR and merge-property coverage the reference never had
(FIXTURES.md F6, north-rule requirement)."""

import math

import numpy as np
import pytest

from bloomsearch_spark import bloom
from bloomsearch_spark.bloom import BloomParams


def test_sizing_matches_classical_formula():
    m, k = bloom.sizing(100_000, 0.001)
    m_exact = math.ceil(-100_000 * math.log(0.001) / (math.log(2) ** 2))
    assert m_exact <= m < m_exact + 64 and m % 64 == 0
    assert k == math.ceil((m / 100_000) * math.log(2))


def test_sizing_rejects_bad_params():
    with pytest.raises(ValueError):
        bloom.sizing(0, 0.01)
    with pytest.raises(ValueError):
        bloom.sizing(100, 1.5)


def test_no_false_negatives_exhaustive():
    params = BloomParams(5_000, 0.01)
    bs = bloom.new_bitset(params)
    items = np.array([f"tok{i}" for i in range(5_000)], dtype=object)
    bloom.insert(bs, items, params)
    assert bloom.probe(bs, items, params).all()


def test_empirical_fpr_within_bound():
    params = BloomParams(10_000, 0.01)
    bs = bloom.new_bitset(params)
    present = np.array([f"in{i}" for i in range(10_000)], dtype=object)
    absent = np.array([f"out{i}" for i in range(50_000)], dtype=object)
    bloom.insert(bs, present, params)
    fpr = bloom.probe(bs, absent, params).mean()
    assert fpr <= 1.5 * 0.01, f"observed FPR {fpr:.4f} exceeds 1.5x target"


def test_insert_into_many_matches_individual_inserts():
    p1, p2 = BloomParams(1_000, 0.01), BloomParams(50_000, 0.001)
    a1, a2 = bloom.new_bitset(p1), bloom.new_bitset(p2)
    b1, b2 = bloom.new_bitset(p1), bloom.new_bitset(p2)
    items = np.array([f"x{i}" for i in range(500)], dtype=object)
    bloom.insert_into_many([a1, a2], items, [p1, p2])
    bloom.insert(b1, items, p1)
    bloom.insert(b2, items, p2)
    assert (a1 == b1).all() and (a2 == b2).all()


def test_merge_is_or_and_raises_on_mismatch():
    p = BloomParams(1_000, 0.01)
    a, b = bloom.new_bitset(p), bloom.new_bitset(p)
    bloom.insert(a, ["x"], p)
    bloom.insert(b, ["y"], p)
    m = bloom.merge(a, b)
    assert bloom.probe(m, ["x", "y"], p).all()
    with pytest.raises(ValueError):
        bloom.merge(a, bloom.new_bitset(BloomParams(2_000, 0.01)))


def test_merge_algebra_associative_commutative_idempotent():
    """Partial aggregates must recombine identically in any grouping/order
    and under replay (checkpoint resume) — bit-identical results."""
    p = BloomParams(2_000, 0.01)
    rng = np.random.RandomState(7)
    parts = []
    for i in range(6):
        bs = bloom.new_bitset(p)
        items = np.array([f"t{j}" for j in rng.randint(0, 5_000, 300)], dtype=object)
        bloom.insert(bs, items, p)
        parts.append(bs)

    left = parts[0]
    for x in parts[1:]:
        left = bloom.merge(left, x)
    right = parts[-1]
    for x in reversed(parts[:-1]):
        right = bloom.merge(x, right)
    shuffled = parts[3]
    for i in [1, 5, 0, 2, 4]:
        shuffled = bloom.merge(shuffled, parts[i])
    replayed = bloom.merge(left, parts[2])  # re-apply a partial (idempotence)

    assert (left == right).all()
    assert (left == shuffled).all()
    assert (left == replayed).all()


def test_probe_many_null_bitset_cannot_disqualify():
    p = BloomParams(100, 0.01)
    a = bloom.new_bitset(p)
    bloom.insert(a, ["present"], p)
    res = bloom.probe_many([a.tobytes(), None, b""], "present", p)
    assert res.tolist() == [True, True, True]
    res2 = bloom.probe_many([a.tobytes(), None], "absent_zzz", p)
    assert res2.tolist() == [False, True]


def test_probe_many_and_of_tokens():
    p = BloomParams(100, 0.01)
    a = bloom.new_bitset(p)
    bloom.insert(a, ["x", "y"], p)
    assert bloom.probe_many([a.tobytes()], ["x", "y"], p).tolist() == [True]
    assert bloom.probe_many([a.tobytes()], ["x", "zz_absent"], p).tolist() == [False]


def test_probe_many_matches_per_row_probe():
    """The vectorized probe_many (one gather over the concatenated
    bitsets) answers exactly what a per-row ``bloom.probe`` answers —
    under two param sets, for null/empty bitsets (always True), single
    and multi-token AND keys, and a 64-key OR through the prune tree."""
    import pandas as pd
    import pyarrow as pa

    from bloomsearch_spark.operators.probe import _eval_tree
    from bloomsearch_spark.query import Or, Token

    rng = np.random.default_rng(11)
    for p in (BloomParams(100, 0.01), BloomParams(2_000, 0.05)):
        raws = []
        for i in range(300):
            bs = bloom.new_bitset(p)
            items = [f"w{j}" for j in rng.integers(0, 400, rng.integers(0, 120))]
            bloom.insert(bs, np.array(items, dtype=object), p)
            raws.append(bs.tobytes())
        raws[5] = None
        raws[17] = b""
        live = [i for i, r in enumerate(raws) if r]

        def per_row(keys, any_key=False):
            out = np.ones(len(raws), dtype=bool)
            for i in live:
                hits = bloom.probe(np.frombuffer(raws[i], np.uint8), keys, p)
                out[i] = hits.any() if any_key else hits.all()
            return out

        arrow = pa.array(raws, pa.binary())
        for keys in (["w1"], ["zz_absent"], ["w2", "w3"], ["w4", "zz_absent"]):
            key = keys[0] if len(keys) == 1 else keys
            want = per_row(keys).tolist()
            assert bloom.probe_many(pd.Series(raws, dtype=object), key, p).tolist() == want
            # arrow input is read in place, sliced arrays included
            assert bloom.probe_many(arrow, key, p).tolist() == want
            assert bloom.probe_many(arrow.slice(3), key, p).tolist() == want[3:]
            assert want[5] and want[17]
        needles = [f"w{j}" for j in range(0, 640, 10)]  # half never inserted
        tree = Or(*[Token(t) for t in needles])
        got = _eval_tree(tree, pa.RecordBatch.from_pydict({"token_bloom": arrow}), p)
        assert got.tolist() == per_row(needles, any_key=True).tolist()
        assert 0 < got.sum() < len(raws)


def test_fill_ratio():
    p = BloomParams(1_000, 0.01)
    bs = bloom.new_bitset(p)
    assert bloom.fill_ratio(bs) == 0.0
    bloom.insert(bs, [f"i{i}" for i in range(1_000)], p)
    assert 0.3 < bloom.fill_ratio(bs) < 0.7  # ~50% at capacity is the optimum


def test_minmax_arrow_matches_pandas_on_mixed_strings():
    """r03 review fix: whole-column Arrow cast fails on ANY bad value and
    used to drop the field's zone map, diverging from the clustered path's
    per-element coercion — same data, different strict-MinMax answers."""
    import pyarrow as pa

    from bloomsearch_spark import IndexConfig
    from bloomsearch_spark.operators.blockindex import _minmax_maps, _minmax_maps_arrow

    cfg = IndexConfig(
        indexed_fields=("x",), partition_expr="'p'", minmax_fields=("x",)
    )
    tbl = pa.table({"x": ["10", "abc", "99"]})
    mn_a, mx_a = _minmax_maps_arrow(tbl, cfg)
    mn_p, mx_p = _minmax_maps(tbl.to_pandas(), cfg)
    assert (mn_a, mx_a) == (mn_p, mx_p)
    assert mn_a == {"x": 10} and mx_a == {"x": 99}


def test_accumulator_token_count_distinct_across_batches():
    """r03 review fix: re-adding the same rows in a second batch must not
    inflate token_count (per-batch uniques recur across batches)."""
    import pyarrow as pa

    from bloomsearch_spark import IndexConfig
    from bloomsearch_spark.operators.blockindex import BlockAccumulator

    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="'p'",
        max_block_rows=100, blocks_per_file=2,
    )
    acc = BlockAccumulator(cfg)
    tbl = pa.table({"content": ["x y", "y z"]})
    acc.add(tbl)
    n1 = acc.tokens
    acc.add(tbl)  # identical slice: zero NEW distinct entries
    assert acc.tokens == n1 > 0


def test_non_indexed_field_verify_is_deterministically_false(spark):
    """r03 review fix: FIELD/FIELD_TOKEN on a real-but-non-indexed column
    compiles to constant False (the build never inserted it; gating on data
    columns made results a bloom-FP-dependent random subset)."""
    from pyspark.sql import functions as F

    from bloomsearch_spark.operators.verify import compile_bloom_verify
    from bloomsearch_spark.query import new_query

    df = spark.createDataFrame([("a1", "c1")], "a string, c string")
    for q in (
        new_query().field("c").build(),
        new_query().field_token("c", "c1").build(),
    ):
        pred = compile_bloom_verify(q.bloom, ("a",), df.columns)
        assert df.filter(pred).count() == 0
    # indexed field still verifies normally
    q = new_query().field_token("a", "a1").build()
    pred = compile_bloom_verify(q.bloom, ("a",), df.columns)
    assert df.filter(pred).count() == 1
