"""Generator correctness: determinism, distribution shape, reference
semantics (uniform modulo keys, dim = exact key set, Zipf hot-key mass
≈ count / H(N, s)), and the driver-side Zipf run finder against the
full inverse-CDF grid."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreduce_join_comparison_spark import generator
from mapreduce_join_comparison_spark.generator import (
    DEFAULT_ATTR_LENGTHS,
    generalized_harmonic,
    generate_dim,
    generate_uniform_pair,
    generate_zipf_fact,
    generate_zipf_pair,
    max_zipf_repeats,
    zipf_inverse_cdf,
    zipf_runs,
)

from conftest import rows_set


def test_zipf_inverse_cdf_properties():
    p = np.linspace(0.0, 0.999, 5000)
    v = zipf_inverse_cdf(p, 0.8, 1000.0)
    assert v.min() >= 1
    assert v.max() <= 1000
    # monotone non-decreasing in p
    assert np.all(np.diff(v) >= 0)
    # hottest value (k=1) has mass ~ 1/H(N,s)
    frac_hot = np.mean(v == 1)
    expect = 1.0 / generalized_harmonic(1000, 0.8)
    assert abs(frac_hot - expect) < 0.02


def test_zipf_s1_rejected():
    with pytest.raises(ValueError):
        zipf_inverse_cdf(np.array([0.5]), 1.0, 100.0)


def test_uniform_pair_semantics(spark):
    t1, t2 = generate_uniform_pair(spark, 1000, 100, seed=1)
    rows = t1.groupBy("k").count().collect()
    assert len(rows) == 100
    assert all(r["count"] == 10 for r in rows)
    assert rows_set(t1) == rows_set(t2)


def test_dim_exact_key_set(spark):
    dim = generate_dim(spark, 500, seed=3)
    keys = sorted(r["k"] for r in dim.select("k").collect())
    assert keys == list(range(500))


def test_attr_lengths_and_pool(spark):
    dim = generate_dim(spark, 200, seed=5)
    rows = dim.collect()
    for i, length in enumerate(DEFAULT_ATTR_LENGTHS):
        vals = {r[f"a{i + 1}"] for r in rows}
        assert all(len(v) == length for v in vals)
        assert len(vals) <= 100  # pool-bounded


def test_generation_deterministic(spark):
    a = generate_zipf_fact(spark, 2000, 200, 0.9, seed=11)
    b = generate_zipf_fact(spark, 2000, 200, 0.9, seed=11)
    assert rows_set(a) == rows_set(b)
    c = generate_zipf_fact(spark, 2000, 200, 0.9, seed=12)
    assert rows_set(a) != rows_set(c)  # attrs differ with seed


def test_zipf_hot_key_mass(spark):
    n, uniq, s = 20000, 1000, 0.8
    fact = generate_zipf_fact(spark, n, uniq, s, seed=7)
    hot = fact.filter("k = 1").count()
    expect = max_zipf_repeats(uniq, s, n)
    assert abs(hot - expect) / expect < 0.1


def test_zipf_pair_join_all_fact_rows_match(spark):
    # every fact key is in [1, N] ⊂ dim keys ∪ {N}; dim holds 0..N-1 so
    # keys 1..N-1 match; key N (p→1 tail) may not. Join preserves ≈all rows.
    dim, fact = generate_zipf_pair(spark, 5000, 500, 0.5, seed=9)
    joined = fact.join(dim, "k", "inner")
    assert joined.count() >= fact.filter("k < 500").count()


def test_double_skew_pair(spark):
    t1, t2 = generate_zipf_pair(spark, 3000, 300, 0.7, seed=13, double_skew=True)
    assert rows_set(t1) == rows_set(t2)


def test_zipf_pole_fails_fast_on_driver(spark):
    import pytest as _pytest

    from mapreduce_join_comparison_spark.generator import generate_zipf_fact

    # the guard must raise at plan-construction time (driver), not from
    # a worker mid-job
    with _pytest.raises(ValueError, match="pole"):
        generate_zipf_fact(spark, 100, 10, s=1.0)


def test_chunked_staging_equals_monolithic(spark, tmp_path):
    """stage_zipf_fact_chunked (round-10, the >=400M scaleup tail's
    zero-shuffle staging) must write EXACTLY generate_zipf_fact's
    table: each chunk keeps the global n_rows denominator, so the
    slices union bit-for-bit — including an uneven last chunk."""
    from mapreduce_join_comparison_spark.generator import (
        stage_zipf_fact_chunked,
    )

    n, u, s = 10_001, 1_000, 0.7  # uneven: 3 chunks of 3334/3334/3333
    path = str(tmp_path / "fact_chunks")
    stage_zipf_fact_chunked(spark, n, u, s, path, seed=7, chunks=3)
    staged = rows_set(spark.read.parquet(path))
    mono = rows_set(generate_zipf_fact(spark, n, u, s, seed=7))
    assert staged == mono
    assert len(spark.read.parquet(path).collect()) == n


def _grid_runs(n_rows, unique, s, lo, hi):
    """The runs of equal keys in every id's key, straight from the
    inverse CDF, one bounded chunk of ids at a time."""
    starts, keys, last = [], [], None
    for c in range(lo, hi, 1 << 20):
        k = zipf_inverse_cdf(np.arange(c, min(c + (1 << 20), hi), dtype=np.int64)
                             / float(n_rows), s, float(unique))
        new = np.flatnonzero(np.diff(k, prepend=k[0] - 1 if last is None else last))
        starts.append(c + new)
        keys.append(k[new])
        last = k[-1]
    return np.concatenate(starts), np.concatenate(keys)


def _soak(*point):
    return pytest.param(*point, marks=pytest.mark.soak)


# (n_rows, N, s, id_lo, id_hi): the perfbench/skew-test scale points;
# bench.py's 1M-row skew matrix; a head and a tail slice of bench.py's
# largest sweep point and of tools/large_soak.py's default; every
# (n, N, s) the tests, the CLI tests and the catalog generate, with an
# interior slice and the uneven last chunk of the chunked test; and,
# in the soak lane, bench.py's full 10M- and 20M-row scale-up points
@pytest.mark.parametrize("n_rows,unique,s,lo,hi", [
    (1_000_000, 100_000, 1.2, 0, None),
    (4_000_000, 400_000, 1.2, 0, None),
    (1_000_000, 100_000, 0.5, 0, None),
    (1_000_000, 100_000, 0.1, 0, None),
    (1_000_000, 100_000, 0.3, 0, None),
    (1_000_000, 100_000, 0.7, 0, None),
    (1_000_000, 100_000, 0.9, 0, None),
    (1_000_000, 100_000, 1.01, 0, None),
    (200_000_000, 20_000_000, 0.1, 0, 2_000_000),
    (200_000_000, 20_000_000, 0.1, 198_000_000, None),
    (1_000_000_000, 100_000_000, 0.5, 0, 2_000_000),
    (1_000_000_000, 100_000_000, 0.5, 998_000_000, None),
    (3_000_000, 300_000, 1.2, 0, None),
    (20_000, 2_000, 0.8, 0, None),
    (20_000, 1_000, 0.8, 0, None),
    (10_001, 1_000, 0.7, 0, None),
    (10_001, 1_000, 0.7, 3334, 6668),
    (10_001, 1_000, 0.7, 6668, 10_001),
    (5_000, 500, 0.5, 0, None),
    (3_000, 300, 0.7, 0, None),
    (2_000, 200, 0.9, 0, None),
    (2_000, 200, 0.8, 0, None),
    (500, 50, 0.8, 0, None),
    (400, 40, 0.8, 0, None),
    (1_000, 1_000_000, 1.2, 0, None),  # more keys than ids: every id evaluated
    _soak(10_000_000, 1_000_000, 0.5, 0, None),
    _soak(10_000_000, 1_000_000, 1.2, 0, None),
    _soak(20_000_000, 2_000_000, 0.5, 0, None),
    _soak(20_000_000, 2_000_000, 1.2, 0, None),
])
def test_zipf_runs_reproduce_full_grid(n_rows, unique, s, lo, hi):
    hi = n_rows if hi is None else hi
    starts, keys = zipf_runs(n_rows, unique, s, lo, hi)
    want_starts, want_keys = _grid_runs(n_rows, unique, s, lo, hi)
    np.testing.assert_array_equal(starts, want_starts)
    np.testing.assert_array_equal(keys, want_keys)


def test_zipf_runs_non_monotone_boundary_raises(monkeypatch):
    n_rows, unique, s = 20_000, 2_000, 0.8
    starts, keys = zipf_runs(n_rows, unique, s)
    j = 100  # a dense run: its neighbours' keys are one below and one above
    assert keys[j] - keys[j - 1] == 1 and keys[j + 1] - keys[j] == 1

    def raised_before_run_j(p, s, n):
        # the id before run j's start reads two above run j's key, so
        # the next boundary's left neighbour no longer continues the run
        # before it
        k = zipf_inverse_cdf(p, s, n)
        return np.where(np.rint(np.asarray(p) * n_rows) == starts[j] - 1, k + 2, k)

    def decreasing(p, s, n):
        return zipf_inverse_cdf(1.0 - np.asarray(p), s, n)

    monkeypatch.setattr(generator, "zipf_inverse_cdf", raised_before_run_j)
    with pytest.raises(ValueError, match=f"boundary at id {starts[j + 1]}"):
        zipf_runs(n_rows, unique, s)
    monkeypatch.setattr(generator, "zipf_inverse_cdf", decreasing)
    with pytest.raises(ValueError, match="boundary at id"):
        zipf_runs(n_rows, unique, s)


@pytest.mark.parametrize("num_partitions", [None, 3])
def test_zipf_fact_partitions_follow_spark_range(spark, num_partitions):
    """Partition p of the fact holds as many rows as partition p of
    ``spark.range`` with the same ``num_partitions``."""
    def per_partition(df):
        return sorted(df.groupBy(F.spark_partition_id().alias("p")).count().collect())

    fact = generate_zipf_fact(spark, 20_000, 2_000, 0.8, seed=4,
                              num_partitions=num_partitions)
    assert per_partition(fact) == per_partition(
        spark.range(0, 20_000, numPartitions=num_partitions))


@pytest.mark.parametrize("double_skew", [False, True])
def test_zipf_pair_runs_no_python_udf(spark, double_skew):
    """The fact key is built on the JVM: no Python evaluation node in
    either table's executed plan."""
    for df in generate_zipf_pair(spark, 5000, 500, 0.5, seed=9, double_skew=double_skew):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
