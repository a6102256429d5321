"""Skewed-pair data generator — the reference's ``DataGenerator``
surface (SURVEY.md §2.11 G1-G4) re-expressed as distributed, lazy,
seed-deterministic DataFrame construction.

Reference semantics preserved:
  * G1 uniform pair   — key = ``i % unique_values``, both tables
    identical (``DataGenerator.java:102-123``).
  * G2 Zipf pair      — dim = every key 0..N-1 exactly once
    (reference shuffles the order — irrelevant relationally); fact key
    = ``zipf_inverse_cdf(i/nRows, s, N)`` for i = 0..nRows-1 —
    *deterministic* inverse-CDF over an equi-spaced probability grid,
    not random draws (``DataGenerator.java:150``).
  * G3 parallel write — free: ``df.write`` parallelism replaces the
    reference's thread-per-file writer (which was accidentally
    sequential — ``.run()`` not ``.start()``, ``DataGenerator.java:230``).
  * G4 double-skew    — both tables Zipf (``DataGenerator.java:240-259``).
  * Attributes        — 3 random strings of lengths 20/100/80, each
    drawn from a pool of 100 pre-generated strings
    (``DataGenerator.java:13-48``, ``JoinSimulation.java:91-93``). We
    build the pools driver-side with a seeded RNG and pick JVM-side via
    ``md5(id:attr:seed) % pool`` — no Python in the per-row hot path,
    and (unlike xxhash64) replayable by any engine, so the catalog
    registers a full value-hash DuckDB oracle for the generator.

The Zipf inverse CDF is the Newton-iteration approximation from the
public article the reference cites (medium.com/@jasoncrease/zipf,
``DataGenerator.java:300-336``), vectorized over numpy arrays. Because
the grid is deterministic and the key non-decreasing in the id, the
fact key is a sequence of runs of equal keys: the driver finds each
run's id range with the same numpy function (:func:`zipf_runs`) and
ships the runs as data, and the JVM expands them into ids — no Python
worker and no per-row Python compute.

Scale posture: the uniform and dim tables derive from ``spark.range``
with O(pool) driver memory. The Zipf fact's driver work and memory are
O(distinct keys per call); :func:`stage_zipf_fact_chunked` bounds them
per chunk. Nothing is collected, and the rows are generated in
parallel across all executors.
"""

from __future__ import annotations

import random
import string
from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import scoped_conf

ALPHABET = string.ascii_uppercase + string.ascii_lowercase + "123456789"
POOL_SIZE = 100
DEFAULT_ATTR_LENGTHS = (20, 100, 80)  # JoinSimulation.java:91-93
# ids per row of the Zipf run table: no exploded array is longer than
# this, which keeps the expansion's JVM heap near spark.range's
ID_BLOCK = 4096
# Arrow bytes of a run table (about 24 per run) up to which Spark keeps
# it in the plan as a LocalRelation: constant rows that canonicalize, so
# a self-join reuses its exchange. A larger table becomes an RDD of
# Arrow batches and never enters the plan: the catalog's 20k-row fact
# is ~50 KB, bench.py's smallest sweep point ~1.4 MB.
_LOCAL_RUN_BYTES = 256 << 10
# ids (or candidate keys) per numpy pass of the run finder; bounds its
# temporaries independently of the slice size
_FINDER_CHUNK = 1 << 18
# below this many ids per key, evaluating every id is cheaper than
# bracketing every key
_DIRECT_DENSITY = 2.0
# ids per stage_zipf_fact_chunked chunk for callers staging very large
# facts: the driver then holds at most ~5.5M runs and a 125 MB Arrow run
# table at a time (measured at 200M rows, 20M keys, s = 0.1)
ZIPF_STAGE_CHUNK_ROWS = 50_000_000


def generalized_harmonic(n: int, m: float) -> float:
    """H(n, m) = sum_{k=1..n} 1/k^m  (DataGenerator.java:94-100)."""
    k = np.arange(1, n + 1, dtype=np.float64)
    return float(np.sum(1.0 / np.power(k, m)))


def max_zipf_repeats(n_unique: int, s: float, count: int) -> float:
    """Expected occurrences of the hottest key: count / H(N, s)
    (DataGenerator.java:72-80). Used by the bench harness to size
    skew-aware partitioning, as the reference's JoinSimulation.java:203
    did."""
    return count / generalized_harmonic(n_unique, s)


def zipf_inverse_cdf(p: np.ndarray, s: float, n: float) -> np.ndarray:
    """Vectorized approximate inverse CDF of Zipf(s, N) over p∈[0,1).

    Newton iteration on the integral approximation of the generalized
    harmonic sum (public derivation: medium.com/@jasoncrease/zipf;
    reference port at DataGenerator.java:314-336). s must not equal 1.
    """
    if s == 1.0:
        raise ValueError("s=1 is a pole of the approximation; use s=1.01")
    p = np.asarray(p, dtype=np.float64)
    if np.any((p < 0) | (p > 1)):
        raise ValueError("p must be within [0, 1]")
    tol = 0.01
    x = np.full(p.shape, n / 2.0, dtype=np.float64)
    d = p * (
        12.0 * (n ** (1.0 - s) - 1.0) / (1.0 - s)
        + 6.0
        - 6.0 * n ** (-s)
        + s
        - n ** (-1.0 - s) * s
    )
    active = np.ones(p.shape, dtype=bool)
    # Newton converges in a handful of steps; hard-cap for safety.
    for _ in range(200):
        xa = x[active]
        m = xa ** (-2.0 - s)
        mx = m * xa
        mxx = mx * xa
        mxxx = mxx * xa
        a = 12.0 * (mxxx - 1.0) / (1.0 - s) + 6.0 * (1.0 - mxx) + (s - mx * s) - d[active]
        b = 12.0 * mxx + 6.0 * (s * mx) + (m * s * (s + 1.0))
        newx = np.maximum(1.0, xa - a / b)
        still = np.abs(newx - xa) > tol
        x[active] = newx
        nxt = active.copy()
        nxt[active] = still
        if not nxt.any():
            break
        active = nxt
    return x.astype(np.int64)


def _zipf_integral(x, s: float):
    """G(x), the function whose root ``zipf_inverse_cdf`` finds:
    key(p) ≈ G⁻¹(p · G(N)), so key v starts near id n_rows · G(v) / G(N)."""
    return (12.0 * (x ** (1.0 - s) - 1.0) / (1.0 - s) + 6.0 * (1.0 - x ** -s)
            + s * (1.0 - x ** (-1.0 - s)))


def _first_at_least(key: Callable, v: np.ndarray, guess: np.ndarray,
                    a_min: int, b_max: int):
    """For each target ``v``, the smallest id b with key(b) >= v, given
    key(a_min) < v <= key(b_max). Starts from the bracket (guess - 1,
    guess), widens it geometrically until it holds, then bisects.
    Returns (b, key(b - 1), key(b))."""
    b = np.clip(guess, a_min + 1, b_max)
    a = b - 1
    ka, kb = key(a), key(b)
    step = np.ones_like(b)
    while True:
        left = np.flatnonzero(ka >= v)  # the boundary is at or before a
        right = np.flatnonzero((kb < v) & (ka < v))  # the boundary is after b
        if not (left.size or right.size):
            break
        b[left], kb[left] = a[left], ka[left]
        a[left] = np.maximum(a[left] - step[left], a_min)
        ka[left] = key(a[left])
        a[right], ka[right] = b[right], kb[right]
        b[right] = np.minimum(b[right] + step[right], b_max)
        kb[right] = key(b[right])
        step[left] *= 2
        step[right] *= 2
    while True:
        wide = np.flatnonzero(b - a > 1)
        if not wide.size:
            break
        m = (a[wide] + b[wide]) // 2
        km = key(m)
        up = km >= v[wide]
        b[wide[up]], kb[wide[up]] = m[up], km[up]
        a[wide[~up]], ka[wide[~up]] = m[~up], km[~up]
    return b, ka, kb


def zipf_runs(
    n_rows: int,
    unique_values: int,
    s: float,
    id_lo: int = 0,
    id_hi: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The fact keys of ids ``[id_lo, id_hi)`` as runs of equal keys:
    ``(starts, keys)``, where run j covers ids ``starts[j]`` up to the
    next start (the last run: up to ``id_hi``) and every id i in it has
    key ``zipf_inverse_cdf(i / n_rows, s, N) == keys[j]``.

    Keys with at least ``_DIRECT_DENSITY`` ids each are bracketed: a
    closed-form first guess of where key v starts, then a windowed
    bisection with ``zipf_inverse_cdf`` itself, so the boundaries are exact.
    Past that point every id is evaluated. The bisection assumes the
    key is non-decreasing in the id; a boundary where the keys on both
    sides disagree with that raises ``ValueError``."""
    lo, hi = id_lo, n_rows if id_hi is None else id_hi
    if s == 1.0:
        # the reference's own matrix skips 1.0 and uses 1.01
        raise ValueError("s=1 is a pole of the approximation; use s=1.01")
    if not 0 <= lo < hi <= n_rows:
        raise ValueError(f"id slice [{lo}, {hi}) is not a non-empty part of [0, {n_rows})")
    nr, n = float(n_rows), float(unique_values)

    def key(ids):
        return zipf_inverse_cdf(np.asarray(ids, dtype=np.int64) / nr, s, n)

    g_n = _zipf_integral(n, s)
    # key v has about n_rows · 12 v^-s / G(N) ids (the leading term of
    # G'); past the v where that falls to _DIRECT_DENSITY, evaluate every
    # id. The split moves only the work, never the result.
    v_dense = np.exp(min(np.log(n), np.log(12.0 * nr / (_DIRECT_DENSITY * g_n)) / s))
    split = min(max(int(np.ceil(nr * _zipf_integral(v_dense, s) / g_n)), lo + 1), hi)

    k0, k1 = (int(k) for k in key([lo, split - 1]))
    starts, keys = [np.array([lo])], [np.array([k0])]
    last_b, last_k = lo, k0
    for c in range(k0 + 1, k1 + 1, _FINDER_CHUNK):
        v = np.arange(c, min(c + _FINDER_CHUNK, k1 + 1), dtype=np.int64)
        guess = np.ceil(nr * _zipf_integral(v.astype(np.float64), s) / g_n).astype(np.int64)
        b, k_before, k_at = _first_at_least(key, v, guess, lo, split - 1)
        step = np.diff(b, prepend=last_b)
        new = np.flatnonzero(step)
        prev_k = np.concatenate(([last_k], k_at[new][:-1]))
        bad = np.flatnonzero((step[new] < 0) | (k_before[new] != prev_k)
                             | (k_at[new] <= prev_k))
        if bad.size:
            j = new[bad[0]]
            raise ValueError(
                f"zipf run boundary at id {int(b[j])} (key {int(v[j])}): keys "
                f"{int(k_before[j])} before and {int(k_at[j])} at it do not continue "
                f"the run of key {int(prev_k[bad[0]])}; the inverse CDF is not "
                "non-decreasing there")
        if new.size:
            starts.append(b[new])
            keys.append(k_at[new])
            last_b, last_k = int(b[-1]), int(k_at[new][-1])
    if last_k != k1:
        raise ValueError(f"zipf run boundary at id {split - 1}: key {k1} there does not "
                         f"continue the run of key {last_k}")
    for c in range(split, hi, _FINDER_CHUNK):
        k = key(np.arange(c, min(c + _FINDER_CHUNK, hi), dtype=np.int64))
        new = np.flatnonzero(np.diff(k, prepend=last_k))
        starts.append(c + new)
        keys.append(k[new])
        last_k = int(k[-1])
    return np.concatenate(starts), np.concatenate(keys)


def _run_blocks(starts: np.ndarray, keys: np.ndarray, hi: int, parts: int):
    """The runs of ``[starts[0], hi)`` cut into ``parts`` partitions at
    ``spark.range``'s bounds, and each partition into ``ID_BLOCK``-id
    blocks, as an Arrow table of ``parts`` × B rows, B the most blocks
    of any partition: row p·B + j is block j of partition p, and a
    partition with fewer blocks ends in empty ones. The list columns
    ``lo``, ``hi`` and ``k`` hold each piece's id range and key."""
    import pyarrow as pa

    lo = int(starts[0])
    bounds = lo + np.arange(parts + 1, dtype=np.int64) * (hi - lo) // parts
    n_blocks = -(-np.diff(bounds) // ID_BLOCK)
    j = np.arange(n_blocks.max())
    # a padding block starts (and ends) at its partition's upper bound
    row_lo = np.where(j < n_blocks[:, None], bounds[:-1, None] + j * ID_BLOCK,
                      bounds[1:, None]).ravel()
    cuts = np.unique(row_lo[row_lo < hi])
    at = np.searchsorted(starts, cuts)
    missing = (at == starts.size) | (starts[np.minimum(at, starts.size - 1)] != cuts)
    piece_lo = np.insert(starts, at[missing], cuts[missing])
    piece_k = np.insert(keys, at[missing], keys[at[missing] - 1])
    piece_hi = np.append(piece_lo[1:], hi)
    offsets = np.searchsorted(piece_lo, np.append(row_lo, hi)).astype(np.int32)
    return pa.table({
        name: pa.ListArray.from_arrays(pa.array(offsets), pa.array(col))
        for name, col in (("lo", piece_lo), ("hi", piece_hi), ("k", piece_k))
    })


def _string_pool(length: int, rng: random.Random) -> list[str]:
    """Pool of POOL_SIZE fixed-length random strings
    (DataGenerator.java:36-46)."""
    return [
        "".join(rng.choice(ALPHABET) for _ in range(length))
        for _ in range(POOL_SIZE)
    ]


def attr_pools(
    seed: int, attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS
) -> list[list[str]]:
    """The per-attribute string pools for a seed — one seeded RNG
    consumed across all attributes, in order. Public so the catalog
    oracle can embed the identical pools as SQL literals."""
    rng = random.Random(seed)
    return [_string_pool(length, rng) for length in attr_lengths]


def _attr_columns(
    seed: int, attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS
) -> list[Column]:
    """One column expr per attribute: deterministic JVM-side pool pick
    ``pool[int(md5('id:attr:seed')[:8], 16) % POOL_SIZE]`` — md5 so the
    pick is engine-reproducible (DuckDB: ('0x' || substr(md5(...), 1,
    8))::BIGINT), unlike Spark-private xxhash64."""
    cols = []
    for idx, pool_strings in enumerate(attr_pools(seed, attr_lengths)):
        pool = F.array(*[F.lit(s) for s in pool_strings])
        digest = F.md5(
            F.concat_ws(
                ":",
                F.col("id").cast("string"),
                F.lit(str(idx)),
                F.lit(str(seed)),
            )
        )
        pick = (
            F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
            % POOL_SIZE
        ).cast("int")
        cols.append(F.element_at(pool, pick + 1).alias(f"a{idx + 1}"))
    return cols


def generate_uniform_pair(
    spark: SparkSession,
    n_rows: int,
    unique_values: int,
    seed: int = 42,
    attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """G1: both tables identical, key = i % unique_values."""
    base = spark.range(0, n_rows, numPartitions=num_partitions)
    df = base.select(
        (F.col("id") % unique_values).alias("k"), *_attr_columns(seed, attr_lengths)
    )
    return df, df


def generate_zipf_fact(
    spark: SparkSession,
    n_rows: int,
    unique_values: int,
    s: float,
    seed: int = 42,
    attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS,
    num_partitions: int | None = None,
    id_lo: int = 0,
    id_hi: int | None = None,
) -> DataFrame:
    """Fact side of G2/G4: k = zipf_inverse_cdf(i/nRows, s, N) —
    deterministic equi-spaced grid (DataGenerator.java:150).

    ``id_lo``/``id_hi`` select a slice of the id grid while keeping
    the GLOBAL ``n_rows`` denominator — the building block of
    :func:`stage_zipf_fact_chunked` (slices union to the full
    table bit-for-bit).

    The driver finds the slice's runs of equal keys (:func:`zipf_runs`)
    and ships them as an Arrow-built table of ``ID_BLOCK``-id blocks;
    the JVM explodes each block's runs and each run's ``sequence`` of
    ids. Arrow input starts no Python worker. Partition p holds the
    ids ``spark.range(id_lo, id_hi, numPartitions=num_partitions)``
    puts in its partition p (default: the default parallelism). With
    the default, a run table up to ``_LOCAL_RUN_BYTES`` is a
    LocalRelation; any other table is an RDD of one Arrow batch per
    partition and stays out of the plan."""
    id_hi = n_rows if id_hi is None else id_hi
    starts, keys = zipf_runs(n_rows, unique_values, s, id_lo, id_hi)
    default_parts = spark.sparkContext.defaultParallelism
    parts = num_partitions or default_parts
    table = _run_blocks(starts, keys, id_hi, parts)
    del starts, keys
    # a LocalRelation splits over the default parallelism, so it keeps
    # the partitioning only when that is the requested one
    local_bytes = _LOCAL_RUN_BYTES if parts == default_parts else 0
    with scoped_conf(spark, **{
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(table.num_rows // parts),
        "spark.sql.execution.arrow.localRelationThreshold": str(local_bytes),
    }):
        blocks = spark.createDataFrame(table)
    del table
    runs = blocks.select(F.inline(F.arrays_zip("lo", "hi", "k")))
    ids = runs.select(F.explode(F.sequence("lo", F.col("hi") - 1)).alias("id"), "k")
    return ids.select("k", *_attr_columns(seed, attr_lengths))


def stage_zipf_fact_chunked(
    spark: SparkSession,
    n_rows: int,
    unique_values: int,
    s: float,
    path: str,
    seed: int = 42,
    attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS,
    chunks: int = 8,
    partitions_per_chunk: int | None = None,
) -> None:
    """Stage the G2 Zipf fact to parquet in ``chunks`` INDEPENDENT
    narrow jobs (round-9 verdict directive #2 — the ≥400 M scaleup
    tail).

    The fact key is a pure narrow function of ``id`` (the
    deterministic inverse CDF ``p = i/nRows``, ``DataGenerator.
    java:150``) and the attributes are pure functions of ``id`` too,
    so the id range splits into ``chunks`` slices whose UNION is
    bit-identical to ``generate_zipf_fact(n_rows)`` — each slice keeps
    the GLOBAL ``nRows`` denominator. Each chunk is one
    runs→explode→project→write job: zero Exchange, so peak scratch is the
    in-flight parquet writer buffers, not shuffle map outputs. A
    chunk's files land before the next job starts (append mode), so
    a crash loses at most one chunk of work and — unlike one huge
    write job — no two full-data stages ever coexist on
    ``spark.local.dir`` (the exact failure that killed the 400 M
    point on a single node, ROUND9.md: ~2×|data| of coexisting map
    outputs vs ~80 GB free disk). On a real cluster the same
    chunking bounds per-executor scratch while every chunk still
    fans out across all executors. The driver holds one chunk's runs
    at a time, so chunking also bounds the run finder's memory."""
    if chunks < 1:
        raise ValueError(f"chunks must be >= 1, got {chunks}")
    step = (n_rows + chunks - 1) // chunks
    for lo in range(0, n_rows, step):
        hi = min(lo + step, n_rows)
        generate_zipf_fact(
            spark, n_rows, unique_values, s, seed, attr_lengths,
            num_partitions=partitions_per_chunk,
            id_lo=lo, id_hi=hi,
        ).write.mode("append").parquet(path)


def generate_dim(
    spark: SparkSession,
    unique_values: int,
    seed: int = 42,
    attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dim side of G2: every key 0..N-1 exactly once. The reference
    shuffles the write order (DataGenerator.java:129-135) — relationally
    a no-op, so the dim is written in key order."""
    base = spark.range(0, unique_values, numPartitions=num_partitions)
    return base.select(F.col("id").alias("k"), *_attr_columns(seed + 1, attr_lengths))


def generate_zipf_pair(
    spark: SparkSession,
    n_rows: int,
    unique_values: int,
    s: float,
    seed: int = 42,
    double_skew: bool = False,
    attr_lengths: tuple[int, ...] = DEFAULT_ATTR_LENGTHS,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """G2 (dim ⋈ fact) or G4 (double_skew: both Zipf)."""
    fact = generate_zipf_fact(
        spark, n_rows, unique_values, s, seed, attr_lengths, num_partitions
    )
    if double_skew:
        return fact, fact
    dim = generate_dim(spark, unique_values, seed, attr_lengths,
                       num_partitions=num_partitions)
    return dim, fact
