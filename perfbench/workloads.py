"""Benchmark workloads: what each one runs, how its inputs are built,
and how every operation's output is verified.

Each workload loads one layer of the engine heavily and the others
lightly; WORKLOADS.md beside this file records why each was chosen and
the spread measured on it.

* ``zipf_join`` is the reference's core experiment: a Zipf(s=1.2) fact
  table joined to a dim that holds every key once, under the
  ``repartition``, ``broadcast`` and ``merge`` strategies of
  ``operators.joins.equi_join`` with ``session.LOCAL_SKEW_CONF``
  applied. It is execution-bound: shuffle, sort, hash build and AQE
  skew splitting do the work, plan construction is a few Py4J calls,
  and it is the only workload whose set-up generates data with Spark.
* ``catalog_dedup`` runs the prefix-filter and MinHash-LSH dedup
  catalog queries through ``queries_catalog.QUERIES``. It is construction-heavy: the query
  callables make thousands of Py4J calls and run eager jobs
  (prefix-index writes into the warehouse) before the returned plan
  executes.

An operation is one call into the package's public entry points that
returns a DataFrame; the runner times its construction and its
materialization through the ``noop`` sink.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Callable

import inputs

ZIPF_FACT_ROWS = 1_000_000
ZIPF_DIM_ROWS = 100_000
ZIPF_SKEW = 1.2
ZIPF_STRATEGIES = ("repartition", "broadcast", "merge")

DEDUP_DOCS = 500
DEDUP_VECS = 250
DEDUP_KEYS = ("dedup_prefix_filter_indexed", "dedup_minhash_lsh")


@dataclass
class Op:
    name: str
    construct: Callable[[], object]  # returns a DataFrame


@dataclass
class Workload:
    """A workload bound to one input directory.

    ``build`` creates the inputs under ``data_dir`` and ``ops`` returns
    the operations over them; ``verify`` checks the full output of one
    operation's DataFrame and returns an error message or None.
    ``pass_rows`` is the input rows one pass reads, for ``rows_per_s``;
    ``staged_by_generator`` says the package's generator builds the
    inputs, so set-up time is that layer's time.
    """

    seed: int
    data_dir: str
    pass_rows: int = 0
    staged_by_generator = False

    def build(self, spark) -> None:
        raise NotImplementedError

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def verify(self, spark, name: str, df) -> str | None:
        raise NotImplementedError

    def pass_conf(self) -> dict[str, str]:
        return {}


class ZipfJoin(Workload):
    staged_by_generator = True

    def __init__(self, seed: int, data_dir: str, fact_rows: int = ZIPF_FACT_ROWS,
                 dim_rows: int = ZIPF_DIM_ROWS):
        super().__init__(seed, data_dir, fact_rows * len(ZIPF_STRATEGIES))
        self.fact_rows = fact_rows
        self.dim_rows = dim_rows
        self.paths: dict[str, str] = {}
        self._hashes: dict[str, int] = {}

    def build(self, spark) -> None:
        self.paths = inputs.stage_zipf(
            spark, self.data_dir, self.seed, self.fact_rows, self.dim_rows, ZIPF_SKEW)

    def pass_conf(self) -> dict[str, str]:
        from mapreduce_join_comparison_spark.session import LOCAL_SKEW_CONF

        return dict(LOCAL_SKEW_CONF)

    def ops(self, spark) -> list[Op]:
        from mapreduce_join_comparison_spark.operators.joins import equi_join

        fact = spark.read.parquet(self.paths["fact"])
        dim = spark.read.parquet(self.paths["dim"])

        def op(strategy: str) -> Op:
            return Op(strategy, lambda: equi_join(
                fact, dim.selectExpr("k AS dk", "a1 AS d1"), "k", "dk", "inner", strategy))

        return [op(s) for s in ZIPF_STRATEGIES]

    def verify(self, spark, name: str, df) -> str | None:
        """Every fact row matches exactly one dim row, so each strategy
        returns the fact row count; all strategies agree on an
        order-independent value hash of the whole output."""
        cols = ", ".join(sorted(df.columns))
        n, h = df.selectExpr(
            "count(*)", f"sum(cast(xxhash64({cols}) AS decimal(38, 0)))").first()
        if n != self.fact_rows:
            return f"{n} rows, expected {self.fact_rows}"
        self._hashes[name] = int(h)
        others = {s: v for s, v in self._hashes.items() if v != int(h)}
        if others:
            return f"value hash {int(h)} differs from {others}"
        return None


class CatalogDedup(Workload):
    """The dedup catalog keys over a seeded corpus, verified
    against their DuckDB oracles with the normalizer of
    ``tools/parity_check.py``."""

    def __init__(self, seed: int, data_dir: str):
        super().__init__(seed, data_dir)
        self.table_rows: dict[str, int] = {}

    def build(self, spark) -> None:
        from mapreduce_join_comparison_spark.queries_catalog import ORACLES

        self.table_rows = inputs.write_corpus(self.data_dir, self.seed, DEDUP_DOCS, DEDUP_VECS)
        # a key reads the tables its oracle reads
        self.pass_rows = sum(rows for key in DEDUP_KEYS for table, rows in self.table_rows.items()
                             if re.search(rf"\b{table}\b", ORACLES[key]))

    def ops(self, spark) -> list[Op]:
        from mapreduce_join_comparison_spark import queries_catalog

        def op(key: str) -> Op:
            fn = queries_catalog.QUERIES[key]
            return Op(key, lambda: fn(spark, self.data_dir))

        return [op(k) for k in DEDUP_KEYS]

    def verify(self, spark, name: str, df) -> str | None:
        import duckdb
        from mapreduce_join_comparison_spark.queries_catalog import ORACLES
        from parity_check import normalize

        cols = sorted(df.columns)
        got = sorted((tuple(normalize(r[c]) for c in cols) for r in df.collect()), key=repr)
        con = duckdb.connect()
        try:
            for table in self.table_rows:
                path = os.path.join(self.data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            res = con.execute(ORACLES[name])
            names = [d[0] for d in res.description]
            order = sorted(range(len(names)), key=lambda i: names[i])
            want = sorted((tuple(normalize(row[i]) for i in order) for row in res.fetchall()),
                          key=repr)
        finally:
            con.close()
        if cols != [names[i] for i in order]:
            return f"columns {cols} != oracle {sorted(names)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if got != want:
            i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
            return f"sorted row {i} differs: {got[i]!r} != oracle {want[i]!r}"
        return None


def make(name: str, seed: int, data_dir: str) -> Workload:
    if name == "zipf_join":
        return ZipfJoin(seed, data_dir)
    if name == "catalog_dedup":
        return CatalogDedup(seed, data_dir)
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")


WORKLOADS = ("zipf_join", "catalog_dedup")
