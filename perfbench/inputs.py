"""Seeded benchmark inputs.

Every input is a pure function of the seed: the same seed writes the
same bytes, and the program under test only ever sees the files.

* ``write_corpus`` writes ``documents.parquet`` and
  ``embeddings.parquet`` with ``tools/gen_sf1.py``'s generators: the
  column names, types and distributions of the catalog's test tables,
  with exact and near duplicates injected at fixed strides so the
  dedup operators have pairs to find.
* ``stage_zipf`` builds the reference's dim/fact pair through the
  package's own generator and stages both sides to parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from gen_sf1 import gen_documents, gen_embeddings  # tools/, on sys.path


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write the dedup workload's tables; returns rows per table."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": gen_documents(n_docs, rng),
        "embeddings": gen_embeddings(n_vecs, rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def stage_zipf(spark, out_dir: str, seed: int, fact_rows: int, dim_rows: int,
               skew: float) -> dict[str, str]:
    """Generate the dim/fact pair with the package generator and stage
    both to parquet; returns the staged paths."""
    from mapreduce_join_comparison_spark.generator import generate_zipf_pair

    dim, fact = generate_zipf_pair(spark, fact_rows, dim_rows, s=skew, seed=seed)
    paths = {"fact": os.path.join(out_dir, "fact"), "dim": os.path.join(out_dir, "dim")}
    fact.write.parquet(paths["fact"])
    dim.write.parquet(paths["dim"])
    return paths
