"""Very-large generated-join soak (round-7 directive #3): complete
BASELINE.md's last column by running the reference's dim ⋈ zipf-fact
workload at ≥1 B rows on this single local[32] node — the reference's
largest published cell is 2 B rows / skew 0.5 at 664 s (repartition)
on a 17-node, 3 TB-RAM cluster (`data/results 2018-09-22
23:50:03_large_0,5.csv:11`).

Workload identical to bench.py's zipf block (same generator, same
attrs (20, 100, 80) from 100-string pools — JoinSimulation.java:91-93
— same seed), generation + parquet staging timed separately from each
join, joins repeated ``--repeats``× with the bench's CPU calibration
anchor before each wave so contention is visible in the artifact.

Memory/disk budget notes for local[32] (128 GiB RAM, ~79 GB free disk):

  * staged parquet stays small (pool strings dictionary-encode to
    ~2 B/value; measured sizes are recorded in the artifact);
  * the SHUFFLE is the budget: a repartition join of 1 B fact rows
    serializes full ~208-byte rows. Measured at 50 M rows: lz4 (the
    default) writes 117 B/row (~129 GB at 1 B — over this node's
    79 GB free disk), zstd level 3 writes 14 B/row (~15 GB at 1 B)
    at equal wall time — so this harness pins
    ``spark.io.compression.codec=zstd``, exactly the knob a real
    cluster ops team reaches for on wide shuffles, and forces a JVM
    GC between runs so finished shuffle files are reclaimed before
    the next strategy writes its own;
  * ``spark.sql.shuffle.partitions`` scales with rows
    (max(256, rows/1M)): the merge strategy's per-task sort must fit
    the task's slice of executor memory — at 1 B rows and 32
    partitions each task would sort ~6 GB and spill pathologically;
  * the full dim (rows/10 = 100 M rows ≈ 20 GB as broadcast rows)
    is far past the engine's broadcast byte budget — the broadcast
    strategy is expected to REFUSE (operators/joins.py's explicit
    budget check mirroring the reference's 3.8 GB cliff, which the
    reference hit as a GC death). The refusal is recorded as the
    result, and a second broadcast cell runs with ``--broadcast-dim``
    (default 10 M rows) — the largest dim the budget admits — so the
    strategy still gets a timed very-large cell.

Results write INCREMENTALLY to LARGE_SOAK.json.

Usage: python tools/large_soak.py [--rows 1000000000] [--skew 0.5]
       [--repeats 2] [--out LARGE_SOAK.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                ".."))

from bench import calibration_anchor, materialize  # noqa: E402
from mapreduce_join_comparison_spark.generator import (  # noqa: E402
    ZIPF_STAGE_CHUNK_ROWS,
    generate_dim,
    stage_zipf_fact_chunked,
)
from mapreduce_join_comparison_spark.operators.joins import (  # noqa: E402
    equi_join,
)
from mapreduce_join_comparison_spark.session import (  # noqa: E402
    LOCAL_SKEW_CONF,
    get_spark,
    scoped_conf,
)


def _du_gb(path: str) -> float:
    try:
        out = subprocess.run(["du", "-sb", path], capture_output=True,
                             text=True, check=True).stdout
        return round(int(out.split()[0]) / 1e9, 2)
    except Exception:
        return -1.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--rows", type=int, default=1_000_000_000)
    ap.add_argument("--skew", type=float, default=0.5)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--broadcast-dim", type=int, default=10_000_000)
    ap.add_argument("--stage", default="/tmp/large_soak_stage")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(__file__), "..", "LARGE_SOAK.json"))
    ap.add_argument("--keep-stage", action="store_true")
    args = ap.parse_args()

    record: dict = {
        "rows": args.rows,
        "dim_rows": args.rows // 10,
        "skew": args.skew,
        "repeats": args.repeats,
        "node": "local[32], 128 GiB RAM, single NVMe",
        "reference_cell": "2B rows / skew 0.5: repartition 664 s on a "
                          "17-node 3 TB-RAM cluster (data/results "
                          "2018-09-22 23:50:03_large_0,5.csv:11)",
        "anchors": [], "join": {},
    }

    def flush() -> None:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)

    n_part = max(256, args.rows // 1_000_000)
    record["shuffle_partitions"] = n_part
    spark = get_spark(app_name="large-soak", extra_conf={
        "spark.driver.memory":
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # see the disk-budget note: zstd writes 14 B/row on the pool
        # strings vs lz4's 117 B/row, same wall time
        "spark.io.compression.codec": "zstd",
        # smaller reduce partitions keep the merge strategy's per-task
        # sort in memory at 1B rows
        "spark.sql.shuffle.partitions": str(n_part),
    })
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(args.stage, exist_ok=True)
    t0 = time.monotonic()
    # the fact stages in chunks that append, so clear an earlier run's;
    # chunking bounds the driver's Zipf run table (generator.py)
    shutil.rmtree(os.path.join(args.stage, "fact"), ignore_errors=True)
    stage_zipf_fact_chunked(
        spark, args.rows, max(1, args.rows // 10), args.skew,
        os.path.join(args.stage, "fact"), seed=42,
        chunks=-(-args.rows // ZIPF_STAGE_CHUNK_ROWS),
    )
    generate_dim(spark, max(1, args.rows // 10), seed=42) \
        .write.mode("overwrite").parquet(os.path.join(args.stage, "dim"))
    record["generate_stage_sec"] = round(time.monotonic() - t0, 3)
    record["staged_fact_gb"] = _du_gb(os.path.join(args.stage, "fact"))
    record["staged_dim_gb"] = _du_gb(os.path.join(args.stage, "dim"))
    print(f"generated+staged in {record['generate_stage_sec']}s "
          f"(fact {record['staged_fact_gb']} GB, "
          f"dim {record['staged_dim_gb']} GB)", flush=True)
    flush()

    fact = spark.read.parquet(os.path.join(args.stage, "fact"))
    dim = spark.read.parquet(os.path.join(args.stage, "dim"))
    dimsel = dim.selectExpr("k AS dk", "a1 AS d1")

    # the budget-capped broadcast cell uses a freshly generated small
    # dim (same pools/seed discipline), staged once
    t0 = time.monotonic()
    bdim = generate_dim(spark, args.broadcast_dim, seed=42)
    bdim.write.mode("overwrite").parquet(os.path.join(args.stage, "bdim"))
    bdim = spark.read.parquet(os.path.join(args.stage, "bdim")) \
        .selectExpr("k AS dk", "a1 AS d1")
    record["broadcast_dim_stage_sec"] = round(time.monotonic() - t0, 3)
    flush()

    runs: dict[str, list[float]] = {}
    with scoped_conf(spark, **LOCAL_SKEW_CONF):
        for wave in range(args.repeats):
            record["anchors"].append(calibration_anchor(spark))
            flush()
            for strategy, d in (("repartition", dimsel),
                                ("merge", dimsel),
                                ("broadcast_capped_dim", bdim)):
                phys = strategy.split("_")[0]
                t0 = time.monotonic()
                try:
                    materialize(equi_join(fact, d, "k", "dk",
                                          "inner", phys))
                    dt = round(time.monotonic() - t0, 3)
                    runs.setdefault(strategy, []).append(dt)
                    print(f"wave {wave} {strategy}: {dt}s", flush=True)
                except Exception as e:  # noqa: BLE001
                    runs.setdefault(strategy, []).append(float("nan"))
                    record["join"].setdefault(strategy, {})["error"] = \
                        str(e)[:300]
                    print(f"wave {wave} {strategy}: ERROR {e}", flush=True)
                record["shuffle_dir_gb"] = max(
                    record.get("shuffle_dir_gb", 0.0),
                    _du_gb("/tmp"))
                # reclaim the finished run's shuffle files before the
                # next strategy writes its own (ContextCleaner acts on
                # JVM GC; without this, N runs' files coexist on disk)
                spark.sparkContext._jvm.System.gc()
                record["join"][strategy] = {
                    **record["join"].get(strategy, {}),
                    "runs": runs[strategy],
                    "best": min((r for r in runs[strategy]
                                 if r == r), default=None),
                    "median": (round(statistics.median(
                        [r for r in runs[strategy] if r == r]), 3)
                        if any(r == r for r in runs[strategy]) else None),
                }
                flush()
        # the full-dim broadcast: expected REFUSAL at this scale —
        # record whichever happens
        t0 = time.monotonic()
        try:
            materialize(equi_join(fact, dimsel, "k", "dk", "inner",
                                  "broadcast"))
            record["join"]["broadcast_full_dim"] = {
                "runs": [round(time.monotonic() - t0, 3)]}
        except Exception as e:  # noqa: BLE001
            record["join"]["broadcast_full_dim"] = {
                "refused": str(e)[:400],
                "note": "explicit byte-budget refusal (the reference's "
                        "equivalent cell GC-died; SURVEY Q1)",
            }
        flush()

    if not args.keep_stage:
        shutil.rmtree(args.stage, ignore_errors=True)
    print(json.dumps({k: v for k, v in record["join"].items()}, indent=1),
          flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
