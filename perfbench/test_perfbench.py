"""Tests of the benchmark itself (not of the engine it measures).

    python -m pytest perfbench/ -q

Each test that calls ``run.run`` starts and stops its own Spark JVM, so
the file takes a few minutes.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


class Probe(workloads.Workload):
    """Three operations over ``spark.range``: one correct, one that
    raises, and one that returns a wrong result."""

    ROWS = 1000

    def __init__(self, seed, data_dir):
        super().__init__(seed, data_dir, self.ROWS)

    def build(self, spark):
        pass

    def ops(self, spark):
        def boom():
            raise RuntimeError("forced failure")

        return [
            workloads.Op("good", lambda: spark.range(self.ROWS).selectExpr("id % 7 AS k")),
            workloads.Op("raises", boom),
            workloads.Op("wrong", lambda: spark.range(self.ROWS - 1).selectExpr("id % 7 AS k")),
        ]

    def verify(self, spark, name, df):
        n = df.count()
        return None if n == self.ROWS else f"{n} rows, expected {self.ROWS}"


def small_zipf(name, seed, data_dir):
    return workloads.ZipfJoin(seed, data_dir, fact_rows=200_000, dim_rows=20_000)


@pytest.fixture(autouse=True)
def _in_tmp(tmp_path, monkeypatch):
    """run.run puts its scratch dir under the cwd and points the process
    environment and ``tempfile`` at it; undo both after each test."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    env = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(env)


def test_failed_operations_count_as_failures_never_as_times():
    res = run.run("probe", 1, 0.0, False, make=lambda name, seed, d: Probe(seed, d))
    d = res["detail"]
    assert not res["correct"]
    # 1 + MIN_WARM passes of 3 operations, then 3 verifications
    passes = 1 + run.MIN_WARM
    assert res["attempted"] == 3 * passes + 3
    # "raises" fails in every pass and has no output to verify;
    # "wrong" runs, then fails verification
    assert res["failed"] == passes + 2
    assert d["failed_frac"] == res["failed"] / res["attempted"]
    assert "raises" not in d["op_s"]
    assert d["verified"]["good"] == "ok"
    assert d["verified"]["wrong"] == "999 rows, expected 1000"
    assert any("forced failure" in e for e in d["errors"])
    assert all(t is None for t in d["pass_s"])
    assert all(v is None for v in res["metrics"].values())
    assert not os.path.exists(".perfbench")


def test_status_store_read_failure_is_an_error_not_zero(monkeypatch):
    def unreadable(self, path):
        raise spans.TraceReadError(f"status store read {path!r} failed: refused")

    monkeypatch.setattr(spans.Tracer, "_get", unreadable)
    res = run.run("zipf_join", 1, 0.0, True, make=small_zipf)
    assert not res["correct"]
    d = res["detail"]
    assert any("status store read" in e for e in d["errors"])
    # no traced pass produced layer numbers, and none were filled with 0
    assert d["traced_metrics"] and all(m is None for m in d["traced_metrics"])
    assert all(v is None for v in res["metrics"].values())


@pytest.mark.parametrize("workload, ops, load_calls", [
    ("zipf_join", {"repartition", "broadcast", "merge"}, 0),
    # the one workload whose construction starts jobs, some of them from
    # a thread pool without the span's job group; each key loads one table
    ("catalog_dedup", set(workloads.DEDUP_KEYS), 2),
])
def test_traced_run_covers_untraced_time_and_counts_repeat(workload, ops, load_calls):
    # full size: at 200k rows the noop sink's fixed per-write cost alone
    # puts the untraced broadcast join ~30% above its traced time
    res = run.run(workload, 1, 0.0, True)
    assert res["correct"], res["detail"]["errors"]
    d, m = res["detail"], res["metrics"]
    assert d["count_drift"] == {}, d["count_drift"]
    assert m["scheduler.jobs"] > 0 and m["py4j.calls"] > 0
    assert m["sources.load_table_calls"] == load_calls
    if workload == "catalog_dedup":
        assert m["operators.construct_jobs"] > 0
        assert 0 < m["operators.construct_job_s"] < m["operators.construct_s"]
    # the traced construct + Catalyst + execute times of each operation
    # add up to its untraced time (0.86-1.03 measured; the margin absorbs
    # host-load noise on 0.3-3 s operations timed over two traced passes)
    assert set(d["coverage"]) == ops
    for op, ratio in d["coverage"].items():
        assert 0.8 < ratio < 1.2, (op, d["coverage"], d["pass_s"], d["traced_pass_s"])
    # every operation span has the three children, and they share the pass id
    op_spans = [i for i, s in enumerate(d["spans"]) if s["name"] == "op"]
    for i in op_spans:
        kids = [s for s in d["spans"] if s["parent"] == i]
        assert [s["name"] for s in kids] == ["construct", "catalyst", "execute"]
        assert {s["pass_id"] for s in kids} == {d["spans"][i]["pass_id"]}


def test_inputs_are_a_function_of_the_seed(tmp_path):
    blobs = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        (tmp_path / tag).mkdir()
        inputs.write_corpus(str(tmp_path / tag), seed, 300, 120)
        blobs[tag] = [(tmp_path / tag / f"{t}.parquet").read_bytes()
                      for t in ("documents", "embeddings")]
    assert blobs["a"] == blobs["b"]
    assert blobs["a"][0] != blobs["c"][0] and blobs["a"][1] != blobs["c"][1]


def test_steady_drops_only_falling_warmup_passes():
    assert run.steady([10.0, 8.0, 7.0, 7.1, 6.9]) == ([7.0, 7.1, 6.9], 2)
    assert run.steady([7.0, 7.1, 6.9]) == ([7.0, 7.1, 6.9], 0)
    assert run.steady([9.0, 8.0]) == ([9.0, 8.0], 0)


def test_union_of_intervals():
    assert spans._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans._union([]) == 0
