"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

- ``BENCHMARK.json`` and ``run.py`` name the same metrics with the same
  units;
- every workload, run end to end at the smoke size (sf0.001), emits every
  metric of ``BENCHMARK.json`` with its unit and passes its checks, traced
  and untraced;
- a deliberately corrupted output trips the check that guards it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402

SMOKE = 0.001


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_matches_run_py():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SMOKE)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


def test_bare_directory_fails_without_result(tmp_path):
    """Only BENCHMARK.json and perfbench/: no package to benchmark."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nb_text", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ------------------------------------------------------------------ #
# corrupted outputs trip their checks
# ------------------------------------------------------------------ #


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench_work"))
    run.pin_environment(work)
    from mahout_samsara_book_spark import get_spark

    spark = get_spark(app_name="perfbench-tests", extra_conf=run.spark_conf(work, False))
    yield spark, work
    run.stop_spark(spark)


def _ctx(session, workload):
    import fixtures
    import workloads
    from spans import Tracer

    spark, work = session
    fx = fixtures.write_all(5, SMOKE, os.path.join(work, workload), workload)
    ctx = workloads.Ctx(spark, Tracer(), fx, work, run._cores())
    return ctx, workloads


def _failed_checks(ctx) -> set:
    return {c["check"] for c in ctx.checks if not c["ok"]}


def test_corrupt_gram_trips_check(session, monkeypatch):
    ctx, wl = _ctx(session, "samsara_book")
    real = wl.Drm.gram
    monkeypatch.setattr(wl.Drm, "gram", lambda self: real(self) * (1 + 1e-4))
    wl.book_pass(ctx, wl.book_sources(ctx))
    assert _failed_checks(ctx) == {"gram_frobenius"}
    assert ctx.failed == 1


def test_corrupt_http_label_trips_check(session, monkeypatch):
    ctx, wl = _ctx(session, "nb_text")
    res = wl.nb_pass(ctx, wl.nb_sources(ctx))
    assert not _failed_checks(ctx)
    monkeypatch.setattr(wl.NBServingModel, "classify_text", lambda self, text: "xx")
    wl.serve(ctx, res)
    assert _failed_checks(ctx) == {"http_labels_eq_batch"}
    assert ctx.failed > 1  # every wrong response is a failed request too


def test_corrupt_dup_of_trips_check(session, monkeypatch):
    from pyspark.sql import functions as F

    ctx, wl = _ctx(session, "nb_text")
    real = wl.ingest_batch
    monkeypatch.setattr(
        wl, "ingest_batch",
        lambda batch, path: real(batch, path).withColumn("dup_of", F.col("dup_of") + 1),
    )
    wl.nb_pass(ctx, wl.nb_sources(ctx))
    assert _failed_checks(ctx) == {
        f"batch{i}_planted_copies_dup_of_original" for i in range(len(ctx.fx["copies"]))
    }
