"""Smoke test of the benchmark: every workload at a tiny size on
``local[2]``, in one shared session.

    python -m pytest perfbench -q

It checks that every metric named in BENCHMARK.json is printed with
its unit and that outputs are correct (err_frac == 0), that another seed
changes the inputs but not the metric names, that one corrupted span is
counted, and that the command fails cleanly outside a checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run as R  # noqa: E402
import workloads as W  # noqa: E402

SCALE = 0.05

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    os.makedirs(os.path.join(work, "eventlog"))
    spark = R.start_session(2, work, os.path.join(work, "eventlog"))
    R.ship_package(spark, ROOT, work)
    yield spark
    R.stop_session(spark)


@pytest.fixture(scope="module")
def results(session, tmp_path_factory):
    """(workload, seed, trace) → (report, parsed result line)."""
    out = {}
    for name in W.WORKLOADS:
        for seed, trace in ((1, 0), (2, 0), (1, 1)):
            work = str(tmp_path_factory.mktemp(f"{name}-{seed}-{trace}"))
            report, result = R.run(
                name, seed, 0.5, bool(trace), 2, ROOT, work, scale=SCALE, spark=session
            )
            out[name, seed, trace] = (report, json.loads(json.dumps(result)))
    return out


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_every_metric_printed_with_unit(results, workload):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        report, result = results[workload, 1, trace]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert {m["name"]: m["unit"] for m in BENCH[kind]} == {
            k: v["unit"] for k, v in result["metrics"].items()
        }
        for v in result["metrics"].values():
            assert isinstance(v["value"], (int, float))
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert report["end_to_end"]["err_frac"] == 0
    e2e = results[workload, 1, 0][0]["end_to_end"]
    assert e2e["pages_per_s"] > 0
    assert ("recover_s" in e2e) == (workload == "forms-resume")


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_seed_changes_inputs_not_metric_names(results, workload):
    a, ra = results[workload, 1, 0]
    b, rb = results[workload, 2, 0]
    assert a["input_digest"] != b["input_digest"]
    assert set(ra["metrics"]) == set(rb["metrics"])
    assert set(a["end_to_end"]) == set(b["end_to_end"])


def test_layers_measured_where_they_run(results):
    layers = {w: results[w, 1, 1][1]["metrics"] for w in W.WORKLOADS}

    def v(w, k):
        return layers[w][k]["value"]

    for w in ("forms-uniform", "forms-resume", "native-skewed"):
        assert v(w, "plans.extract.doc_ms") > 0 and v(w, "sources.decoder.ms_per_page") > 0
    assert v("forms-uniform", "plans.questions.ms_per_page") > 0
    assert v("native-skewed", "sources.kernels.preprocess_ms_per_page") > 0
    assert v("native-skewed", "sources.perception.ocr_ms_per_page") > 0
    assert v("forms-uniform", "sources.kernels.preprocess_ms_per_page") == 0
    n_groups = -(-W.FormsResume.n_buckets // W.FormsResume.group_size)
    # forms-uniform's traced run carries the checkpoint job as a step
    for w in ("forms-resume", "forms-uniform"):
        assert v(w, "streaming.checkpoint.groups_run") == n_groups
        assert v(w, "streaming.checkpoint.redo_frac") == 1
        assert v(w, "streaming.checkpoint.recover_s") > 0
    assert v("native-skewed", "streaming.checkpoint.groups_run") == 0
    for op in ("dedup.exact_s", "dedup.minhash_lsh_s", "webextract.main_content_s"):
        assert v("forms-uniform", f"operators.{op}") > 0
        assert v("native-skewed", f"operators.{op}") == 0
    for w in W.WORKLOADS:
        assert v(w, "spark.jobs") >= 1 and v(w, "spark.tasks") >= 1
        assert v(w, "trace.overhead_frac") > 0
    assert v("forms-uniform", "spark.python_mb") > 0


def test_one_corrupted_span_raises_err_frac(session, tmp_path):
    wl = W.FormsUniform(3, SCALE, str(tmp_path))
    wl.generate()
    wl.expect()
    wl.run_once(session)
    assert wl.check() == (wl.n_docs, 0)

    spans = pd.read_parquet(wl.out_path)
    victim = sorted(wl.expected)[0]
    row = spans.index[spans["doc_id"] == victim][-1]
    spans.loc[row, "text"] = spans.loc[row, "text"] + "x"
    shutil.rmtree(wl.out_path)
    os.makedirs(wl.out_path)
    spans.to_parquet(os.path.join(wl.out_path, "part-0.parquet"), index=False)

    n, failed = wl.check()
    assert failed == 1 and n == wl.n_docs


def test_fails_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "forms-uniform", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
