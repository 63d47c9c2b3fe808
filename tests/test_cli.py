"""CLI parity smoke: the reference's main.py/getrecall.py workflow
(bruteforce → mrdf → recall) runs end-to-end through our CLIs."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_cli_workflow(tmp_path):
    from pyspark_mrdf_spark.sources.fvecs import write_fvecs_local

    fv = str(tmp_path / "v.fvecs")
    rng = np.random.default_rng(5)
    write_fvecs_local(fv, rng.normal(size=(150, 8)).astype(np.float32))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "8"}

    def run(*args):
        return subprocess.run(
            [sys.executable, *args], cwd=REPO, env=env, capture_output=True,
            text=True, timeout=300,
        )

    r1 = run("scripts/mrdf_cli.py", "--inputfile", fv, "--outputfile",
             str(tmp_path / "knn"), "--k", "5", "--bruteforce")
    assert r1.returncode == 0 and "Total time taken" in r1.stdout
    r2 = run("scripts/mrdf_cli.py", "--inputfile", fv, "--outputfile",
             str(tmp_path / "mrdf"), "--k", "5", "--alpha", "80",
             "--rho", "3", "--maxiterations", "3")
    assert r2.returncode == 0 and "Running MRDF" in r2.stdout
    r3 = run("scripts/recall_cli.py", "--knn", str(tmp_path / "knn"),
             "--mrdf", str(tmp_path / "mrdf"))
    assert r3.returncode == 0
    recall = float(r3.stdout.split("Recall:")[1].strip())
    assert recall >= 0.8


def test_pipeline_demo_end_to_end(tmp_path):
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "scripts/pipeline_demo.py", "/root/testdata/sf0.001", str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    s = rec["stages"]
    # monotone pipeline: each stage keeps a subset
    assert s["ingested"] >= s["quality_pass"] >= s["lm_band_pass"] >= s["after_exact_dedup"] >= s["canonical"] >= s["mixture_sampled"] == s["rows_written"]
    assert s["rows_written"] > 0 and s["shards_written"] > 0
    # the ExactSubstr scrub did real work on the planted duplicates
    assert s["scrubbed_chars_removed"] > 0


def test_scalability_rejects_synthetic_n_below_alpha():
    # the synthetic point needs N >= alpha for its division tiers to run;
    # the CLI refuses a smaller N before it starts a Spark session
    out = subprocess.run(
        [sys.executable, "scripts/scalability.py", "--synthetic-n", "12000"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 2
    assert "--synthetic-n must be at least the synthetic point's alpha = 16384" in out.stderr
    assert "log4j" not in out.stderr  # the JVM never started


def test_scalability_sweep_smoke():
    # the W6 sweep at its smallest scale factor: one point, the keys of
    # the committed SCALABILITY.json row, and MRDF recall at that row's
    # level (1.0 committed)
    import json

    out = subprocess.run(
        [sys.executable, "scripts/scalability.py", "sf0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["metric"] == "scalability_sweep" and len(rec["points"]) == 1
    with open(os.path.join(REPO, "SCALABILITY.json")) as fh:
        committed = next(p for p in json.load(fh)["points"] if p["sf"] == "sf0.001")
    pt = rec["points"][0]
    assert pt.keys() == committed.keys()
    assert pt["sf"] == "sf0.001" and pt["n"] == 500
    assert pt["mrdf_recall"] >= 0.99
