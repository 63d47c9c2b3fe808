"""Self-tests of the benchmark: deterministic generators, checks that
flag corrupted outputs, and the run's exit codes.

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests start Spark (about a minute each).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_generators_are_byte_identical_per_seed(tmp_path):
    for name, make in (
        ("fvecs", lambda d, s: gen.fvecs_mixture(d, s, 500, 8, 4, 5, 1.0)),
        ("docs", lambda d, s: gen.dedup_corpus(d, s, 50, 2, 40, 4)),
    ):
        a, b, c = (str(tmp_path / f"{name}-{i}") for i in range(3))
        make(a, 7)
        make(b, 7)
        make(c, 8)
        assert _digest(a) == _digest(b)
        assert _digest(a) != _digest(c)
        assert len(os.listdir(a if name == "fvecs" else os.path.join(a, "base"))) >= 4


def _exact_graph(x: np.ndarray, k: int):
    d = ((x[:, None, :].astype(np.float64) - x[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1, kind="stable")[:, :k]
    src = np.repeat(np.arange(len(x)), k)
    return np.stack([src, nn.ravel()], axis=1), d[src, nn.ravel()]


def test_graph_checks_flag_every_corruption():
    x = np.random.default_rng(0).normal(size=(60, 4)).astype(np.float32)
    edges, dist = _exact_graph(x, 5)
    assert workloads.graph_problems(x, edges, dist, 5) == []
    assert workloads.exact_recall(x, edges, 5) == 1.0

    dropped = workloads.graph_problems(x, edges[1:], dist[1:], 5)
    assert any("out-edges" in p for p in dropped)
    looped = edges.copy()
    looped[0, 1] = looped[0, 0]
    assert any("self-loops" in p for p in workloads.graph_problems(x, looped, dist, 5))
    skewed = dist.copy()
    skewed[3] *= 1.01
    assert any("dist_sq" in p for p in workloads.graph_problems(x, edges, skewed, 5))
    shuffled = edges.copy()
    shuffled[:, 1] = np.random.default_rng(1).permutation(shuffled[:, 1])
    assert workloads.exact_recall(x, shuffled, 5) < 0.5


def _shingles(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_planted_dedup_truth_matches_exact_jaccard(tmp_path):
    """The generator's truth equals a brute-force replay of the stream
    semantics: in-batch exact dedup (lowest id), then exact word-3-gram
    Jaccard >= 0.5 against the base and earlier survivors."""
    inp = gen.dedup_corpus(str(tmp_path), 3, 120, 3, 60, 4)
    corpus = [
        _shingles(t)
        for p in sorted(glob.glob(os.path.join(inp.base_dir, "*.parquet")))
        for t in pq.read_table(p).column("text").to_pylist()
    ]
    for path, want in zip(inp.batch_files, inp.truth):
        with open(path) as f:
            docs = [json.loads(line) for line in f]
        first: dict[str, int] = {}
        for d in docs:
            first[d["text"]] = min(first.get(d["text"], d["doc_id"]), d["doc_id"])
        kept = [d for d in docs if first[d["text"]] == d["doc_id"]]
        survivors = set()
        for d in kept:
            s = _shingles(d["text"])
            if all(len(s & c) / len(s | c) < 0.5 for c in corpus):
                survivors.add(d["doc_id"])
        assert survivors == want
        corpus += [_shingles(d["text"]) for d in kept if d["doc_id"] in survivors]
        assert len(survivors) < len(docs)  # every batch plants drops


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_corrupted_output_is_flagged_with_nonzero_exit():
    proc = _run(ROOT, "--workload", "mrdf_build", "--seed", "1", "--seconds", "1",
                "--trace", "0", "--corrupt")
    assert proc.returncode != 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert "out-edges" in proc.stderr


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "mrdf_build", "--seed", "1",
                "--seconds", "10", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
