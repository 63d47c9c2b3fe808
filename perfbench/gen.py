"""Seeded input generators. The same seed gives byte-identical files;
generation runs before any timed section and is never measured.

Vectors are written in the TexMex fvecs layout (per record: int32 dim,
then dim float32), documents as parquet (base corpus) and JSON lines
(incoming stream batches, one file per batch).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def fvecs_mixture(out_dir: str, seed: int, n: int, dim: int, n_files: int,
                  clusters: int, spread: float) -> np.ndarray:
    """Gaussian mixture of ``n`` float32 vectors as ``n_files`` fvecs
    shards (``part-00000.fvecs`` ...; global ids follow file order).
    ``spread`` is the centre scale relative to unit within-cluster
    noise: smaller means more overlap, so recall drops below 1.0."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(clusters, dim)) * spread
    labels = rng.integers(0, clusters, n)
    x = (centres[labels] + rng.normal(size=(n, dim))).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = x[bounds[i]:bounds[i + 1]]
        rec = np.empty((len(part), dim + 1), dtype=np.float32)
        rec[:, 0] = np.array([dim], dtype=np.int32).view(np.float32)[0]
        rec[:, 1:] = part
        rec.tofile(os.path.join(out_dir, f"part-{i:05d}.fvecs"))
    return x


@dataclass
class DedupInputs:
    base_dir: str
    batch_dir: str
    batch_files: list[str]
    # survivors per stream batch under the operator's semantics
    truth: list[set[int]] = field(default_factory=list)
    input_bytes: int = 0


def dedup_corpus(out_dir: str, seed: int, n_base: int, n_batches: int,
                 batch_size: int, n_files: int, words: int = 60,
                 vocab: int = 50_000) -> DedupInputs:
    """Word-soup base corpus (``n_files`` parquet parts) plus
    ``n_batches`` JSON-lines batch files carrying planted duplicate
    families. Survivors are known by construction, following
    ``near_ingest_dedup_stream``: a batch first keeps the lowest id of
    each exact-text family, then drops every doc whose word-3-gram
    Jaccard with the base corpus or an earlier batch's survivors
    reaches 0.5. Near pairs inside one batch both survive.

    Near copies append one word to a ``words``-word text (Jaccard
    (w-2)/(w-1) ~ 0.98), so the index's 4x2 MinHash banding misses
    one with probability ~1e-6; random soup over ``vocab`` words never
    collides."""
    rng = np.random.default_rng(seed)

    def soup() -> str:
        return " ".join(f"w{i}" for i in rng.integers(0, vocab, words))

    def near(text: str) -> str:
        return f"{text} x{int(rng.integers(0, vocab))}"

    base_dir = os.path.join(out_dir, "base")
    batch_dir = os.path.join(out_dir, "batches")
    os.makedirs(base_dir, exist_ok=True)
    os.makedirs(batch_dir, exist_ok=True)
    base = [soup() for _ in range(n_base)]
    bounds = np.linspace(0, n_base, n_files + 1).astype(int)
    for i in range(n_files):
        ids = np.arange(bounds[i], bounds[i + 1], dtype=np.int64)
        pq.write_table(
            pa.table({"doc_id": ids, "text": [base[j] for j in ids]}),
            os.path.join(base_dir, f"part-{i:05d}.parquet"),
        )
    out = DedupInputs(base_dir, batch_dir, [])
    out.input_bytes = sum(len(t) for t in base)

    admitted: list[str] = []  # texts of earlier batches' survivors
    next_id = 1_000_000
    for b in range(n_batches):
        docs: list[tuple[int, str]] = []
        keep: set[int] = set()

        def add(text: str, survives: bool) -> None:
            nonlocal next_id
            docs.append((next_id, text))
            if survives:
                keep.add(next_id)
            next_id += 1

        # one family per slot, cycling; sized so every kind appears
        kinds = ("novel", "novel", "base_exact", "base_near", "batch_exact",
                 "batch_near_pair", "earlier_near", "novel")
        while len(docs) < batch_size:
            kind = kinds[len(docs) % len(kinds)]
            if kind == "novel" or (kind == "earlier_near" and not admitted):
                add(soup(), True)
            elif kind == "base_exact":
                add(base[int(rng.integers(0, n_base))], False)
            elif kind == "base_near":
                add(near(base[int(rng.integers(0, n_base))]), False)
            elif kind == "batch_exact":  # lowest id of the family survives
                t = soup()
                add(t, True)
                add(t, False)
            elif kind == "batch_near_pair":  # in-batch near pairs pass through
                t = soup()
                add(t, True)
                add(near(t), True)
            else:  # earlier_near
                add(near(admitted[int(rng.integers(0, len(admitted)))]), False)
        path = os.path.join(batch_dir, f"batch-{b:05d}.json")
        with open(path, "w") as f:
            for doc_id, text in docs:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        # the file source orders by modification time: pin it
        os.utime(path, (1_000_000_000 + b, 1_000_000_000 + b))
        out.batch_files.append(path)
        out.truth.append(keep)
        out.input_bytes += sum(len(t) for _, t in docs)
        admitted += [t for i, t in docs if i in keep]
    return out
