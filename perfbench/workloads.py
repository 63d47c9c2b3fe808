"""The benchmark's workloads.

Each workload generates its inputs from the seed (untimed), runs one
timed *unit* per call of ``unit`` and checks every unit's outputs in
``check`` after all timing is over, so no check warms a cache a timed
operation reads. A unit records its wall time, its repeated *steps*
(ingest repetitions or queries, summarised as medians in the workload
line) and named workload metrics.

Engine functions are always looked up through their modules at call
time, so the traced run's wrappers see every call.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.001")


@dataclass
class Unit:
    wall_s: float = 0.0
    steps: list[float] = field(default_factory=list)
    step_names: list[str] = field(default_factory=list)
    named: dict[str, float] = field(default_factory=dict)
    outputs: object = None
    errors: list[str] = field(default_factory=list)


@dataclass
class Checked:
    attempted: int = 0
    failed: int = 0
    quality: float = 0.0
    problems: list[str] = field(default_factory=list)
    named: dict[str, float] = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class MrdfBuild:
    """fvecs ingest, then MRDF k-NN graph build at a pinned dial."""

    name = "mrdf_build"
    N, DIM, K = 3000, 64, 10
    CLUSTERS, SPREAD = 32, 0.8
    # alpha < N forces a division round every iteration; rho=16 keeps
    # it to one round, so the job count does not depend on the seed
    DIAL = dict(rho=16, alpha=2048, tau=0.01, seed=42, max_iter=3, auto_escalate=False)
    INGEST_REPS = 3
    RECALL_FLOOR = 0.9

    def __init__(self, work: str, seed: int, cores: int):
        self.seed = seed
        self.dir = os.path.join(work, "fvecs")
        self.x = gen.fvecs_mixture(self.dir, seed, self.N, self.DIM, max(4, cores),
                                   self.CLUSTERS, self.SPREAD)

    def unit(self, spark, k: int, span=None) -> Unit:
        from pyspark_mrdf_spark.algorithms import mrdf
        from pyspark_mrdf_spark.sources import fvecs

        span = span or nospan
        u = Unit()
        t_unit = time.perf_counter()
        for _ in range(self.INGEST_REPS):
            t0 = time.perf_counter()
            with span("bench.ingest"):
                df = fvecs.read_fvecs(spark, self.dir).localCheckpoint(eager=True)
            u.steps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        rounds: list[dict] = []
        with span("bench.build"):
            g = mrdf.knn_graph(df, self.K, metrics_out=rounds, **self.DIAL).localCheckpoint(
                eager=True
            )
        u.named["build_s"] = time.perf_counter() - t0
        u.wall_s = time.perf_counter() - t_unit
        u.named["ingest_s"] = _median(u.steps)
        u.outputs = (g, rounds, df)
        return u

    def preload(self) -> None:
        from pyspark_mrdf_spark.algorithms import mrdf  # noqa: F401
        from pyspark_mrdf_spark.sources import fvecs  # noqa: F401

    def layer_counts(self, u: Unit) -> dict[str, float]:
        rounds = u.outputs[1]
        return {
            "algorithms.mrdf.iterations": len(rounds),
            "algorithms.mrdf.divisions": sum(r["divisions"] for r in rounds),
            "algorithms.mrdf.leaves": sum(r["n_leaves"] for r in rounds),
            "algorithms.mrdf.max_leaf": max((r["max_leaf"] for r in rounds), default=0),
        }

    def corrupt(self, spark, u: Unit) -> None:
        g, rounds, df = u.outputs
        u.outputs = (g.filter("src != 0"), rounds, df)

    def check(self, spark, units: list[Unit]) -> Checked:
        c = Checked()
        recalls = []
        for u in units:
            c.attempted += self.INGEST_REPS + 1
            if u.errors:
                c.failed += self.INGEST_REPS + 1
                c.problems += u.errors
                continue
            ingested = u.outputs[2].count()
            if ingested != self.N:
                c.failed += self.INGEST_REPS
                c.problems.append(f"ingested {ingested} rows, wrote {self.N}")
            rows = u.outputs[0].collect()
            edges = np.array([(r.src, r.dst) for r in rows], dtype=np.int64).reshape(-1, 2)
            dist = np.array([r.dist_sq for r in rows], dtype=np.float64)
            problems = graph_problems(self.x, edges, dist, self.K)
            recall = exact_recall(self.x, edges, self.K)
            recalls.append(recall)
            if recall < self.RECALL_FLOOR:
                problems.append(f"recall@{self.K} {recall:.4f} < {self.RECALL_FLOOR}")
            if problems:
                c.failed += 1
                c.problems += problems
        c.quality = _median(recalls)
        return c


def graph_problems(x: np.ndarray, edges: np.ndarray, dist: np.ndarray, k: int) -> list[str]:
    """Invariants of a k-NN graph over ids 0..n-1: k distinct
    out-edges per id, no self-loops, and each ``dist_sq`` equal to the
    squared L2 distance NumPy computes."""
    n = len(x)
    out = []
    if len(edges) == 0:
        return ["empty graph"]
    src, dst = edges[:, 0], edges[:, 1]
    if src.min() < 0 or src.max() >= n or dst.min() < 0 or dst.max() >= n:
        out.append("edge endpoint outside 0..n-1")
        return out
    deg = np.bincount(src, minlength=n)
    if (deg != k).any():
        out.append(f"{int((deg != k).sum())} ids without exactly {k} out-edges")
    if (src == dst).any():
        out.append(f"{int((src == dst).sum())} self-loops")
    if len(np.unique(src * n + dst)) != len(src):
        out.append("duplicate edges")
    x64 = x.astype(np.float64)
    want = ((x64[src] - x64[dst]) ** 2).sum(axis=1)
    bad = ~np.isclose(dist, want, rtol=1e-4, atol=1e-6)
    if bad.any():
        out.append(f"{int(bad.sum())} dist_sq values differ from NumPy")
    return out


def exact_recall(x: np.ndarray, edges: np.ndarray, k: int) -> float:
    """recall@k of the graph against exact NumPy k-NN over every id."""
    x64 = x.astype(np.float64)
    sq = (x64 ** 2).sum(axis=1)
    d = sq[:, None] + sq[None, :] - 2.0 * (x64 @ x64.T)
    np.fill_diagonal(d, np.inf)
    nn = np.argpartition(d, k, axis=1)[:, :k]
    truth = np.stack([np.repeat(np.arange(len(x)), k), nn.ravel()], axis=1)
    n = len(x)
    hits = np.isin(truth[:, 0] * n + truth[:, 1], edges[:, 0] * n + edges[:, 1])
    return float(hits.sum()) / len(truth)


class IngestPhase:
    """Bulk dedup-index build over a seeded base corpus, then near-dup
    ingest of seeded batch files (planted duplicate families) through
    the streaming twin, one file per trigger: the same layer in one
    bulk call and in small per-batch calls."""

    # one batch for the run budget: its trigger includes the stream's
    # start-up, and the dedup against earlier committed stream
    # partitions (planted ``earlier_near`` copies) is not reached
    N_BASE, BATCHES, BATCH_SIZE = 1000, 1, 100

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.inputs = gen.dedup_corpus(os.path.join(work, "docs"), seed, self.N_BASE,
                                       self.BATCHES, self.BATCH_SIZE, max(4, cores))

    def run(self, spark, k: int, span, u: Unit) -> None:
        from pyspark_mrdf_spark.operators import dedup_index
        from pyspark_mrdf_spark.streaming import ingest

        idx = os.path.join(self.work, f"index-{k}")
        corpus = os.path.join(self.work, f"corpus-{k}")
        t0 = time.perf_counter()
        with span("bench.index_build"):
            dedup_index.write_dedup_index(spark.read.parquet(self.inputs.base_dir), idx)
        u.named["index_build_s"] = time.perf_counter() - t0
        with span("bench.stream"):
            docs = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .json(self.inputs.batch_dir)
            )
            q = ingest.near_ingest_dedup_stream(
                docs, idx, corpus, os.path.join(self.work, f"checkpoint-{k}"),
                query_name=f"perfbench_ingest_{k}",
            )
            q.awaitTermination()
        if q.exception() is not None:
            u.errors.append(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
        d = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / 1e3  # noqa: E731
        u.named.update({
            "streaming.batches": len(progress),
            "streaming.add_batch_s": d("addBatch"),
            "streaming.planning_s": d("queryPlanning"),
            "streaming.commit_s": d("walCommit") + d("commitOffsets"),
        })
        files, size = 0, 0
        for root, _, names in os.walk(idx):
            for f in names:
                if not f.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, f))
        u.named["operators.dedup_index.files"] = files
        u.named["operators.dedup_index.mb"] = size / 2**20
        u.named["index_bytes_per_input_byte"] = size / self.inputs.input_bytes
        u.outputs["batch_s"] = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        u.outputs["corpus"] = corpus

    def check(self, spark, u: Unit, c: Checked) -> float:
        """Survivors per batch against the planted truth; returns the
        Jaccard similarity of the survivor and truth sets."""
        c.attempted += 1 + self.BATCHES
        got: dict[int, set[int]] = {}
        for r in spark.read.parquet(u.outputs["corpus"]).select("batch", "doc_id").collect():
            got.setdefault(int(r.batch), set()).add(int(r.doc_id))
        want_all, got_all = set(), set()
        for b, want in enumerate(self.inputs.truth):
            have = got.get(b, set())
            want_all |= want
            got_all |= have
            if have != want:
                c.failed += 1
                c.problems.append(
                    f"ingest batch {b}: {len(have - want)} unexpected survivors, "
                    f"{len(want - have)} missing"
                )
        if set(got) - set(range(self.BATCHES)):
            c.failed += 1
            c.problems.append(f"ingest wrote unexpected batch ids {sorted(got)}")
        return len(want_all & got_all) / len(want_all | got_all)


# The timed pass: one query per family at least, sized so that every
# run of the benchmark fits its time budget.
QUERIES = (
    "q151_trailing_range_window",   # events
    "q112_wav_audio_stats",         # multimodal
    "q01_pricing_summary",          # relational
    "q108_bpe_tokenize",            # text
    "q102_semantic_dedup",          # dedup; similarity
    "q138_triangle_counts",         # pipeline; graph, cache
    "q56_mrdf_recall",              # vector; mrdf + recall, background exact-kNN thread
    "q131_sq8_drift_monitor",       # quantize
    "q127_pca_project",             # project
)
# Run by the traced run only, after the timed unit, for the layers no
# query above reaches; they cost about 18 s with their checks.
TRACE_ONLY_QUERIES = (
    "q160_linkage_hot_split",       # linkage
    "q110_lm_quality_filter",       # lm (a registry query outside the driver set)
    "q124_graph_ann_search",        # graph_search; reuses q56's memoised exact graph
    "q158_knn_graph_append",        # graph_append
)
# Result digests (see ``result_digest``) recorded from a verified run,
# for queries with no DuckDB oracle.
DIGESTS = {
    "q56_mrdf_recall": "0d2066e8072a0d0a681f643bb3304523b96b9a20bc672cc1cddcf7dc0274ade1",
}


def result_digest(cols: list[str], canon_rows: list[tuple]) -> str:
    return hashlib.sha256(repr((cols, canon_rows)).encode()).hexdigest()


class DriverQueries:
    """Registry queries from every family, one cold pass in a fixed
    order over the committed sf0.001 fixture, then the ingest phase.
    A traced unit then runs ``TRACE_ONLY_QUERIES`` outside its wall
    time."""

    name = "driver_queries"

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.order = list(QUERIES)
        self.ingest = IngestPhase(work, seed, cores)

    def unit(self, spark, k: int, span=None) -> Unit:
        from pyspark_mrdf_spark.queries import load_all

        span = span or nospan
        specs = load_all()
        # a fresh copy per unit: every memo the engine keys by data
        # directory starts cold
        sf = os.path.join(self.work, f"sf-{k}")
        shutil.copytree(FIXTURE_DIR, sf)
        u = Unit(outputs={"sf": sf, "results": {}})
        u.named.update({"queries.builder_s": 0.0, "queries.action_s": 0.0})
        u.named.update({f"queries.{f}.wall_s": 0.0 for f in QUERY_FAMILIES})
        t_unit = time.perf_counter()
        self._queries(spark, specs, sf, self.order, span, u)
        u.named["queries_s"] = time.perf_counter() - t_unit
        self.ingest.run(spark, k, span, u)
        u.wall_s = time.perf_counter() - t_unit
        if span is not nospan:
            self._queries(spark, specs, sf, TRACE_ONLY_QUERIES, span, u)
        return u

    @staticmethod
    def _queries(spark, specs, sf: str, names, span, u: Unit) -> None:
        for name in names:
            spec = specs[name]
            family = spec.builder.__module__.rsplit(".", 1)[-1]
            t0 = time.perf_counter()
            try:
                with span(f"queries.{family}.{name}"):
                    df = spec.builder(spark, sf)
                    t1 = time.perf_counter()
                    rows = [tuple(r) for r in df.collect()]
                u.outputs["results"][name] = (list(df.columns), rows)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                t1 = time.perf_counter()
                u.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            t2 = time.perf_counter()
            u.steps.append(t2 - t0)
            u.step_names.append(name)
            u.named["queries.builder_s"] += t1 - t0
            u.named["queries.action_s"] += t2 - t1
            u.named[f"queries.{family}.wall_s"] += t2 - t0

    def preload(self) -> None:
        from pyspark_mrdf_spark.operators import dedup_index  # noqa: F401
        from pyspark_mrdf_spark.queries import load_all
        from pyspark_mrdf_spark.streaming import ingest  # noqa: F401

        load_all()

    def layer_counts(self, u: Unit) -> dict[str, float]:
        return {k: v for k, v in u.named.items()
                if k.startswith(("queries.", "streaming.", "operators."))}

    def corrupt(self, spark, u: Unit) -> None:
        results = u.outputs["results"]
        name = next(n for n in self.order if results.get(n) and results[n][1])
        cols, rows = results[name]
        results[name] = (cols, rows[:-1])

    def check(self, spark, units: list[Unit]) -> Checked:
        from pyspark_mrdf_spark.queries import load_all, resolve_oracle

        oracle_util = _oracle_util()
        specs = load_all()
        c = Checked()
        scores = []
        for u in units:
            c.problems += u.errors
            if u.outputs is None:  # the unit raised before producing anything
                lost = len(self.order) + 1 + self.ingest.BATCHES
                c.attempted += lost
                c.failed += lost
                continue
            sf = u.outputs["sf"]
            con = oracle_util.duck_con(sf)
            try:
                for name in u.step_names:  # every query the unit attempted
                    c.attempted += 1
                    got = u.outputs["results"].get(name)
                    if got is None:
                        c.failed += 1
                        continue
                    problem = self._compare(con, oracle_util, name, got,
                                            resolve_oracle(specs[name].oracle, sf))
                    if problem:
                        c.failed += 1
                        c.problems.append(problem)
            finally:
                con.close()
            if "corpus" in u.outputs:
                scores.append(self.ingest.check(spark, u, c))
            else:
                c.attempted += 1 + self.ingest.BATCHES
                c.failed += 1 + self.ingest.BATCHES
        # share of checked operations that were right, ingest included
        c.quality = (c.attempted - c.failed) / c.attempted if c.attempted else 0.0
        c.named["ingest_survivor_jaccard"] = _median(scores)
        return c

    @staticmethod
    def _compare(con, oracle_util, name, got, oracle) -> str | None:
        cols, rows = got
        canon_cols, canon = oracle_util._canon_rows(cols, rows)
        if oracle is None:
            want = DIGESTS.get(name)
            have = result_digest(canon_cols, canon)
            return None if have == want else f"{name}: digest {have} != recorded {want}"
        cur = con.execute(oracle)
        dcols = [d[0] for d in cur.description]
        drows = [tuple(r) for r in cur.fetchall()]
        if len(rows) != len(drows):
            return f"{name}: {len(rows)} rows vs oracle {len(drows)}"
        if sorted(cols) != sorted(dcols):
            return f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}"
        _, d_canon = oracle_util._canon_rows(dcols, drows)
        bad = sum(a != b for a, b in zip(canon, d_canon))
        return f"{name}: {bad} rows differ from oracle" if bad else None


QUERY_FAMILIES = ("events", "multimodal", "relational", "text", "dedup", "pipeline", "vector")


def _oracle_util():
    """The repo's DuckDB-oracle canonicalisation, imported unedited."""
    tests = os.path.join(os.path.dirname(HERE), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_util

    return oracle_util


@contextlib.contextmanager
def nospan(name: str):
    """Stand-in for ``Tracer.span`` in untraced runs."""
    yield None


WORKLOADS = {w.name: w for w in (MrdfBuild, DriverQueries)}
