"""Session-scoped materialized-result registry (``memoized_df``), and
its per-process twin for persisted query artifacts (``memoized_path``).

Several registry queries share expensive sub-results: q50/q56/q57 all
need the exact k-NN graph, q51/q57 the IVF graph, q55/q56 the seeded
MRDF graph. Each query is a pure function of (semantic key, input
tables), so within one SparkSession the materialized result can be
built once and re-served — the engine-level analogue of a materialized
view / common-subplan cache, and exactly how a serving deployment
would amortize an index build across queries.

Safety rules:
 - Keys must capture EVERY parameter the result depends on (algorithm,
   sf_dir, k, seed, ...). Callers memoize only deterministic builders.
 - Entries are scoped to the SparkContext via ``applicationId``: a
   DataFrame checkpointed in a stopped session is never served to a
   new one (stale entries from dead sessions are dropped on sight).
 - Results are materialized by ``operators.util.checkpoint`` (eager
   by default; executor-local, or reliable under
   ``spark.graft.checkpoint.reliable``): bounded output tables (edge
   lists, signatures), never raw inputs.
"""

from __future__ import annotations

import tempfile
import warnings
from collections.abc import Callable
from threading import Lock

from pyspark.sql import DataFrame, SparkSession

from pyspark_mrdf_spark.operators.util import checkpoint

_CACHE: dict[tuple, DataFrame] = {}
_LOCK = Lock()
# Per-key build gates: concurrent callers with the SAME key serialize
# here, so exactly one build runs and its checkpoint blocks are the
# only ones ever materialized (a losing duplicate build would leak its
# eagerly-checkpointed blocks for the session's lifetime). Different
# keys still build fully concurrently (q56 overlaps its exact side on
# a background thread).
_BUILDING: dict[tuple, Lock] = {}
# memoized_path's directories, keyed ("path", name, sf_dir)
_PATHS: dict[tuple, str] = {}


def pin_stats(df: DataFrame) -> DataFrame:
    """Materialize ``df`` (an eager ``operators.util.checkpoint``, so
    local or reliable by the same flag as every other cut) and rebuild
    it as a fresh leaf WITHOUT the origin plan's statistics snapshot.

    Why this exists: a checkpoint — lazy AND eager — truncates
    the *lineage* but snapshots the origin plan's ESTIMATED statistics
    onto the resulting ``LogicalRDD`` (measured on this Spark: a
    checkpointed 3-way join keeps its multiplied sizeInBytes product).
    Catalyst's size-only estimator multiplies join children, so an
    operator whose output feeds back into itself across calls (chained
    ``knn_graph_append`` cycles) compounds those products
    EXPONENTIALLY: by cycle ~3 the driver sat 25+ minutes inside
    ``SizeInBytesOnlyStatsPlanVisitor`` multiplying BigIntegers large
    enough to hit Toom-Cook-3 (EXPLAIN.md round-12 note), executors
    idle. Eager materialization alone does NOT fix this — the snapshot
    is taken either way.

    With the reliable flag on, the rebuilt leaf wraps the checkpointed
    RDD, whose lineage now starts at the checkpoint files, so its rows
    survive executor loss like any other reliable cut.

    The rebuild goes through the JVM session's
    ``internalCreateDataFrame`` over the checkpointed rows, which
    constructs a ``LogicalRDD`` with no origin stats — it reports the
    bounded session default (``defaultSizeInBytes``), so downstream
    plans start from a clean slate. Values, schema, and the
    materialized blocks are exactly the checkpoint's; only the stats
    metadata is dropped. Consequence for planning: the pinned leaf
    reads as LARGE, so Catalyst will never auto-broadcast it — callers
    that want a broadcast say ``F.broadcast`` explicitly (this
    engine's rule everywhere already). If the private JVM hook is ever
    unavailable, falls back to the plain eager checkpoint — correct,
    just planner-slower when chained — and WARNS (below).

    Consumption contract: the rebuilt leaf wraps
    ``queryExecution().toRdd()``, whose scan may REUSE its UnsafeRow
    buffer per partition (Spark's own checkpoint path inserts a
    ``.map(_.copy())``; this one deliberately does not — the copy
    would double the materialized bytes). That is safe for SQL
    operators — every Spark SQL consumer (exchange, sort, aggregate,
    window, Python/Arrow serializers) copies rows it retains, by
    Spark's own internal-row conventions — but the returned DataFrame
    must NOT be dropped to ``.rdd`` and iterated with row retention.
    Nothing in this engine touches ``.rdd`` on data paths (repo-wide
    rule, re-audited r13), so the contract holds by construction.

    JVM hook pinned on: Spark 4.1.x (``internalCreateDataFrame`` on
    ``SparkSession``, verified by ``test_pin_stats_*`` — those tests
    fail loudly if an upgrade removes it, and the fallback path warns
    at runtime so chained deployments can detect the planner-cost
    regression without reading CI)."""
    ck = checkpoint(df, eager=True)
    try:
        spark = df.sparkSession
        jrdd = ck._jdf.queryExecution().toRdd()
        jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            ck.schema.json()
        )
        jdf = spark._jsparkSession.internalCreateDataFrame(jrdd, jschema, False)
        return DataFrame(jdf, spark)
    except Exception as exc:  # pragma: no cover - depends on private JVM API
        warnings.warn(
            "pin_stats: the private JVM hook "
            "SparkSession.internalCreateDataFrame is unavailable on this "
            f"Spark ({exc!r}); falling back to a plain eager checkpoint. "
            "Values are unchanged, but the origin plan's statistics snapshot "
            "is kept — chained self-feeding operators (knn_graph_append "
            "materialize=True cycles) will pay the compounding planner cost "
            "pin_stats exists to prevent.",
            RuntimeWarning,
            stacklevel=2,
        )
        return ck


def _once(store: dict, key: tuple, build: Callable[[], object]):
    """``store[key]``, running ``build`` on first use. Same-key
    concurrent callers serialize on a per-key gate: one builds, the
    rest block until the entry exists and reuse it. A failed build
    releases the gate with no entry, so the next caller retries."""
    with _LOCK:
        hit = store.get(key)
        if hit is not None:
            return hit
        gate = _BUILDING.setdefault(key, Lock())
    with gate:
        with _LOCK:
            hit = store.get(key)
        if hit is not None:
            return hit
        value = build()
        with _LOCK:
            store[key] = value
        return value


def memoized_df(
    spark: SparkSession,
    key: tuple,
    builder: Callable[[], DataFrame],
    eager: bool = True,
) -> DataFrame:
    """Return the materialized DataFrame for ``key``, building it with
    ``builder`` (then cutting its lineage with
    ``operators.util.checkpoint``) on first use.

    ``eager=False`` defers materialization to the caller's first
    action (one fewer Spark job when the caller acts immediately —
    q56 runs recall right after building the MRDF graph); keep the
    default when the build must finish NOW, e.g. on the background
    thread whose whole point is overlapping the materialization.

    Same-key concurrent callers share one build (``_once``)."""
    app = spark.sparkContext.applicationId

    def _build() -> DataFrame:
        df = checkpoint(builder(), eager=eager)
        with _LOCK:
            # drop entries of dead sessions (their executors — and any
            # checkpoint blocks — died with the SparkContext)
            for k in [k for k in _CACHE if k[0] != app]:
                del _CACHE[k]
                _BUILDING.pop(k, None)
        return df

    return _once(_CACHE, (app,) + key, _build)


def memoized_path(key: tuple, build: Callable[[str], None]) -> str:
    """A fresh driver-local directory that ``build(path)`` fills on
    first use of ``key`` — (name, sf_dir) — then served read-only for
    the rest of the process: the persisted query artifacts (dedup
    index, quantized indexes, compacted graph state) that a deployment
    builds once and every later query only reads. Files outlive a
    SparkSession, so unlike ``memoized_df`` the entry is per process,
    not per session. Same-key concurrent callers share one build."""

    def _make() -> str:
        path = tempfile.mkdtemp(prefix=f"mrdf_{key[0]}_")
        build(path)
        return path

    return _once(_PATHS, ("path",) + key, _make)
