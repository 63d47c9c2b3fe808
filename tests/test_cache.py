"""Session materialization registry: keying and isolation.

The registry serves shared sub-results (exact/IVF/MRDF graphs, dedup
pair tables) across queries, so the one way it could corrupt results
is serving an entry across DIFFERENT keys — e.g. one scale factor's
table to another's query. These tests pin the boundary.
"""

from __future__ import annotations

from pyspark_mrdf_spark.cache import memoized_df, memoized_path


def test_same_key_serves_same_materialization(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).toDF("id")

    a = memoized_df(spark, ("t", "k1"), build)
    b = memoized_df(spark, ("t", "k1"), build)
    assert a is b
    assert len(calls) == 1


def test_different_key_rebuilds(spark):
    a = memoized_df(spark, ("t", "k2"), lambda: spark.range(3).toDF("id"))
    b = memoized_df(spark, ("t", "k3"), lambda: spark.range(7).toDF("id"))
    assert a.count() == 3 and b.count() == 7


def test_same_key_concurrent_callers_build_once(spark):
    # the q56-background vs q50 race: two threads request the same key
    # at once — exactly ONE build may run (a losing duplicate would
    # leak its checkpoint blocks for the session's lifetime) and both
    # callers must get the same materialization
    import threading
    from concurrent.futures import ThreadPoolExecutor

    started = threading.Barrier(2, timeout=30)
    calls = []

    def build():
        calls.append(1)
        return spark.range(9).toDF("id")

    def request():
        started.wait()  # maximize overlap: both threads enter together
        return memoized_df(spark, ("t", "race"), build)

    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = [f.result() for f in [pool.submit(request), pool.submit(request)]]
    assert a is b
    assert len(calls) == 1


def test_failed_build_releases_gate_for_retry(spark):
    import pytest

    from pyspark_mrdf_spark import cache as cache_mod

    boom = {"n": 0}

    def bad():
        boom["n"] += 1
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError):
        memoized_df(spark, ("t", "retry"), bad)
    # gate released, no poisoned entry: a second attempt re-runs the
    # builder and can succeed
    ok = memoized_df(spark, ("t", "retry"), lambda: spark.range(4).toDF("id"))
    assert ok.count() == 4 and boom["n"] == 1


def test_memoized_path_builds_once_per_key_and_retries_after_failure():
    # the persisted-artifact twin: one directory per (name, sf_dir) for
    # the process, concurrent first callers share one build, other keys
    # get their own directory, and a failed build leaves no entry
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import pytest

    started = threading.Barrier(4, timeout=30)
    built = []

    def build(path):
        built.append(path)
        with open(os.path.join(path, "part"), "w") as f:
            f.write("x")

    def request(_):
        started.wait()
        return memoized_path(("t_path", "sf_a"), build)

    with ThreadPoolExecutor(max_workers=4) as pool:
        paths = list(pool.map(request, range(4)))
    assert set(paths) == set(built) and len(built) == 1
    assert os.path.isfile(os.path.join(paths[0], "part"))
    other = memoized_path(("t_path", "sf_b"), build)
    assert other != paths[0] and len(built) == 2

    def bad(path):
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError):
        memoized_path(("t_path", "sf_c"), bad)
    assert memoized_path(("t_path", "sf_c"), build) == built[-1]


def test_sf_dirs_never_cross_serve(spark):
    # the real hazard: a query family memoizes per sf_dir while pytest
    # (sf0.001) and bench (sf0.1) share one session — each scale must
    # get its own materialization
    from pyspark_mrdf_spark.io import load_table

    counts = {}
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        df = memoized_df(
            spark,
            ("lineitem_count_probe", sf_dir),
            lambda d=sf_dir: load_table(spark, d, "lineitem"),
        )
        counts[sf_dir] = df.count()
    assert counts["/root/testdata/sf0.001"] != counts["/root/testdata/sf0.01"]
    for sf_dir, n in counts.items():
        assert n == load_table(spark, sf_dir, "lineitem").count()


def _stats_size(df) -> int:
    """Digits of the optimized plan's estimated sizeInBytes — the
    quantity Catalyst's size-only visitor multiplies; Long.Max (the
    session default for a stats-free leaf) is 19 digits."""
    return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_pin_stats_drops_origin_stats_snapshot(spark):
    """localCheckpoint (eager or lazy) SNAPSHOTS the origin plan's
    multiplied stats — the round-12 chained-append wedge mechanism —
    while pin_stats rebuilds a leaf whose estimate is the bounded
    session default, with identical rows."""
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.cache import pin_stats

    base = spark.range(200).select(
        F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
    )
    j = base.join(base.withColumnRenamed("src", "s2"), "dst").join(
        base.withColumnRenamed("dst", "d2"), "src"
    )
    def _size(df) -> str:
        return str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    ck = j.localCheckpoint(eager=True)
    pinned = pin_stats(j)
    # the checkpoint keeps the origin join-product estimate verbatim;
    # the pin reads as the bounded session default instead
    assert _size(ck) == _size(j)
    assert _size(pinned) != _size(ck)
    assert _stats_size(pinned) <= 19
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, ck.collect()))
    assert pinned.schema == ck.schema


def test_pin_stats_bounds_compounding_across_cycles(spark):
    """Self-feeding plans (output joins itself next cycle) grow the
    snapshot stats exponentially without the pin and stay flat with
    it — the planner-cost law behind knn_graph_append(materialize=True)."""
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.cache import pin_stats

    def cycle(df):
        other = df.select("dst", F.col("src").alias("s2"))
        return (
            df.join(other, "dst")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("_n"))
            .select("src", "dst")
        )

    base = spark.range(50).select(
        F.col("id").alias("src"), (F.col("id") % 5).alias("dst")
    )
    raw, pinned = base, base
    raw_digits, pinned_digits = [], []
    for _ in range(3):
        raw = cycle(raw).localCheckpoint(eager=True)
        pinned = pin_stats(cycle(pinned))
        raw_digits.append(_stats_size(raw))
        pinned_digits.append(_stats_size(pinned))
    assert raw_digits[-1] > raw_digits[0], raw_digits
    assert max(pinned_digits) <= 25, pinned_digits
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, pinned.collect()))


def test_pin_stats_fallback_warns_loudly(spark, monkeypatch):
    """If the private JVM hook disappears (a Spark upgrade), pin_stats
    must still return correct values via the plain eager checkpoint —
    but NEVER silently: chained deployments detect the planner-cost
    regression from the RuntimeWarning (r13 verdict 'What's wrong' #3)."""
    import warnings as _w

    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.cache import pin_stats

    df = spark.range(50).select(F.col("id").alias("src"), (F.col("id") % 3).alias("dst"))

    class _NoHook:
        def __getattr__(self, name):
            raise AttributeError(name)

    monkeypatch.setattr(
        type(spark), "_jsparkSession", property(lambda self: _NoHook()),
        raising=False,
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        pinned = pin_stats(df)
        rows = sorted(map(tuple, pinned.collect()))
    assert rows == sorted((i, i % 3) for i in range(50))
    msgs = [str(r.message) for r in rec if r.category is RuntimeWarning]
    assert any("internalCreateDataFrame is unavailable" in m for m in msgs), msgs
