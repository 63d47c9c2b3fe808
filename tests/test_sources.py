"""fvecs/ivecs connector round-trip tests (FIXTURES.md B1/B4/B5)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark_mrdf_spark.sources.fvecs import (
    read_adjacency_json,
    read_fvecs,
    read_ivecs,
    write_adjacency_json,
    write_fvecs_local,
    write_ivecs_local,
)


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def test_fvecs_roundtrip(spark, tmp):
    rng = np.random.default_rng(0)
    mat = rng.normal(size=(10, 4)).astype(np.float32)
    p = os.path.join(tmp, "v.fvecs")
    write_fvecs_local(p, mat)
    df = read_fvecs(spark, p)
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float32) for r in df.collect()}
    assert len(rows) == 10
    for i in range(10):
        assert np.array_equal(rows[i], mat[i])


def test_fvecs_multifile_offsets(spark, tmp):
    rng = np.random.default_rng(1)
    a = rng.normal(size=(3, 4)).astype(np.float32)
    b = rng.normal(size=(5, 4)).astype(np.float32)
    write_fvecs_local(os.path.join(tmp, "part-000.fvecs"), a)
    write_fvecs_local(os.path.join(tmp, "part-001.fvecs"), b)
    df = read_fvecs(spark, tmp)
    ids = sorted(r["vec_id"] for r in df.collect())
    assert ids == list(range(8))


def test_fvecs_input_max(spark, tmp):
    mat = np.ones((10, 4), dtype=np.float32)
    p = os.path.join(tmp, "v.fvecs")
    write_fvecs_local(p, mat)
    assert read_fvecs(spark, p, input_max=4).count() == 4


def test_fvecs_truncated_tail(spark, tmp):
    mat = np.ones((3, 4), dtype=np.float32)
    p = os.path.join(tmp, "v.fvecs")
    write_fvecs_local(p, mat)
    with open(p, "ab") as f:
        f.write(b"\x04\x00\x00\x00\x00\x00")  # header + partial record
    assert read_fvecs(spark, p).count() == 3


def test_ivecs_roundtrip_with_k(spark, tmp):
    mat = np.arange(20, dtype=np.int32).reshape(4, 5)
    p = os.path.join(tmp, "gt.ivecs")
    write_ivecs_local(p, mat)
    df = read_ivecs(spark, p, k=3)
    rows = {r["vec_id"]: list(r["components"]) for r in df.collect()}
    assert rows[0] == [0, 1, 2]
    assert rows[3] == [15, 16, 17]


def test_adjacency_json_roundtrip(spark, tmp):
    g = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 2.0), (1, 0, 1.0)], ["src", "dst", "dist_sq"]
    )
    p = os.path.join(tmp, "graph")
    write_adjacency_json(g, p)
    back = {r["id"]: list(r["neighbors"]) for r in read_adjacency_json(spark, p).collect()}
    assert back == {0: [1, 2], 1: [0]}


def test_orc_roundtrip_events(spark, sf_dir, tmp_path):
    # ORC sink/scan with timestamp fidelity (the non-parquet columnar path)
    from pyspark_mrdf_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    p = str(tmp_path / "events_orc")
    ev.write.mode("overwrite").orc(p)
    back = spark.read.orc(p)
    assert back.schema == ev.schema
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_csv_roundtrip_nation(spark, sf_dir, tmp_path):
    # CSV sink/scan with explicit schema (no inference in pipelines)
    from pyspark_mrdf_spark.io import load_table

    n = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_csv")
    n.write.mode("overwrite").option("header", True).csv(p)
    back = spark.read.schema(n.schema).option("header", True).csv(p)
    assert sorted(map(tuple, n.collect())) == sorted(map(tuple, back.collect()))


def test_formats_orc_pushdown_and_pruning(spark, sf_dir, tmp_path):
    # the columnar contract must survive the format change: ORC scans
    # prune columns and push predicates exactly like parquet
    from pyspark_mrdf_spark.io import load_table
    from pyspark_mrdf_spark.sources.formats import read_orc, write_orc

    li = load_table(spark, sf_dir, "lineitem")
    p = str(tmp_path / "lineitem_orc")
    write_orc(li, p)
    q = (
        read_orc(spark, p)
        .filter("l_quantity > 45")
        .select("l_orderkey", "l_quantity")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters", 1)[1][:300]
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "l_extendedprice" not in read_schema  # column pruning held
    assert q.count() == li.filter("l_quantity > 45").count()


def test_formats_csv_corrupt_capture_and_quoting(spark, tmp_path):
    # documents with embedded commas/quotes roundtrip; a malformed line
    # lands in quarantine instead of crashing or silently vanishing
    from pyspark_mrdf_spark.sources.formats import (
        read_documents_csv,
        write_documents_csv,
    )
    from pyspark_mrdf_spark.sources.jsonl import split_corrupt

    docs = spark.createDataFrame(
        [
            (1, 'Hello, "quoted" world', "en", "srcA", 21),
            (2, "plain text", "de", "srcB", 10),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    p = str(tmp_path / "docs_csv")
    write_documents_csv(docs, p)
    # inject a malformed line (wrong arity, bad types) into the export;
    # drop the Hadoop .crc sidecar the out-of-band append invalidates
    import glob as _g

    part = _g.glob(p + "/part-*.csv")[0]
    with open(part, "a") as fh:
        fh.write("not_a_number,only_two_fields\n")
    crc = os.path.join(os.path.dirname(part), "." + os.path.basename(part) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    back = read_documents_csv(spark, p)
    clean, corrupt = split_corrupt(back)
    got = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in clean.collect()
    }
    assert got == {
        (1, 'Hello, "quoted" world', "en", "srcA", 21),
        (2, "plain text", "de", "srcB", 10),
    }
    assert corrupt.count() == 1


def test_fvecs_datasource_write_roundtrip(spark, tmp):
    # distributed fvecs SINK (Python DataSource write path): N
    # partitions -> N shards in parallel, vector bytes never on the
    # driver; content must roundtrip exactly (ids reassigned by shard
    # position on read — the fvecs convention)
    import numpy as np

    from pyspark_mrdf_spark.sources.fvecs import read_fvecs
    from pyspark_mrdf_spark.sources.fvecs_datasource import FvecsDataSource

    spark.dataSource.register(FvecsDataSource)
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(60, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    ).repartition(4)
    out = os.path.join(tmp, "shards_out")
    df.write.format("fvecs").mode("overwrite").save(out)
    import glob as _g

    shards = _g.glob(out + "/part-*.fvecs")
    assert len(shards) == 4
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = read_fvecs(spark, out)
    got = sorted(
        tuple(np.float32(v) for v in r["embedding"]) for r in back.collect()
    )
    want = sorted(tuple(row) for row in mat)
    assert got == want
    # overwrite replaces prior shards (different partitioning) cleanly
    df.repartition(2).write.format("fvecs").mode("overwrite").save(out)
    assert len(_g.glob(out + "/part-*.fvecs")) == 2
    assert read_fvecs(spark, out).count() == 60


def test_fvecs_datasource_append_id_stable_roundtrip(spark, tmp):
    # Append (r10 verdict stretch #8): new shards continue the
    # part-NNNNN numbering, so they sort AFTER every prior shard and
    # the reader's "id = shard-order position" assignment keeps every
    # existing vector's id; appended vectors get ids = old_total + i.
    import glob as _g

    from pyspark_mrdf_spark.sources.fvecs import read_fvecs
    from pyspark_mrdf_spark.sources.fvecs_datasource import FvecsDataSource

    spark.dataSource.register(FvecsDataSource)
    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    out = os.path.join(tmp, "append_target")
    base.repartition(2).write.format("fvecs").mode("overwrite").save(out)
    before = {
        r["vec_id"]: list(r["embedding"]) for r in read_fvecs(spark, out).collect()
    }
    assert len(before) == 10

    extra = spark.createDataFrame(
        [(0, [100.0, 1.0]), (1, [101.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    ).coalesce(1)
    extra.write.format("fvecs").mode("append").save(out)

    after = {
        r["vec_id"]: list(r["embedding"]) for r in read_fvecs(spark, out).collect()
    }
    # prior ids and vectors unchanged
    assert {k: after[k] for k in before} == before
    # appended ids continue at old_total, in input order
    assert after[10] == [100.0, 1.0] and after[11] == [101.0, 1.0]
    assert len(after) == 12
    # new shard numbers sort after the old ones; _SUCCESS = new total
    names = sorted(
        os.path.basename(f) for f in _g.glob(out + "/part-*.fvecs")
    )
    assert names == ["part-00000.fvecs", "part-00001.fvecs", "part-00002.fvecs"]
    with open(os.path.join(out, "_SUCCESS")) as fh:
        assert fh.read().strip() == "12"
    # the reservation marker is released after a successful commit
    assert not os.path.exists(os.path.join(out, "_append-reservation"))


def test_fvecs_datasource_append_reservation_is_exclusive(spark, tmp):
    # Two appenders racing would both derive the same base_index and
    # clobber each other's renames; the O_EXCL reservation marker makes
    # the SECOND writer's construction fail loudly instead (advisor
    # r11). Simulated by constructing the writer objects directly —
    # the API path constructs them the same way driver-side.
    from pyspark_mrdf_spark.sources.fvecs_datasource import (
        FvecsDataSource,
        _VecsWriter,
    )

    spark.dataSource.register(FvecsDataSource)
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    out = os.path.join(tmp, "append_race")
    df.coalesce(1).write.format("fvecs").mode("overwrite").save(out)

    first = _VecsWriter({"path": out}, overwrite=False)
    with pytest.raises(ValueError, match="_append-reservation"):
        _VecsWriter({"path": out}, overwrite=False)
    # abort (no published shards) releases the reservation...
    first.abort([])
    second = _VecsWriter({"path": out}, overwrite=False)
    assert second.base_index == first.base_index
    second.abort([])
    # ...and the API append works again end-to-end afterwards
    df.coalesce(1).write.format("fvecs").mode("append").save(out)
    from pyspark_mrdf_spark.sources.fvecs import read_fvecs

    assert read_fvecs(spark, out).count() == 4


def test_fvecs_datasource_append_refuses_nonstandard_layout(spark, tmp):
    # a foreign-named shard breaks the sort-after-id-stability proof —
    # the append must refuse loudly instead of silently renumbering
    from pyspark_mrdf_spark.sources.fvecs import read_fvecs
    from pyspark_mrdf_spark.sources.fvecs_datasource import FvecsDataSource

    spark.dataSource.register(FvecsDataSource)
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    out = os.path.join(tmp, "append_nonstd")
    df.coalesce(1).write.format("fvecs").mode("overwrite").save(out)
    os.rename(
        os.path.join(out, "part-00000.fvecs"), os.path.join(out, "zzz.fvecs")
    )
    with pytest.raises(Exception, match="part-NNNNN"):
        df.write.format("fvecs").mode("append").save(out)
    # the refused append must not have touched the committed data
    assert read_fvecs(spark, out).count() == 2


def test_fvecs_datasource_append_refuses_torn_and_mixed_targets(spark, tmp):
    # (a) shards without _SUCCESS = a torn prior commit: appending
    # would recount and republish the marker, erasing the evidence;
    # (b) mixing .ivecs into an .fvecs directory would silently
    # mis-decode on read — both must refuse loudly
    from pyspark_mrdf_spark.sources.fvecs_datasource import FvecsDataSource

    spark.dataSource.register(FvecsDataSource)
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    out = os.path.join(tmp, "append_torn")
    df.coalesce(1).write.format("fvecs").mode("overwrite").save(out)
    os.remove(os.path.join(out, "_SUCCESS"))  # simulate the torn commit
    with pytest.raises(Exception, match="_SUCCESS"):
        df.write.format("fvecs").mode("append").save(out)

    out2 = os.path.join(tmp, "append_mixed")
    df.coalesce(1).write.format("fvecs").mode("overwrite").save(out2)
    ints = spark.createDataFrame(
        [(0, [1, 2])], "vec_id bigint, components array<int>"
    ).coalesce(1)
    with pytest.raises(Exception, match="mixing kinds"):
        ints.write.format("fvecs").option("format", "ivecs").mode(
            "append"
        ).save(out2)


def test_fvecs_datasource_overwrite_is_staged(spark, tmp):
    # Commit protocol: a failing overwrite job must leave the prior
    # committed shard set fully readable (staging names + commit-time
    # publish; the round-9 advisor caught the driver-side pre-delete).
    from pyspark_mrdf_spark.sources.fvecs import read_fvecs
    from pyspark_mrdf_spark.sources.fvecs_datasource import FvecsDataSource

    spark.dataSource.register(FvecsDataSource)
    good = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    out = os.path.join(tmp, "staged_target")
    good.write.format("fvecs").mode("overwrite").save(out)

    # ragged vectors fail the write task mid-job
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<float>",
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        bad.write.format("fvecs").mode("overwrite").save(out)

    # destination still serves the previously committed corpus
    assert read_fvecs(spark, out).count() == 10
    import glob as _g

    assert not _g.glob(out + "/_staging-*"), "aborted staging files must be cleaned"


def test_fvecs_sink_writes_file_uri_locally_and_refuses_other_schemes(spark, tmp):
    # a file: URI is the same local directory as the bare path; any
    # other scheme is refused before a task runs (the sink writes with
    # local file I/O, so an hdfs:// path would land in a relative dir)
    from pyspark_mrdf_spark.sources.fvecs import read_fvecs
    from pyspark_mrdf_spark.sources.fvecs_datasource import FvecsDataSource

    spark.dataSource.register(FvecsDataSource)
    mat = np.arange(24, dtype=np.float32).reshape(6, 4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    ).coalesce(1)
    out = os.path.join(tmp, "uri_out")
    df.write.format("fvecs").mode("overwrite").save("file://" + out)
    assert os.path.exists(os.path.join(out, "part-00000.fvecs"))
    got = [list(r["embedding"]) for r in read_fvecs(spark, out).orderBy("vec_id").collect()]
    assert got == mat.tolist()
    for cwd in (os.getcwd(), spark.sparkContext._jvm.System.getProperty("user.dir")):
        assert not os.path.exists(os.path.join(cwd, "file:")), cwd
    with pytest.raises(Exception, match="local files only"):
        df.write.format("fvecs").mode("overwrite").save("hdfs://localhost:9/fvecs_out")
