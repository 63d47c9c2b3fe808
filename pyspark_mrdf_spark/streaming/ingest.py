"""Continuous corpus ingestion with exact dedup — the streaming twin
of the q77 daily-ingest batch path (`operators/dedup.dedup_against`):
documents arrive as a stream, each micro-batch drops what the stored
corpus already has (and in-batch duplicates, lowest id winning), and
the survivors append to the corpus — so later batches dedupe against
everything earlier batches admitted.

Exactly-once without a table format: each batch writes its survivors
to a batch-id-named partition directory (`batch=<id>`), so a replayed
batch after a crash OVERWRITES its own directory instead of
double-appending — the write is idempotent per batch id, and the
corpus is the union of committed partitions. The replayed batch also
EXCLUDES its own partition from the dedup corpus (it may exist from
the crashed attempt; deduping against it would empty the survivor set
and the overwrite would lose the batch) — so a rerun sees exactly the
corpus the original run saw. At production scale the
same logic targets Delta/Iceberg `MERGE INTO` where the commit is a
metadata operation; the fingerprint semi-join shape is identical.

Scale shape: the corpus side of the dedup join reduces to DISTINCT
16-byte fingerprints (never documents), the batch side is
micro-batch-sized, and the append touches only the new partition —
per-batch cost is O(batch + corpus fingerprints), with the
fingerprint scan pruned to the `fp` column by parquet column pruning.

The near-dup twin, ``near_ingest_dedup_stream``, keeps the same
exactly-once construction over a persisted dedup index. Each of its
batches is one encode, one dedup and four partition writes (corpus,
fps, buckets, postings), all from one materialised survivor set: no
read-back of the written partition and no second encode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_mrdf_spark.io import read_stream_partitions, same_path


def _in_batch_exact_dedup(batch_df: DataFrame) -> DataFrame:
    """Lowest id per identical text within one micro-batch (q77's
    in-batch rule), using the SAME ``fingerprint`` the batch operators
    hash with — one definition, so the streams cannot drift from the
    batch verdicts if the fingerprint function ever changes."""
    from pyspark_mrdf_spark.functions.text import fingerprint

    first = batch_df.groupBy(fingerprint("text").alias("_fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        batch_df.withColumn("_fp", fingerprint("text"))
        .join(first, ["doc_id", "_fp"], "left_semi")
        .drop("_fp")
    )


def ingest_dedup_stream(
    docs: DataFrame,
    corpus_path: str,
    checkpoint: str,
    query_name: str = "ingest_dedup",
):
    """Start the ingestion query (caller awaits termination).

    ``docs`` is a streaming DataFrame with at least (doc_id, text);
    every column is carried through to the corpus. Returns the
    StreamingQuery."""
    from pyspark_mrdf_spark.operators.dedup import dedup_against

    spark = docs.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        part_path = f"{corpus_path.rstrip('/')}/batch={batch_id}"
        # a REPLAYED batch (crash between the parquet write and the
        # checkpoint commit) must not dedupe against its own
        # partially/fully written partition — that would drop every
        # row as already-admitted and then overwrite the partition
        # with the empty survivor set, losing the batch. Excluding
        # batch=<id> makes replay truly idempotent: the rerun sees
        # exactly the corpus the original run saw.
        corpus = read_stream_partitions(spark, corpus_path, exclude_batch=batch_id)
        if corpus is not None:
            survivors = dedup_against(batch_df, corpus.drop("batch"))
        else:
            # first batch: in-batch dedup only (lowest id per text)
            survivors = _in_batch_exact_dedup(batch_df)
        # idempotent append: a replayed batch overwrites ITS OWN
        # partition directory — never double-admits
        survivors.write.mode("overwrite").parquet(part_path)

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def index_append_stream(
    vectors: DataFrame,
    index_path: str,
    checkpoint: str,
    query_name: str = "index_append",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming ANN-index maintenance — the streaming twin of
    ``quantize.append_index``, for every codec: each micro-batch of
    newly embedded vectors is encoded with the index's FROZEN persisted
    params (through its persisted rotation when there is one; no
    retrain, no re-encode of the stored corpus) and lands as the
    batch-id partition ``stream_codes/batch=<id>`` of the index
    directory (cell-partitioned inside it for IVF-PQ). Same
    exactly-once construction as ``ingest_dedup_stream``: a replayed
    batch overwrites its own partition instead of double-appending, so
    the stored index is the union of committed partitions and
    ``read_index`` serves base + streamed codes transparently.

    Because the params are frozen, a streamed index is bit-identical
    to batch-appending the same vectors (equivalence-tested), and the
    retrain trigger stays where it is for the batch path: watch the
    ``index_cell_stats``/``sq8_drift_stats`` monitors and rebuild on
    schedule. Per-batch cost is O(batch) encode + one partition write
    — no corpus-sized work at any batch."""
    from pyspark_mrdf_spark.operators.quantize import (
        _encode_for_index,
        _read_params,
        _write_codes,
    )

    spark = vectors.sparkSession
    base = index_path.rstrip("/")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        params = _read_params(spark, index_path)
        codes, partition = _encode_for_index(params, batch_df, id_col, vec_col)
        _write_codes(codes, f"{base}/stream_codes/batch={batch_id}", "overwrite", partition)

    return (
        vectors.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def near_ingest_dedup_stream(
    docs: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    query_name: str = "near_ingest_dedup",
):
    """Continuous corpus ingestion with NEAR-dup dedup served off the
    persisted dedup index — the streaming twin of the q122 batch loop
    (``operators/dedup_index``: ``near_dedup_against_index`` +
    ``append_dedup_index``), completing the ingest family:
    ``ingest_dedup_stream`` = exact tier over a grown corpus,
    ``index_append_stream`` = ANN-index maintenance, this = fuzzy tier
    over a grown INDEX.

    The index must exist before the stream starts (``write_dedup_index``
    on the seed corpus — its banding params are FROZEN for the life of
    the stream, the quantizer-freezing discipline). Each micro-batch:
    exact in-batch dedup (lowest id per identical text, q77's rule;
    in-batch NEAR pairs pass through, matching the batch operator's
    batch-vs-corpus semantics), then ``near_dedup_against_index``
    against base + all OTHER committed stream partitions — the
    self-exclusion keeps a crash-replayed batch from deduping against
    its own partial writes (see ``ingest_dedup_stream``). Survivor
    docs land in ``corpus_path/batch=<id>``; their fps/buckets/
    postings land in ``stream_<table>/batch=<id>`` under the index —
    all four writes idempotent per batch id, so the stream is
    exactly-once per committed checkpoint batch, and ``read_dedup_index``
    serves base + streamed state transparently (row-identical to batch
    ``append_dedup_index`` of the same survivors; equivalence-tested).

    Per-batch work is one encode, one dedup and four writes, with no
    read-back. The in-batch dedup is cut once (``operators/util.checkpoint``,
    so the reliable flag applies) and encoded once with the index's
    frozen params: its LSH buckets and postings probe the index inside
    ``near_dedup_against`` and are cut too. The survivors are cut once,
    and all four partitions are written from them: the corpus rows, their
    fingerprints, and the rows of the one encode whose ``doc_id`` survived
    (a broadcast semi-join). So the index holds exactly the committed
    docs, row-identical to ``_index_state`` of the corpus partition
    (tested), without reading it back or encoding it again. The cost is
    batch-sized encode + candidate-pruned verify + one partition write
    per table — no corpus-sized recompute at any batch."""
    from pyspark_mrdf_spark.functions.text import fingerprint
    from pyspark_mrdf_spark.operators.dedup_index import (
        _index_state,
        near_dedup_against_index,
        read_dedup_index,
    )
    # aliased: this function's ``checkpoint`` is the stream's location
    from pyspark_mrdf_spark.operators.util import checkpoint as cut

    spark = docs.sparkSession
    idx_base = index_path.rstrip("/")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        idx = read_dedup_index(spark, index_path, _exclude_stream_batch=batch_id)
        p = idx.params
        # one cut of the in-batch dedup: the encode below reads a
        # materialised frame, so spread's partition count is metadata
        # instead of a re-run of the groupBy + semi-join stages
        batch = cut(_in_batch_exact_dedup(batch_df))
        # the one encode, with the index's frozen params: the dedup
        # probes with it, and the survivors' rows of it are what the
        # index admits
        _, buckets, postings = _index_state(
            batch, p["num_hashes"], p["bands"], p["rows_per_band"], p["n"],
            "doc_id", "text",
        )
        buckets, postings = cut(buckets), cut(postings)
        survivors = cut(
            near_dedup_against_index(
                batch, idx, threshold, batch_buckets=buckets, batch_postings=postings
            )
        )
        # all four writes come from the one cut survivor set, so the
        # index sees exactly the rows the corpus partition commits
        survivors.write.mode("overwrite").parquet(
            f"{corpus_path.rstrip('/')}/batch={batch_id}"
        )
        kept = F.broadcast(survivors.select("doc_id"))
        survivors.select("doc_id", fingerprint("text").alias("fp")).write.mode(
            "overwrite"
        ).parquet(f"{idx_base}/stream_fps/batch={batch_id}")
        # band-partitioned like the base build and batch appends, so a
        # streamed-into index keeps the same storage-level layout
        buckets.join(kept, "doc_id", "left_semi").write.mode("overwrite").partitionBy(
            "band"
        ).parquet(f"{idx_base}/stream_buckets/batch={batch_id}")
        postings.join(kept, "doc_id", "left_semi").write.mode("overwrite").parquet(
            f"{idx_base}/stream_postings/batch={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def write_graph_state(
    corpus: DataFrame,
    graph: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Seed the persisted state ``graph_append_stream`` maintains:
    ``corpus/base`` (id, vector — extra columns dropped so streamed
    batch partitions union cleanly) + ``graph/base`` (src, dst,
    dist_sq, rnk — any rank-carrying in-engine graph builder's
    output). One-time, before the stream starts — the
    ``write_dedup_index``-before-``near_ingest_dedup_stream``
    discipline."""
    base = state_path.rstrip("/")
    corpus.select(id_col, vec_col).write.mode("overwrite").parquet(
        f"{base}/corpus/base"
    )
    graph.select("src", "dst", "dist_sq", "rnk").write.mode(
        "overwrite"
    ).parquet(f"{base}/graph/base")


def read_graph_state(
    spark,
    state_path: str,
    _exclude_stream_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(corpus, graph) as served from the persisted state: corpus =
    base + every committed vector micro-batch; graph = base overlaid
    with the per-batch REPLACEMENT deltas, LATEST delta winning per
    src (``knn_graph_append(return_delta=True)``'s contract: a delta
    row set replaces its src's whole adjacency). The overlay is one
    src-keyed max-batch join over the O(n·k) edge rows — paid at
    serve/maintenance time, not per delta row; a compaction pass
    (fold the resolved graph into ``graph/base`` and clear deltas)
    bounds delta count exactly like the single-source index merge.

    ``_exclude_stream_batch``: replay idempotency (the
    ``ingest_dedup_stream`` rule) — a crash-replayed batch must see
    exactly the state the original attempt saw, so its own (possibly
    partially written) partitions are excluded from both reads.

    Delta growth is bounded by ``compact_graph_state`` (below), not by
    hand-rebuilding base."""
    base = state_path.rstrip("/")
    corpus = spark.read.parquet(f"{base}/corpus/base")
    graph = spark.read.parquet(f"{base}/graph/base").withColumn(
        "_b", F.lit(-1).cast("long")
    )
    sc = read_stream_partitions(spark, f"{base}/corpus/stream", _exclude_stream_batch)
    if sc is not None:
        corpus = corpus.unionByName(sc.drop("batch"))
    sg = read_stream_partitions(spark, f"{base}/graph/stream", _exclude_stream_batch)
    if sg is not None:
        graph = graph.unionByName(
            sg.select(
                "src", "dst", "dist_sq", "rnk",
                F.col("batch").cast("long").alias("_b"),
            )
        )
        latest = graph.groupBy("src").agg(F.max("_b").alias("_b"))
        graph = graph.join(latest, ["src", "_b"])
    return corpus, graph.select("src", "dst", "dist_sq", "rnk")


def compact_graph_state(spark, state_path: str, dst_path: str) -> None:
    """Fold ``state_path``'s base + every committed stream delta into
    a FRESH single-base state at ``dst_path`` — the
    single-source ``merge_indexes`` COMPACTION pattern
    (operators/quantize.py), including the guarded not-in-place
    contract (paths compared after qualification, so a ``file://``
    form of the source is refused too).

    Why it exists: ``read_graph_state`` pays one ``unionByName`` +
    latest-wins overlay join per serve/maintenance read, LINEAR in
    committed delta count — a long-running ``graph_append_stream``
    accumulates deltas without bound, and each is a small file (the
    many-small-files scan tax on top of the overlay). Compaction folds
    the RESOLVED graph into ``graph/base`` and the streamed vectors
    into ``corpus/base``, so the overlay restarts empty; serving reads
    off the compacted state are row-identical to the uncompacted
    overlay (equivalence-tested).

    Caller contract (same discipline as the single-source index merge):
     - ``dst_path`` must be a fresh directory — compacting in place
       would overwrite ``graph/base`` while lazily reading it
       (guarded; swap dst into place after the write commits).
     - Run while the stream is QUIESCENT (cleanly stopped, or between
       ``availableNow`` drains with no uncommitted batch): a batch
       that crashed mid-write and later REPLAYS must read state with
       its own partitions excluded, which is impossible once they are
       folded into base. A cleanly stopped stream has no such batch.
       Restart the stream against ``dst_path`` with the SAME
       checkpoint — subsequent batch ids are strictly newer than every
       folded one, so the exclusion contract stays intact
       (checkpoint-restart-tested across a compaction)."""
    if same_path(spark, state_path, dst_path):
        raise ValueError(
            f"compact_graph_state: dst_path {dst_path!r} is the source state "
            "— compact into a fresh directory, then swap it into place"
        )
    corpus, graph = read_graph_state(spark, state_path)
    dst = dst_path.rstrip("/")
    corpus.write.mode("overwrite").parquet(f"{dst}/corpus/base")
    graph.select("src", "dst", "dist_sq", "rnk").write.mode(
        "overwrite"
    ).parquet(f"{dst}/graph/base")


def graph_append_stream(
    vectors: DataFrame,
    state_path: str,
    checkpoint: str,
    k: int,
    mode: str = "graph",
    query_name: str = "graph_append",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **append_kwargs,
):
    """Streaming kNN-graph maintenance — the micro-batch twin of
    ``knn_graph_append`` (the third leg of the ingest family:
    ``ingest_dedup_stream`` = corpus dedup, ``index_append_stream`` =
    quantized-index growth, this = the SERVED GRAPH itself). Each
    vector micro-batch folds into the persisted graph state: the batch
    walks the current graph for candidates (graph tier — the old
    corpus is never rescanned), and exactly two O(batch)-row
    partitions land per batch id — the vectors
    (``corpus/stream/batch=<id>``) and the replacement delta
    (``graph/stream/batch=<id>``). Exactly-once by the established
    construction: a replayed batch OVERWRITES its own partitions and
    reads state with itself excluded, so replay is idempotent
    (checkpoint-restart-tested); ``read_graph_state`` serves base +
    deltas latest-wins, equivalent to chaining batch
    ``knn_graph_append`` calls (equivalence-tested, bit-identical on
    the exact tier).

    The state round-trips through parquet every batch, so each fold
    plans on REAL file statistics — the stats-compounding failure the
    batch chain needed ``materialize=True`` for cannot arise here.

    Drift contract: same as batch chaining — graph-tier folds walk an
    approximate graph, so sampled recall decays slowly (measured ~1%
    per 2% batch at n=100k); monitor with the sampled-GT estimator
    and rebuild ``graph/base`` (+ clear deltas) when the ratio crosses
    the retrain dial."""
    from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append

    spark = vectors.sparkSession
    base = state_path.rstrip("/")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        corpus, graph = read_graph_state(
            spark, state_path, _exclude_stream_batch=batch_id
        )
        delta = knn_graph_append(
            graph, corpus, batch_df, k, mode=mode,
            id_col=id_col, vec_col=vec_col, return_delta=True,
            **append_kwargs,
        )
        # corpus FIRST, graph delta second: a crash between the two
        # writes then leaves a serving-time read_graph_state (no batch
        # exclusion) at worst consistently STALE — a graph over a
        # corpus superset — never a graph whose delta rows reference
        # vec_ids absent from the corpus (the dangling-edge window the
        # reverse order had until the stream replayed the batch).
        batch_df.select(id_col, vec_col).write.mode("overwrite").parquet(
            f"{base}/corpus/stream/batch={batch_id}"
        )
        delta.write.mode("overwrite").parquet(
            f"{base}/graph/stream/batch={batch_id}"
        )

    return (
        vectors.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
