"""Serving wall of SQ8 / PQ / BQ search_encoded on one checkout of the repo.

usage: python plans/pr6/serving_ab.py CHECKOUT_DIR OUT.jsonl
Appends one JSON line per (codec, repeat); run it alternately on two
checkouts (the parent with the per-codec *_search_encoded, the change with
search_encoded) to compare them.
"""
import json, os, sys, tempfile, time

root, out = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
import numpy as np

from pyspark_mrdf_spark.session import get_spark
import pyspark_mrdf_spark.operators.quantize as Q

spark = get_spark(app_name="slabbench", shuffle_partitions=8)
NEW = hasattr(Q, "search_encoded")
N, D, NQ, K = 40_000, 64, 3000, 10
rng = np.random.default_rng(5)
centers = rng.standard_normal((100, D)) * 2.5
x = (centers[rng.integers(0, 100, N)] + rng.standard_normal((N, D))).astype(np.float32)
corpus = spark.createDataFrame(
    [(int(i), x[i].tolist()) for i in range(N)], "vec_id long, embedding array<float>"
).repartition(4).localCheckpoint(eager=True)
queries = corpus.filter(f"vec_id < {NQ}").localCheckpoint(eager=True)
PQ = dict(n_subspaces=8, n_codes=64, sample_size=4096, iters=8, seed=7)
rows = []
for kind, tkw in (("sq8", {}), ("pq", PQ), ("bq", {})):
    path = tempfile.mkdtemp(prefix="slabbench_")
    Q.build_index(corpus, path, kind, **tkw)
    p, codes = Q.read_index(spark, path)
    codes = codes.localCheckpoint(eager=True)
    for rep in range(2):
        t0 = time.perf_counter()
        if NEW:
            served = Q.search_encoded(queries, p, codes, corpus, K)
        elif kind == "sq8":
            served = Q.sq8_search_encoded(queries, codes, p["mn"], p["mx"], corpus, K)
        elif kind == "pq":
            served = Q.pq_search_encoded(queries, codes, p["codebooks"], corpus, K)
        else:
            served = Q.bq_search_encoded(queries, codes, p["thr"], corpus, K)
        n = len(served.collect())
        rows.append(dict(kind=kind, rep=rep, wall_s=round(time.perf_counter() - t0, 3), rows=n))
        print(rows[-1], flush=True)
with open(out, "a") as f:
    for r in rows:
        f.write(json.dumps(dict(tree=os.path.basename(root.rstrip("/")), **r)) + "\n")
