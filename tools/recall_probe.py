"""ANN recall/fan-out probe: put NUMBERS on the recall-vs-candidate-
fraction trade of the stored IVF-PQ index (ext/ann_store.py) against
exact brute-force squared L2, at sf0.1 and on perturbation-amplified
corpora (tools/scale_amplify.py's embedding builder: replica i rotates
the vector, preserving norms/distribution while growing cell occupancy
linearly — the honest way to scale this probe).

Recall@k = |ANN top-k ∩ exact top-k| / k, averaged over Q query
vectors (ties at the boundary count against the ANN method, matching
how a user experiences it).  Fan-out = code rows read from the probed
cells / (Q × corpus): the fraction of the corpus each query actually
paid a distance for — the quantity ANN exists to shrink.

Usage: python tools/recall_probe.py [factors...]   # default 1 4 16
Prints one JSON line per (factor, method).  Paste into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_amplify import _amplified_embeddings  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
K = 10
Q = 20  # query vectors: the Q lowest original vec_ids (present at every factor)
IVF_C = 16


def _measure_ivfpq_store(
    spark, store, label, qvecs, exact_l2, n_corpus, pq_m, pq_sub, tag
):
    """Read-out for ONE built IVF-PQ store: empty cells over the full
    cell domain, then recall/fan-out/secs at nprobe 2 and 4.  ``tag``
    carries the caller's context fields (the amplification factor)."""
    from pipeline311_spark.ext.ann_store import (
        ann_adc_topk_from_store,
        load_ann_index,
        probe_cells_py,
    )

    idx = load_ann_index(spark, store, m=pq_m)
    cents = {r["cell"]: list(r["cv"]) for r in idx.centroids.collect()}
    sizes = {
        r["pcell"]: r["n"]
        for r in idx.codes.groupBy("pcell").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    n_empty = sum(1 for c in cents if sizes.get(f"c{c}", 0) == 0)
    for np_ in (2, 4):
        probes = probe_cells_py(qvecs, cents, np_)
        rows = sum(
            sizes.get(f"c{c}", 0) for cells in probes.values() for c in cells
        )
        t0 = time.time()
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_adc_topk_from_store(
                spark, store, qvecs, k=K, nprobe=np_, m=pq_m, subdim=pq_sub
            ).collect()
        }
        print(
            json.dumps(
                {
                    **tag,
                    "n_corpus": n_corpus,
                    "method": f"{label}_np{np_}",
                    "recall_at_k_vs_exact_l2": round(
                        len(got & exact_l2) / (Q * K), 4
                    ),
                    "fanout": round(rows / (Q * n_corpus), 5),
                    "n_empty_cells": n_empty,
                    "secs": round(time.time() - t0, 3),
                    "k": K,
                    "q": Q,
                }
            )
        )


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.ann_store import ann_index_build
    from pipeline311_spark.ext.similarity import brute_force_topk

    factors = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("recall_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="p311_recall_")
    try:
        for m in factors:
            path = os.path.join(tmp, f"x{m}")
            _amplified_embeddings(spark, m).repartition(32).write.mode(
                "overwrite"
            ).parquet(path)
            corpus = spark.read.parquet(path).filter(F.col("embedding").isNotNull())
            n_corpus = corpus.count()
            queries = corpus.filter(F.col("vec_id") < Q)

            # ADC ranks by approximate L2, so recall is measured against
            # the exact L2 top-k (its own metric).  Swept at the
            # registry's 4-entry codebook and a production-shaped
            # 16-entry one; fan-out counts code rows actually read from
            # the probed cell partitions.
            exact_l2 = {
                (r["query_id"], r["neighbor_id"])
                for r in brute_force_topk(
                    corpus, queries, k=K, metric="sqdist"
                ).collect()
            }
            qvecs = {
                r["vec_id"]: [float(x) for x in r["embedding"]]
                for r in queries.collect()
            }
            for pq_m, pq_sub, pq_k in ((4, 16, 4), (16, 4, 16)):
                label = f"ivfpq_store_m{pq_m}_k{pq_k}"
                store = os.path.join(tmp, f"{label}_x{m}")
                ann_index_build(
                    spark, corpus, store, n_cells=IVF_C, pq_k=pq_k, m=pq_m, subdim=pq_sub
                )
                _measure_ivfpq_store(
                    spark, store, label, qvecs, exact_l2, n_corpus,
                    pq_m, pq_sub, tag={"factor": m},
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
