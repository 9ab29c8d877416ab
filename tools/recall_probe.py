"""ANN recall/fan-out probe (r8, VERDICT r7 punch #6): put NUMBERS on
the recall-vs-candidate-fraction trade for the ANN paths —
single-bucket LSH, multi-probe LSH, and the stored IVF-PQ index
(ext/ann_store.py) — against exact
brute-force cosine, at sf0.1 and on perturbation-amplified corpora
(tools/scale_amplify.py's embedding builder: replica i rotates the
vector, preserving norms/distribution while growing bucket occupancy
linearly — the honest way to scale this probe).

Recall@k = |ANN top-k ∩ exact top-k| / k, averaged over Q query
vectors (ties at the boundary count against the ANN method, matching
how a user experiences it).  Fan-out = scored candidate pairs /
(Q × corpus): the fraction of the corpus each query actually paid a
cosine for — the quantity ANN exists to shrink.

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
PLANES = 8
SEED = 7
DIM = 64
IVF_C = 16


def _clustered_embeddings(spark, n: int, g: int = 8, dim: int = DIM, spread: float = 0.08):
    """Deterministic mixture-of-Gaussians-ish corpus (VERDICT r10
    item 6): the amplified sf0.1 vectors are near-uniform — the EASY
    case for cell balance — so the trained-vs-seeded comparison needs
    a fixture with real cluster structure AND real skew.  Cluster
    centers and per-point noise come from a classic 31-bit LCG
    (x → 1103515245·x + 12345 mod 2³¹) evaluated as Column math
    (operands stay ≲ 2²¹ so the multiply never overflows ANSI bigint).
    The corpus is SOURCE-ORDERED: the entire first half of the id
    space is cluster 0, the second half spreads over the remaining
    g−1 — the production hazard this fixture models is head-of-corpus
    seed selection on a corpus grouped by source, which lands EVERY
    seed centroid inside one cluster (the first probe cut used
    interleaved ids and measured nothing: density-proportional seeds
    already balance — data-drawn seeds are only pathological when the
    draw order correlates with the structure)."""
    from pyspark.sql import functions as F

    def lcg01(x):  # x: small non-negative int Column -> [0, 1)
        return (
            F.pmod(x * F.lit(1103515245) + F.lit(12345), F.lit(2147483648))
            / F.lit(2147483648.0)
        )

    ids = spark.range(n).select(F.col("id").cast("long").alias("vec_id"))
    head = F.col("vec_id") < n // 2
    cluster = F.when(head, F.lit(0)).otherwise(
        (F.col("vec_id") % F.lit(g - 1)) + 1
    )
    d = F.sequence(F.lit(0), F.lit(dim - 1))
    emb = F.transform(
        d,
        lambda i: (
            (lcg01(cluster * dim + i) * 2 - 1)  # the cluster center
            + (lcg01((F.col("vec_id") % 1_000_000) * dim + i + F.lit(31)) * 2 - 1)
            * F.lit(spread)
        ).cast("float"),
    )
    return ids.select("vec_id", emb.alias("embedding"))



def _measure_ivfpq_store(
    spark, store, label, qvecs, exact_l2, n_corpus, pq_m, pq_sub, tag
):
    """Shared read-out for ONE built IVF-PQ store (review r11: the
    clustered fixture had copy-pasted this ~40-line body from the
    amplified sweep, and the two had already drifted — only the copy
    reported n_empty_cells): cell balance over the FULL trained cell
    domain (zero-filled, ADVICE r10), then recall/fan-out/secs at
    nprobe 2 and 4.  ``tag`` carries the caller's context fields
    (factor / fixture name)."""
    from pipeline311_spark.ext.ann_store import (
        ann_adc_topk_from_store,
        cell_balance_py,
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
    max_cell, med_cell = cell_balance_py(
        {f"c{c}": sizes.get(f"c{c}", 0) for c in cents}
    )
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
                    "max_cell": max_cell,
                    "med_cell": med_cell,
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

    from pipeline311_spark.ext.ann_store import (
        ann_index_build,
        ann_index_build_trained,
    )
    from pipeline311_spark.ext.similarity import (
        brute_force_topk,
        lsh_ann_topk,
        lsh_bucket,
        lsh_multiprobe_topk,
    )

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

            exact = {
                (r["query_id"], r["neighbor_id"])
                for r in brute_force_topk(corpus, queries, k=K).collect()
            }

            def fanout_lsh(multiprobe: bool, planes: int = PLANES) -> float:
                cb = lsh_bucket(corpus, "vec_id", "embedding", planes, SEED, DIM)
                qb = lsh_bucket(queries, "vec_id", "embedding", planes, SEED, DIM)
                if multiprobe:
                    # each probe list = own bucket + n_planes flips; count
                    # corpus rows per probed bucket (pairs, minus self)
                    from pipeline311_spark.ext.similarity import _flip_bit

                    probes = F.array(
                        F.col("bucket"),
                        *[_flip_bit(F.col("bucket"), i) for i in range(planes)],
                    )
                    qx = qb.select(
                        F.col("vec_id").alias("qid"), F.explode(probes).alias("bucket")
                    )
                else:
                    qx = qb.select(F.col("vec_id").alias("qid"), "bucket")
                pairs = (
                    qx.join(cb.select("vec_id", "bucket"), "bucket")
                    .filter(F.col("qid") != F.col("vec_id"))
                    .count()
                )
                return pairs / (Q * n_corpus)

            # the trade curve: LSH at the registry's 8 planes and a
            # wider 4-plane setting, multi-probe for both — recall
            # climbs with fan-out; the probe makes the slope a number
            methods = {
                "lsh_p8": (
                    lambda: lsh_ann_topk(
                        corpus, queries, k=K, n_planes=8, seed=SEED, dim=DIM
                    ),
                    lambda: fanout_lsh(False, 8),
                ),
                "lsh_p8_multiprobe": (
                    lambda: lsh_multiprobe_topk(
                        corpus, queries, k=K, n_planes=8, seed=SEED, dim=DIM
                    ),
                    lambda: fanout_lsh(True, 8),
                ),
                "lsh_p4": (
                    lambda: lsh_ann_topk(
                        corpus, queries, k=K, n_planes=4, seed=SEED, dim=DIM
                    ),
                    lambda: fanout_lsh(False, 4),
                ),
                "lsh_p4_multiprobe": (
                    lambda: lsh_multiprobe_topk(
                        corpus, queries, k=K, n_planes=4, seed=SEED, dim=DIM
                    ),
                    lambda: fanout_lsh(True, 4),
                ),
            }

            # r9: the STORED IVF+PQ index (ext/ann_store.py).  ADC ranks
            # by approximate L2, so its recall is measured against the
            # exact L2 top-k (its own metric — the sim_pq_recall_audit
            # convention; mixing in the cosine baseline would charge the
            # metric difference to the index).  Swept at the registry's
            # 4-entry codebook and a production-shaped 16-entry one;
            # fan-out counts code rows actually read from the probed
            # cell partitions.

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
            # r10: residual encoding is the store's encode path, and the
            # TRAINED build (Lloyd cells + residual-trained codebook) is
            # swept alongside the seeded one; every line now carries the
            # cell-balance statistic (max/median cell population — the
            # number that bounds nprobe pruning's worst case, VERDICT r9
            # item 4).
            builds = []
            for pq_m, pq_sub, pq_k in ((4, 16, 4), (16, 4, 16)):
                builds.append((f"ivfpq_store_m{pq_m}_k{pq_k}", pq_m, pq_sub, pq_k, False))
            builds.append(("ivfpq_trained_m4_k16", 4, 16, 16, True))
            for label, pq_m, pq_sub, pq_k, trained in builds:
                store = os.path.join(tmp, f"{label}_x{m}")
                if trained:
                    ann_index_build_trained(
                        spark, corpus, store,
                        n_cells=IVF_C, pq_k=pq_k, m=pq_m, subdim=pq_sub, iters=2,
                    )
                else:
                    ann_index_build(
                        spark, corpus, store, n_cells=IVF_C, pq_k=pq_k, m=pq_m, subdim=pq_sub
                    )
                _measure_ivfpq_store(
                    spark, store, label, qvecs, exact_l2, n_corpus,
                    pq_m, pq_sub, tag={"factor": m},
                )
            for name, (fn, fan) in methods.items():
                t0 = time.time()
                got = {(r["query_id"], r["neighbor_id"]) for r in fn().collect()}
                secs = round(time.time() - t0, 3)
                print(
                    json.dumps(
                        {
                            "factor": m,
                            "n_corpus": n_corpus,
                            "method": name,
                            "recall_at_k": round(len(got & exact) / (Q * K), 4),
                            "fanout": round(fan(), 5),
                            "secs": secs,
                            "k": K,
                            "q": Q,
                        }
                    )
                )
        # Clustered-skew fixture (VERDICT r10 item 6): the sweep above
        # runs on near-uniform vectors, where seed cells already
        # balance; THIS block is the regime Lloyd training exists for —
        # a hot cluster holding half the corpus.  Same store path, same
        # exact-L2 baseline, seeded vs trained side by side.
        cpath = os.path.join(tmp, "clustered")
        _clustered_embeddings(spark, 8192).repartition(32).write.mode(
            "overwrite"
        ).parquet(cpath)
        corpus = spark.read.parquet(cpath)
        n_corpus = corpus.count()
        queries = corpus.filter(F.col("vec_id") < Q)
        exact_l2 = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(corpus, queries, k=K, metric="sqdist").collect()
        }
        qvecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in queries.collect()
        }
        for label, trained in (("seeded", False), ("trained", True)):
            store = os.path.join(tmp, f"clustered_{label}")
            if trained:
                ann_index_build_trained(
                    spark, corpus, store,
                    n_cells=IVF_C, pq_k=16, m=4, subdim=16, iters=2,
                )
            else:
                ann_index_build(
                    spark, corpus, store, n_cells=IVF_C, pq_k=16, m=4, subdim=16
                )
            _measure_ivfpq_store(
                spark, store, f"ivfpq_{label}", qvecs, exact_l2, n_corpus,
                4, 16, tag={"fixture": "clustered_hotcell"},
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
