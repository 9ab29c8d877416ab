"""Amplified-corpus scaling probe for the dedup/similarity family.

The driver testdata tops out at sf0.1 (5 000 documents / 2 000
embeddings) — small enough that most operators are overhead-bound and a
10x step ratio of ~1.5 proves little about the data-proportional
regime.  This tool manufactures x1 / x4 / x16 corpora from sf0.1
(80 000 docs / 32 000 vectors at x16), measures the quadratic-risk
operators on each, and reports step ratios.

Amplification preserves workload SHAPE:

* documents: replica i rotates the alphabet by i (``F.translate``), so
  every replica's text is unrelated to every other's — near-dup density
  per replica equals the original corpus's, total near-dup pairs scale
  linearly, and candidate generation sees a genuinely larger corpus,
  not one degenerate 16-member dup group per doc.
* embeddings: replica i rotates the vector by i positions — different
  directions, same norm/distribution, so IVF cell occupancy grows
  linearly instead of piling replicas into the same cells.

Ids are offset per replica (disjoint).  Corpora are written to /tmp
parquet once (build time excluded from op timings); ops are timed
best-of-2 with the cache cleared, one session.

Usage: python tools/scale_amplify.py [max_factor]   # default 16
Prints one JSON line per op: {"op", "secs": {factor: s}, "ratios"}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _amplified_docs(spark, m: int):
    from pyspark.sql import functions as F

    from pipeline311_spark.plans.common import table

    d = table(spark, SF_DIR, "documents").select("doc_id", "text", "lang", "source")
    parts = []
    for i in range(m):
        rot = ALPHA[i % 26 :] + ALPHA[: i % 26]
        parts.append(
            d.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                F.translate(F.col("text"), ALPHA, rot).alias("text"),
                "lang",
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _amplified_embeddings(spark, m: int):
    from pyspark.sql import functions as F

    from pipeline311_spark.plans.common import table

    e = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    parts = []
    for i in range(m):
        rot = i % 64
        emb = F.col("embedding")
        rolled = (
            F.concat(F.slice(emb, rot + 1, 64 - rot), F.slice(emb, 1, rot)) if rot else emb
        )
        parts.append(
            e.select((F.col("vec_id") + i * 10_000_000).alias("vec_id"), rolled.alias("embedding"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # args: [max_factor] [op ...] — a non-numeric first arg is an op
    # filter with the default factor
    args = sys.argv[1:]
    if args and args[0].isdigit():
        max_factor, args = int(args[0]), args[1:]
    else:
        max_factor = 16
    factors = [f for f in (1, 4, 16, 64) if f <= max_factor]
    env_f = os.environ.get("SPARK_GRAFT_AMPLIFY_FACTORS")
    if env_f:  # e.g. "64" to run one factor in its own process
        factors = [int(x) for x in env_f.split(",")]
    only = set(args)  # optional op-name filter (e.g. just 'lang_id')

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("pipeline311_scale_amplify")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pipeline311_spark.ext.dedup import (
        exact_dup_groups,
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from pipeline311_spark.ext.similarity import brute_force_topk
    from pipeline311_spark.ext.textstats import (
        lang_pred_from_scores,
        lang_scores_on_tokens,
        tokens,
    )

    def lang_guess(d):
        """Language ID in text_lang_id's staged form: lowered tokens
        once, then the per-language scores, then the argmax."""
        toks = d.selectExpr(f"transform({tokens('text')}, x -> lower(x)) AS __tl")
        return toks.selectExpr(
            f"{lang_pred_from_scores(lang_scores_on_tokens('__tl'))} AS lang_guess"
        )

    base = tempfile.mkdtemp(prefix="p311_amplify_")
    docs_path = {}
    emb_path = {}
    for m in factors:
        docs_path[m] = os.path.join(base, f"docs_x{m}")
        emb_path[m] = os.path.join(base, f"emb_x{m}")
        _amplified_docs(spark, m).repartition(32).write.mode("overwrite").parquet(docs_path[m])
        _amplified_embeddings(spark, m).repartition(32).write.mode("overwrite").parquet(emb_path[m])
    print(
        json.dumps(
            {
                "corpus": {
                    m: {
                        "docs": spark.read.parquet(docs_path[m]).count(),
                        "vectors": spark.read.parquet(emb_path[m]).count(),
                    }
                    for m in factors
                }
            }
        ),
        flush=True,
    )

    def docs(m):
        return spark.read.parquet(docs_path[m])

    def embs(m):
        return spark.read.parquet(emb_path[m])

    OPS = {
        "exact_dup_groups": lambda m: exact_dup_groups(docs(m), "doc_id", "text"),
        "minhash_dedup_pairs": lambda m: minhash_dedup_pairs(
            docs(m), "doc_id", "text", k=16, bands=4, n=5, threshold=0.2
        ),
        "ngram_jaccard_pairs": lambda m: ngram_jaccard_pairs(
            docs(m), "doc_id", "text", n=5, threshold=0.2, max_df=50
        ),
        "lang_id": lambda m: lang_guess(docs(m)).groupBy("lang_guess").count(),
        "brute_force_topk": lambda m: brute_force_topk(
            embs(m), embs(m).filter(F.col("vec_id") < 10), k=10
        ),
    }

    # warm codegen paths
    OPS["minhash_dedup_pairs"](1).count()
    OPS["brute_force_topk"](1).count()

    for name, fn in OPS.items():
        if only and name not in only:
            continue
        secs: dict[int, float] = {}
        rows: dict[int, int] = {}
        for m in factors:
            best = float("inf")
            try:
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.time()
                    n = fn(m).count()
                    best = min(best, time.time() - t0)
                secs[m] = round(best, 3)
                rows[m] = n
            except Exception as e:
                secs[m] = None
                rows[m] = f"err: {type(e).__name__}: {str(e).splitlines()[0][:120]}"
                break
        ratios = []
        fs = [m for m in factors if isinstance(secs.get(m), float)]
        for a, b in zip(fs, fs[1:]):
            ratios.append(round(secs[b] / secs[a], 2) if secs[a] else None)
        print(json.dumps({"op": name, "secs": secs, "rows": rows, "ratios": ratios}), flush=True)

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
