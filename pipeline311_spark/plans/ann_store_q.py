"""Round-9 dense-retrieval promotion: IVF+PQ as a STORED, incrementally
maintained index (ext/ann_store.py) — the vector-side mirror of the
round-8 BM25 artifact stack (VERDICT r8 item 1).

* ``sim_ivfpq_from_store`` — train the frozen quantizer (coarse cells +
  PQ codebook from the deterministic corpus-head seeds), WRITE all
  three artifacts (the codes as batch 0 of the codes log), and serve
  ADC top-k from the store: the codes read is partition-PRUNED to each
  query's nprobe cells (driver-computed from the collected
  metadata-scale centroids → static PartitionFilters, asserted in
  tests/test_ann_store.py).
Its DuckDB twin derives cell assignment, PQ codes, probe cells, and
ADC ranking from the raw embeddings — the storage hop and the pruning
must be invisible in the result.  Scale shape: serve touches |probed cells| code partitions
(M small ints per vector), the corpus floats are read only at build;
per-batch update cost is one batch pass.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipeline311_spark.ext.ann_store import (
    ann_adc_topk_from_store,
    ann_codes_append_batch,
    ann_index_build,
)
from pipeline311_spark.plans.common import emb_table, materialize, scratch_dir
from pipeline311_spark.plans.curation4 import _PQ_K, _PQ_M, _PQ_SUBDIM, _pq_sqdist_sql
from pipeline311_spark.plans.registry import register

_ANN_CELLS = 8
_ANN_NPROBE = 3
_ANN_Q = 4
_ANN_K = 5


def _sqdist_full_sql(a: str, b: str) -> str:
    """Full-dimension squared L2 — the same prepend-0.0 left fold as
    the per-subspace ``_pq_sqdist_sql`` and Spark's ``sqdist``."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
    )


def _ivfpq_sql(
    n_q: int = _ANN_Q,
    k: int = _ANN_K,
    corpus_pred: str = "",
    corpus_sql: str | None = None,
) -> str:
    """The residual-IVF-PQ twin, parameterized so the hybrid-fusion and
    delete-maintenance queries reuse the ONE derivation: quantizer seeds
    come from the lowest ids of the FULL corpus (the frozen-per-corpus-
    version contract — deletion never retrains), queries from the full
    corpus head; ``corpus_pred`` restricts only what is INDEXED
    (assign/encode/serve), and ``corpus_sql`` replaces the indexed
    corpus outright (must select ``vec_id, v`` — the round-11
    update-maintenance twin swaps in originals-minus-changed plus the
    changed vectors' new-id revisions).  Codes quantize the residual
    ``v − centroid[cell]``; codebook seeds therefore enter in RESIDUAL
    space (each seed minus its nearest coarse cell — cbseed/cbassign/cb
    below), and the LUT is built per (query, probed cell) from the
    query's residual against that same cell (VERDICT r9 item 2)."""
    dists = ",\n         ".join(
        f"{_pq_sqdist_sql('r.rv', 'c.cv', j)} AS d{j}" for j in range(_PQ_M)
    )
    argmins = ",\n".join(
        f"a{j} AS (SELECT vec_id, cid AS code{j} FROM ("
        f"SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id "
        f"ORDER BY d{j}, cid) AS rn FROM pqscored) t WHERE rn = 1)"
        for j in range(_PQ_M)
    )
    code_joins = " ".join(f"JOIN a{j} USING (vec_id)" for j in range(1, _PQ_M))
    code_cols = ", ".join(f"code{j}" for j in range(_PQ_M))
    luts = ",\n         ".join(
        f"{_pq_sqdist_sql('qr.rqv', 'c.cv', j)} AS l{j}" for j in range(_PQ_M)
    )
    t_joins = "\n  ".join(
        f"JOIN lut t{j} ON t{j}.query_id = qc.query_id AND t{j}.cell = a.cell "
        f"AND t{j}.cid = s.code{j}"
        for j in range(_PQ_M)
    )
    dist = ""
    for j in range(_PQ_M):
        dist = f"({dist} + t{j}.l{j})" if dist else f"t{j}.l{j}"
    if corpus_pred and corpus_sql:
        # _bm25_sql applies pred ON TOP of a replaced corpus; this twin
        # would silently drop the pred — refuse the ambiguous combo
        # until a caller defines its meaning (review r11)
        raise ValueError("_ivfpq_sql: pass corpus_pred OR corpus_sql, not both")
    where_corp = f" WHERE {corpus_pred}" if corpus_pred else ""
    corp_body = corpus_sql or f"SELECT * FROM e{where_corp}"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
corp AS ({corp_body}),
coarse AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_ANN_CELLS}),
cbseed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_PQ_K} OFFSET {_ANN_CELLS}),
cbassign AS (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY {_sqdist_full_sql('s.v', 'c.cv')}, c.cell) AS rn
    FROM cbseed s CROSS JOIN coarse c) t
  WHERE rn = 1),
cb AS (
  SELECT s.vec_id AS cid,
         list_transform(list_zip(s.v, c.cv), p -> p[1] - p[2]) AS cv
  FROM cbseed s JOIN cbassign ca USING (vec_id)
  JOIN coarse c ON c.cell = ca.cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT corp.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY corp.vec_id
             ORDER BY {_sqdist_full_sql('corp.v', 'c.cv')}, c.cell) AS rn
    FROM corp CROSS JOIN coarse c) t
  WHERE rn = 1),
resid AS (
  SELECT corp.vec_id, a.cell,
         list_transform(list_zip(corp.v, c.cv), p -> p[1] - p[2]) AS rv
  FROM corp JOIN assign a USING (vec_id) JOIN coarse c ON c.cell = a.cell),
pqscored AS (
  SELECT r.vec_id, c.cid,
         {dists}
  FROM resid r CROSS JOIN cb c),
{argmins},
codes AS (SELECT vec_id, {code_cols} FROM a0 {code_joins}),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_q}),
qcells AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_sqdist_full_sql('q.qv', 'c.cv')}, c.cell) AS pr
    FROM q CROSS JOIN coarse c) t
  WHERE pr <= {_ANN_NPROBE}),
qresid AS (
  SELECT qc.query_id, qc.cell,
         list_transform(list_zip(q.qv, c.cv), p -> p[1] - p[2]) AS rqv
  FROM qcells qc JOIN q ON q.query_id = qc.query_id
  JOIN coarse c ON c.cell = qc.cell),
lut AS (
  SELECT qr.query_id, qr.cell, c.cid,
         {luts}
  FROM qresid qr CROSS JOIN cb c),
adc AS (
  SELECT qc.query_id, s.vec_id, {dist} AS dist
  FROM codes s
  JOIN assign a ON a.vec_id = s.vec_id
  JOIN qcells qc ON qc.cell = a.cell
  {t_joins}
  WHERE s.vec_id <> qc.query_id)
SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dist, vec_id) AS rn
      FROM adc) t
WHERE rn <= {k}
"""


def _query_vecs(e):
    """Driver-collected query vectors — rides the SAME head collect
    bound as the seed centroids (metadata-scale, one job)."""
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return {
        r["vec_id"]: [float(x) for x in r["v"]]
        for r in v.filter(F.col("vec_id") < _ANN_Q).collect()
    }


@register(
    "sim_ivfpq_from_store",
    _ivfpq_sql(),
    covers=("ext:similarity", "ext:quantize", "ext:layout", "K2", "O4"),
)
def q_ivfpq_from_store(spark, sf_dir):
    with scratch_dir("ivfpq") as out:
        e = emb_table(spark, sf_dir)
        ann_index_build(spark, e, out, n_cells=_ANN_CELLS, pq_k=_PQ_K)
        return ann_adc_topk_from_store(
            spark, out, _query_vecs(e), k=_ANN_K, nprobe=_ANN_NPROBE
        ).transform(materialize)  # materialize before the cleanup


@register(
    "stream_ann_index_maintain",
    _ivfpq_sql(),
    # ext:ann-log is the log-form artifact family's OWN tag (VERDICT r9
    # nit 2): the set-cover pin then forces a log-family query into the
    # driver's 50-sample the round it lands
    covers=("ext:similarity", "ext:quantize", "ext:ann-log", "T1", "K2"),
)
def q_stream_ann_index_maintain(spark, sf_dir):
    """The dense-index maintenance loop as a REAL Structured Streaming
    job — the third instance of the engine's delta-log cycle (BM25 r8,
    MinHash grams r9): the FROZEN quantizer artifacts are built once,
    the corpus arrives as a file stream (3 files, one micro-batch
    each), every micro-batch is assigned + encoded via ``foreachBatch``
    → :func:`pipeline311_spark.ext.ann_store.ann_codes_append_batch`
    (dynamic overwrite of its own batch_id partition — replays are
    idempotent), the code log is COMPACTED to its batch_id=-1 base, and
    ADC top-k is served from the folded, pcell-pruned log.  Same oracle
    as sim_ivfpq_from_store: a corpus streamed in three batches must
    serve exactly what a one-shot build serves."""
    from pipeline311_spark.ext.ann_store import ann_codes_compact, ann_quantizer_build
    from pipeline311_spark.session import prep_session

    prep_session(spark)  # streaming bypasses table(): pin tz/conf here
    with scratch_dir("ivfpqs") as out:
        src, idx, ckpt = (os.path.join(out, s) for s in ("src", "index", "ckpt"))
        e = emb_table(spark, sf_dir)
        v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        # the quantizer build and the stream-source write are
        # independent corpus passes with disjoint outputs — overlap
        # them (guide §2.6, round 11); BOTH must complete before the
        # stream starts (appends encode with the stored quantizer)
        from pipeline311_spark.ext.artifact import run_jobs

        run_jobs(
            lambda: ann_quantizer_build(
                spark, v, idx, n_cells=_ANN_CELLS, pq_k=_PQ_K
            ),
            lambda: e.select("vec_id", "embedding")
            .repartition(3)
            .write.mode("overwrite")
            .parquet(src),
        )
        stream = spark.readStream.schema(
            e.select("vec_id", "embedding").schema
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: ann_codes_append_batch(batch, bid, idx)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ann_codes_compact(spark, idx)
        return ann_adc_topk_from_store(
            spark, idx, _query_vecs(e), k=_ANN_K, nprobe=_ANN_NPROBE
        ).transform(materialize)  # materialize before the cleanup


# One ORACLE-EXACT Lloyd step of the coarse-cell trainer: the driver's
# set-cover sample must carry the ext:ann-train tag.  A SINGLE training
# step IS SQL-re-derivable: seeds are the n_cells lowest-id vectors,
# every vector joins its nearest seed (exact double sqdist, ties to the
# lowest cell — the shared pq_code_col argmin), and the new centroid is
# the exact-decimal mean (round-6 → decimal(28,6) sum → ONE double
# division; see pq_train_codebook's ``exact_decimals`` mode).
_TRAIN_STEP_DECIMALS = 6


def _cells_train_step_sql() -> str:
    d = _TRAIN_STEP_DECIMALS
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
seeds AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT {_ANN_CELLS}),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_sqdist_full_sql('e.v', 's.cv')}, s.cell) AS rn
    FROM e CROSS JOIN seeds s) t
  WHERE rn = 1),
dims AS (
  SELECT a.cell, e.vec_id, u.i AS dim, e.v[u.i] AS val
  FROM e JOIN assign a USING (vec_id),
       unnest(generate_series(1, len(e.v))) AS u(i)),
means AS (
  SELECT cell, dim,
         CAST(CAST(sum(CAST(round(val, {d}) AS DECIMAL(28,{d}))) AS DOUBLE)
              / count(*) AS DOUBLE) AS mv
  FROM dims GROUP BY cell, dim),
seeddims AS (
  SELECT cell, u.i AS dim, cv[u.i] AS sv
  FROM seeds, unnest(generate_series(1, len(cv))) AS u(i))
SELECT CAST(sd.cell AS BIGINT) AS cell, CAST(sd.dim AS INT) AS dim,
       CAST(coalesce(m.mv, sd.sv) AS DOUBLE) AS centroid
FROM seeddims sd LEFT JOIN means m ON m.cell = sd.cell AND m.dim = sd.dim
"""


@register(
    "sim_ann_cells_train_step",
    _cells_train_step_sql(),
    # the only ext:ann-train carrier, so the driver sample always holds
    # it (tests/test_entry.py pins it)
    covers=("ext:similarity", "ext:quantize", "ext:ann-train", "A-class"),
)
def q_ann_cells_train_step(spark, sf_dir):
    """The one Lloyd step of :func:`ann_cells_train` in its
    oracle-exact fold, emitted as (cell, dim, centroid) rows — the
    bit-exact gate over the REAL trainer's assignment pass, empty-cell
    carry-through, and mean fold.  Distributed shape is the trainer's
    own: one corpus pass for the argmin assignment, one
    map-side-combined aggregate of n_cells·dim exact-decimal means,
    ONE metadata-scale collect (the trained centroids themselves)."""
    from pipeline311_spark.ext.ann_store import ann_cells_train

    e = emb_table(spark, sf_dir)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    first = v.select(F.size("v").alias("d")).take(1)
    dim = int(first[0]["d"]) if first else _PQ_M * _PQ_SUBDIM
    cents = ann_cells_train(v, _ANN_CELLS, dim, exact_decimals=_TRAIN_STEP_DECIMALS)
    rows = [
        (int(c), i, float(x))
        for c, vec in sorted(cents.items())
        for i, x in enumerate(vec, start=1)
    ]
    from pipeline311_spark.ext.hashing import meta_df

    return meta_df(spark, rows, "cell long, dim int, centroid double")
