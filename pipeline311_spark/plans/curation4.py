"""Round-8 curation additions — the remaining production steps of a
large-scale training-data pipeline:

* ``dedup_minhash_surviving`` — the MinHash-LSH dedup DELIVERABLE: the
  corpus with non-canonical near-dup cluster members removed
  (LSH pairs → connected components → keep each cluster's min id).
  The n-gram twin (``dedup_surviving_corpus``) covers small corpora;
  this is the path that scales — LSH banding bounds candidate
  generation, CC rounds are bounded by dup-cluster diameter, and the
  drop-set anti join is AQE-sized (drop-set cardinality is the
  corpus's dup density, unbounded by design).

* ``corpus_version_diff`` — snapshot reconciliation between two corpus
  versions: per-doc added / removed / changed / unchanged via content
  fingerprints.  The versions are derived deterministically from the
  one documents table (residue-class membership + a text revision for
  one residue class) so the oracle reproduces them exactly.  Scale:
  fingerprints are map-side; the diff is ONE co-partitioned full-outer
  join on doc_id — with bucketed snapshot storage even that exchange
  disappears.

* ``text_vocab_coverage`` — the tokenizer-design probe: top-V vocab by
  frequency with CUMULATIVE corpus coverage per rank (what fraction of
  all token occurrences the first r vocab entries explain).  Scale:
  one map-side-combined wordcount shuffle, then TakeOrdered top-V (no
  global sort), then a window over the V surviving rows — bytes, not
  data, cross the single partition.

* ``sample_importance_dsir`` — DSIR-style importance weighting
  (Xie et al. 2023, "Data Selection for Language Models via Importance
  Resampling"): hashed unigram features (portable hash → 8192
  buckets), add-one-smoothed feature distributions for a TARGET
  sub-corpus vs the SOURCE rest, per-doc mean log-likelihood ratio,
  and a selection flag (above the corpus-mean score — "more
  target-like than the average doc").  Hashed features bound the model at 8192
  rows regardless of corpus size — the whole scoring join is a
  broadcast.  ln() is rounded to 9 decimals per feature before the
  exact decimal mean (the established cross-engine ln discipline,
  plans/analytics9.py).

* ``sim_pq_encode`` — product-quantization encoding, the storage/ANN
  compression step (Jégou et al. 2011): split each 64-dim embedding
  into 4 sub-vectors of 16 dims, assign each to the nearest of 4
  per-subspace centroids (deterministic seed centroids = the 4 lowest
  vec_ids), emit the 4-byte code per vector.  Scale: centroids are
  metadata-scale (collected once, injected as literals), so encoding
  is a PURE map-side projection — zero exchanges at any corpus size.
  Distances are compared, never emitted (float-compare is
  deterministic on bit-identical inputs; emitting the double would be
  a cross-engine hash hazard).

Later round-8 additions (see their section comments below):

* ``retrieval_mmr_diversified`` — MMR rerank: JVM-side similarity
  arithmetic, Arrow-batched greedy selection, k-step unrolled CTE
  oracle.
* ``sim_pq_adc_topk`` — codes-only asymmetric-distance search with a
  driver-literal per-query LUT.
* ``sim_pq_recall_audit`` — ADC vs exact-L2 recall, the acceptance
  check for the approximate index.
* ``export_incremental_shards`` — snapshot diff × shard assignment:
  the dirty-shard report that makes incremental export O(changes).

Reference scope note: the reference pipeline (sync-db2.py and
siblings) has no corpus/vector layer; these extend the engine the same
way the rest of ext/ does — see SURVEY.md §2.10.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.ext.hashing import (
    portable_hash,
    portable_hash64_sql,
    portable_hash_sql,
)
from pipeline311_spark.ext.textstats import fingerprint, normalize_text, tokens
from pipeline311_spark.plans.common import emb_table, table
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# MinHash-LSH surviving corpus (pairs -> connected components -> keep
# min id per cluster)
# ---------------------------------------------------------------------------


def _mh_surviving_sql() -> str:
    from pipeline311_spark.plans.extensions import _minhash_pairs_cte

    # the full MinHash pair pipeline as the WITH-prefix (exposed as a
    # bare CTE chain by extensions — no string surgery), then symmetric
    # edges and the recursive min-reachability CTE
    return f"""
WITH RECURSIVE
{_minhash_pairs_cte()},
-- MATERIALIZED: msym references the pair table twice, and DuckDB
-- would otherwise inline (re-execute) the whole LSH pipeline per
-- reference — measured 30s -> 9s at sf0.001
mpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM allpairs),
msym AS (SELECT doc_a AS s, doc_b AS d FROM mpairs
         UNION SELECT doc_b, doc_a FROM mpairs),
mreach(node, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM msym) t
  UNION
  SELECT msym.d, mreach.r FROM mreach JOIN msym ON msym.s = mreach.node),
dropped AS (SELECT node FROM mreach GROUP BY node HAVING node <> MIN(r))
SELECT d.doc_id, d.lang, d.source FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM dropped)
"""


@register("dedup_minhash_surviving", _mh_surviving_sql(),
          covers=("ext:dedup", "ext:graph", "J3"))
def q_minhash_surviving(spark, sf_dir):
    from pipeline311_spark.ext.dedup import minhash_dedup_pairs
    from pipeline311_spark.ext.graph import dup_clusters
    from pipeline311_spark.plans.extensions import (
        _MH_BANDS,
        _MH_K,
        _MH_N,
        _MH_SEED,
        _MH_THRESHOLD,
    )

    d = table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        d, "doc_id", "text",
        k=_MH_K, bands=_MH_BANDS, n=_MH_N, threshold=_MH_THRESHOLD, seed=_MH_SEED,
    ).select("doc_a", "doc_b")
    dropped = (
        dup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster"))
        .select("doc_id")
    )
    # no broadcast hint: the drop-set is the corpus's dup density —
    # unbounded by design — so AQE sizes the anti join at runtime
    return d.join(dropped, "doc_id", "left_anti").select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Corpus snapshot diff
# ---------------------------------------------------------------------------

# v_old = docs outside residue 3 (mod 17): residue 3 docs are "added"
# in the new version.  v_new = docs outside residue 5 (mod 19):
# residue 5 docs were "removed".  Residue 2 (mod 13) docs carry a text
# revision in v_new, so their fingerprints differ -> "changed".
_VD_ADD_MOD, _VD_ADD_RES = 17, 3
_VD_REM_MOD, _VD_REM_RES = 19, 5
_VD_CHG_MOD, _VD_CHG_RES = 13, 2
_VD_REV = " (rev2)"


def _version_diff_sql() -> str:
    from pipeline311_spark.plans.extensions import _norm_sql

    return f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
v_old AS (
  SELECT doc_id, md5({_norm_sql('text')}) AS fp FROM base
  WHERE doc_id % {_VD_ADD_MOD} <> {_VD_ADD_RES}),
v_new AS (
  SELECT doc_id,
         md5({_norm_sql(f"(text || '{_VD_REV}')")}) AS fp_rev,
         md5({_norm_sql('text')}) AS fp_same,
         doc_id % {_VD_CHG_MOD} = {_VD_CHG_RES} AS revised
  FROM base WHERE doc_id % {_VD_REM_MOD} <> {_VD_REM_RES})
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN (CASE WHEN n.revised THEN n.fp_rev ELSE n.fp_same END) <> o.fp
                 THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v_old o FULL OUTER JOIN v_new n ON o.doc_id = n.doc_id
"""


@register("corpus_version_diff", _version_diff_sql(),
          covers=("J3", "O3", "ext:export", "ext:versioning"))
def q_version_diff(spark, sf_dir):
    base = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    v_old = base.filter(F.col("doc_id") % _VD_ADD_MOD != _VD_ADD_RES).select(
        "doc_id", fingerprint("text").alias("fp_old")
    )
    revised = F.col("doc_id") % _VD_CHG_MOD == _VD_CHG_RES
    v_new = base.filter(F.col("doc_id") % _VD_REM_MOD != _VD_REM_RES).select(
        "doc_id",
        fingerprint(
            F.when(revised, F.concat(F.col("text"), F.lit(_VD_REV))).otherwise(
                F.col("text")
            )
        ).alias("fp_new"),
    )
    # ONE co-partitioned full-outer join on doc_id; fingerprints are
    # map-side.  At scale both snapshots hash-partition once — with
    # bucketed snapshot storage even that exchange disappears.
    j = v_old.join(v_new, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") != F.col("fp_new"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve
# ---------------------------------------------------------------------------

_VOCAB_TOP = 50


def _vocab_coverage_sql() -> str:
    from pipeline311_spark.plans.extensions import _norm_sql

    return f"""
WITH norm AS (SELECT {_norm_sql('text')} AS nt FROM documents),
tok AS (SELECT unnest(CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END) AS term
        FROM norm),
counts AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY term),
total AS (SELECT SUM(cnt)::BIGINT AS n_tok FROM counts),
top AS (SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT {_VOCAB_TOP})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
       term, cnt,
       CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       / (SELECT n_tok FROM total) AS coverage
FROM top
"""


@register("text_vocab_coverage", _vocab_coverage_sql(), covers=("ext:text", "O1", "O4"))
def q_vocab_coverage(spark, sf_dir):
    from pyspark.sql.window import Window

    from pipeline311_spark.ext.cache import persist_tracked

    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(normalize_text("text"))).alias("term"))
    # persisted: the vocabulary-sized wordcount feeds BOTH the token
    # total and the top-V — without the pin the corpus-scale
    # scan+explode+aggregate subtree executes once per consumer
    # (review r8: PLANS.md showed exchanges=3, reused=0 here)
    counts = persist_tracked(
        tok.groupBy("term").agg(F.count("*").cast("long").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("n_tok"))
    # orderBy+limit compiles to TakeOrdered — per-partition top-V then
    # one V-row merge, never a global sort
    top = counts.orderBy(F.col("cnt").desc(), "term").limit(_VOCAB_TOP)
    # the window runs over the V surviving rows only (allowlisted
    # SinglePartition: bytes, not data); coverage = exact cumulative
    # bigint / exact total bigint — ONE double division of identical
    # integer operands, deterministic cross-engine
    w = Window.orderBy(F.col("cnt").desc(), "term").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "term")).cast("long"))
        .withColumn(
            "coverage", F.sum("cnt").over(w).cast("double") / F.col("n_tok")
        )
        .select("rank", "term", "cnt", "coverage")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting over hashed unigram features
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 8192
_DSIR_TARGET = "src0"  # the "I want more like this" sub-corpus


def _dsir_sql() -> str:
    from pipeline311_spark.plans.extensions import _norm_sql

    h = portable_hash_sql("term")
    return f"""
WITH norm AS (
  SELECT doc_id, source, {_norm_sql('text')} AS nt FROM documents),
tok AS (
  SELECT doc_id, source,
         unnest(CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END) AS term
  FROM norm),
feat AS (SELECT doc_id, source, ({h}) % {_DSIR_BUCKETS} AS f FROM tok),
fs AS (
  SELECT f,
         SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END)::BIGINT AS t_cnt,
         SUM(CASE WHEN source <> '{_DSIR_TARGET}' THEN 1 ELSE 0 END)::BIGINT AS s_cnt
  FROM feat GROUP BY f),
tot AS (SELECT SUM(t_cnt)::BIGINT AS t_tot, SUM(s_cnt)::BIGINT AS s_tot FROM fs),
scored AS (
  SELECT feat.doc_id,
         round(ln(((fs.t_cnt + 1.0) / ((SELECT t_tot FROM tot) + {_DSIR_BUCKETS}))
                  / ((fs.s_cnt + 1.0) / ((SELECT s_tot FROM tot) + {_DSIR_BUCKETS}))), 9) AS lr
  FROM feat JOIN fs USING (f)
  WHERE feat.source <> '{_DSIR_TARGET}'),
agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
         round(CAST(SUM(CAST(lr AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_log_ratio
  FROM scored GROUP BY doc_id),
-- selection threshold = corpus mean of the (rounded) per-doc scores:
-- "more target-like than the average doc".  Exact decimal sum of the
-- pre-rounded doubles -> order-independent, cross-engine identical.
thr AS (
  SELECT round(CAST(SUM(CAST(avg_log_ratio AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), 6) AS mean_lr
  FROM agg)
SELECT doc_id, n_tokens, avg_log_ratio,
       avg_log_ratio > (SELECT mean_lr FROM thr) AS selected
FROM agg
"""


@register(
    "sample_importance_dsir", _dsir_sql(), covers=("ext:sampling", "ext:text")
)
def q_dsir(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    feat = tok.select(
        "doc_id",
        "source",
        (portable_hash("term") % _DSIR_BUCKETS).alias("f"),
    )
    from pipeline311_spark.ext.cache import persist_tracked

    is_t = F.col("source") == _DSIR_TARGET
    # ONE pass over the token stream: pre-aggregate per (doc, source,
    # feature) counts — map-side combined, bounded by docs × features —
    # and persist THAT (the explode subtree would otherwise run once
    # per consumer: the feature model, the totals, and the scoring all
    # derive from it).  The per-feature model is a groupBy over the
    # cached pre-aggregate broadcast back in, NOT a window over f: a
    # hot feature (a stopword bucket) would drag corpus-scale rows into
    # one window partition, while the groupBy partial-aggregates
    # map-side to ≤ |features| rows per task and the 8192-row model
    # broadcasts.
    dfc = persist_tracked(
        feat.groupBy("doc_id", "source", "f").agg(
            F.count("*").cast("long").alias("c")
        )
    )
    fs = dfc.groupBy("f").agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).cast("long").alias("t_cnt"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).cast("long").alias("s_cnt"),
    )
    enr = dfc.join(F.broadcast(fs), "f")
    tot = dfc.agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).cast("long").alias("t_tot"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).cast("long").alias("s_tot"),
    )
    # per-feature log ratio: ONE ln of a double built from exact
    # integers, rounded 9 before the exact decimal mean (the
    # cross-engine ln discipline, plans/analytics9.py).  The per-token
    # decimal sum of the oracle equals decimal(lr) * c exactly — all
    # tokens of one (doc, feature) share one lr.
    lr = F.round(
        F.log(
            ((F.col("t_cnt") + 1.0) / (F.col("t_tot") + _DSIR_BUCKETS))
            / ((F.col("s_cnt") + 1.0) / (F.col("s_tot") + _DSIR_BUCKETS))
        ),
        9,
    )
    scored = (
        enr.filter(~is_t)
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.col("c"), lr.alias("lr"))
    )
    # persisted: the threshold aggregate AND the returned frame both
    # read it (the join+scoring subtree above would otherwise run
    # twice even with dfc cached)
    # decimal(20,12) * decimal(10,0) -> decimal(31,12): stays UNDER the
    # 38-digit cap, so the scale-12 product is exact.  A wider operand
    # (e.g. decimal(28,12) * bigint -> precision 49) trips Spark's
    # allowPrecisionLoss rule, which TRUNCATES THE SCALE to fit — the
    # sum silently loses low digits and drifts off the oracle's exact
    # per-token decimal sum (caught by the oracle gate at sf0.01)
    prod = F.col("lr").cast("decimal(20,12)") * F.col("c").cast("decimal(10,0)")
    agg = persist_tracked(
        scored.groupBy("doc_id").agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(F.sum(prod).cast("double") / F.sum("c"), 6).alias(
                "avg_log_ratio"
            ),
        )
    )
    # selection threshold = corpus mean of the per-doc scores (one
    # scalar aggregate broadcast back — map-side, scale-free)
    thr = agg.agg(
        F.round(
            F.sum(F.col("avg_log_ratio").cast("decimal(28,12)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_lr")
    )
    return agg.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        "avg_log_ratio",
        (F.col("avg_log_ratio") > F.col("mean_lr")).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Product-quantization encoding
# ---------------------------------------------------------------------------

_PQ_M = 4          # sub-vector count
_PQ_SUBDIM = 16    # dims per sub-vector (4 x 16 = 64)
_PQ_K = 4          # centroids per subspace
# seed centroids = the _PQ_K lowest vec_ids (deterministic,
# data-derived seeds)


def _pq_sqdist_sql(a: str, b: str, j: int) -> str:
    """Per-subspace squared L2 between 1-based list slices — the same
    prepend-0.0 left fold as the Spark F.aggregate twin."""
    lo, hi = j * _PQ_SUBDIM + 1, (j + 1) * _PQ_SUBDIM
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip({a}[{lo}:{hi}], {b}[{lo}:{hi}]), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
    )


def _pq_prefix_sql() -> str:
    """Shared CTE chain ending in ``codes`` (vec_id, code0..3) — the
    encode query selects from it; the ADC query builds on it."""
    dists = ",\n         ".join(
        f"{_pq_sqdist_sql('e.v', 'c.cv', j)} AS d{j}" for j in range(_PQ_M)
    )
    argmins = ",\n".join(
        f"a{j} AS (SELECT vec_id, cid AS code{j} FROM ("
        f"SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id "
        f"ORDER BY d{j}, cid) AS rn FROM scored) t WHERE rn = 1)"
        for j in range(_PQ_M)
    )
    joins = " ".join(f"JOIN a{j} USING (vec_id)" for j in range(1, _PQ_M))
    cols = ", ".join(f"code{j}" for j in range(_PQ_M))
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_PQ_K}),
scored AS (
  SELECT e.vec_id, c.cid,
         {dists}
  FROM e CROSS JOIN cent c),
{argmins},
codes AS (SELECT vec_id, {cols} FROM a0 {joins})"""


def _pq_sql() -> str:
    cols = ", ".join(f"code{j}" for j in range(_PQ_M))
    return f"""
WITH {_pq_prefix_sql()}
SELECT vec_id, {cols} FROM codes
"""


def _pq_centroids(e):
    """Driver-collected seed centroids {cid: 64-dim double list} —
    metadata-scale (the same driver-side-scalar pattern as watermarks,
    operators/merge.py)."""
    return {
        r["vec_id"]: [float(x) for x in r["v"]]
        for r in e.filter(F.col("vec_id") < _PQ_K).collect()
    }


def _pq_codes_projection(e, cents):
    """The zero-exchange encode projection over a prepared (vec_id, v)
    frame, given driver-known centroids."""
    cids = sorted(cents)
    if not cids:
        # no centroids to assign against (empty corpus, or no seed ids
        # below _PQ_K): stable schema, ZERO rows — the oracle's codes
        # CTE inner-joins the per-subspace argmins, which are empty, so
        # emitting NULL-coded rows here would hash-mismatch (review r8)
        return e.filter(F.lit(False)).select(
            "vec_id",
            *[F.lit(None).cast("long").alias(f"code{j}") for j in range(_PQ_M)],
        )

    # the argmin-by-(distance, centroid id) struct-sort expression has
    # ONE home — the stored-index module — so the query-local and
    # stored-index encodes can never diverge (review r9)
    from pipeline311_spark.ext.ann_store import pq_code_col

    return e.select(
        "vec_id",
        *[pq_code_col(j, cents, _PQ_SUBDIM).alias(f"code{j}") for j in range(_PQ_M)],
    )


def pq_code_frame(spark, sf_dir):
    """(vec_id, code0..code{m-1}): PQ codes as a PURE map-side
    projection — centroids are injected as literals, zero exchanges at
    any corpus size."""
    e = emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return _pq_codes_projection(e, _pq_centroids(e))


@register("sim_pq_encode", _pq_sql(),
          covers=("ext:similarity", "ext:quantize", "ext:layout"))
def q_pq_encode(spark, sf_dir):
    return pq_code_frame(spark, sf_dir)


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC): top-k by approximate L2 using
# only the 4-byte codes — the query side stays full-precision, each
# subspace contributes a LUT entry dist(q_sub, centroid[code_j]).
# This is the search half of the PQ story (encode above): at scale the
# corpus is scanned as codes only (4 bytes/vector instead of 256), the
# per-query LUT is m*k doubles computed once on the driver and injected
# as literals, and ranking is the standard bounded per-query window.
# The LUT fold order matches the oracle's list_reduce exactly (plain
# left-to-right accumulation), so the compared distances are
# bit-identical; distances are compared, never emitted.
# ---------------------------------------------------------------------------

_PQ_ADC_QUERIES = 2
_PQ_ADC_K = 5


def _pq_adc_sql() -> str:
    luts = ",\n         ".join(
        f"{_pq_sqdist_sql('q.qv', 'c.cv', j)} AS l{j}" for j in range(_PQ_M)
    )
    t_joins = "\n  ".join(
        f"JOIN lut t{j} ON t{j}.query_id = qq.query_id AND t{j}.cid = s.code{j}"
        for j in range(_PQ_M)
    )
    dist = ""
    for j in range(_PQ_M):
        dist = f"({dist} + t{j}.l{j})" if dist else f"t{j}.l{j}"
    return f"""
WITH {_pq_prefix_sql()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_PQ_ADC_QUERIES}),
lut AS (
  SELECT q.query_id, c.cid,
         {luts}
  FROM q CROSS JOIN cent c),
adc AS (
  SELECT qq.query_id, s.vec_id, {dist} AS dist
  FROM codes s
  CROSS JOIN (SELECT DISTINCT query_id FROM lut) qq
  {t_joins}
  WHERE s.vec_id <> qq.query_id)
SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dist, vec_id) AS rn
      FROM adc) t
WHERE rn <= {_PQ_ADC_K}
"""


@register("sim_pq_adc_topk", _pq_adc_sql(),
          covers=("ext:similarity", "ext:quantize", "O4"))
def q_pq_adc_topk(spark, sf_dir):
    from pyspark.sql.window import Window

    e = emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # ONE driver collect covers seed centroids AND query vectors
    # (review r8: three separate collects before)
    head = {
        r["vec_id"]: [float(x) for x in r["v"]]
        for r in e.filter(
            F.col("vec_id") < max(_PQ_K, _PQ_ADC_QUERIES)
        ).collect()
    }
    cents = {i: v for i, v in head.items() if i < _PQ_K}
    qvecs = {i: v for i, v in head.items() if i < _PQ_ADC_QUERIES}
    cids = sorted(cents)
    if not cids or not qvecs:
        return spark.createDataFrame(
            [], "query_id long, rank long, neighbor_id long"
        )
    codes = _pq_codes_projection(e, cents)

    # per-query LUT distance expression: ONE home in ext/ann_store.py
    # (adc_dist_expr uses the same left-to-right driver fold as the
    # oracle's list_reduce(list_prepend(0.0, ...)); review r9) — the
    # stored-index serve builds the identical expression
    from pipeline311_spark.ext.ann_store import adc_dist_expr

    entries = [
        F.struct(
            F.lit(qid).cast("long").alias("query_id"),
            adc_dist_expr(qvecs[qid], cents, _PQ_M, _PQ_SUBDIM).alias("dist"),
        )
        for qid in sorted(qvecs)
    ]
    # ONE corpus scan: explode the per-query (query_id, dist) structs
    # map-side instead of one encode pass per query branch (review r8)
    scored = (
        codes.select("vec_id", F.explode(F.array(*entries)).alias("qd"))
        .select(
            F.col("qd.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("qd.dist").alias("dist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _PQ_ADC_K)
        .select("query_id", "rank", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# MMR-diversified retrieval (maximal marginal relevance, Carbonell &
# Goldstein 1998): greedy top-k that trades relevance against
# redundancy — score(d) = L*rel(d) - (1-L)*max sim(d, selected).  The
# standard rerank between dense retrieval and a context window / a
# dedup-aware sampler.
#
# Split of labor: ALL float arithmetic that feeds comparisons is
# computed JVM-side (query relevance from brute_force_topk, pairwise
# candidate similarity from the same dot fold as the _cos_sql twin);
# the greedy SELECTION runs per query group in an Arrow-batched
# applyInPandas (T7 — comparisons + one L*rel-(1-L)*maxsim expression
# over engine-provided doubles, bit-identical in DuckDB).  The oracle
# unrolls the k greedy steps as a generated CTE chain — no recursion,
# every step is argmax-via-ROW_NUMBER with doc-id tiebreak.
#
# Scale shape: the candidate pool is bounded (k_pool per query), so
# the pairwise matrix is |queries| * k_pool^2 rows and the pandas
# stage sees k_pool^2-row groups — the expensive part remains the
# dense ranker, which is already scale-shaped (broadcast queries, one
# window).
# ---------------------------------------------------------------------------

_MMR_QUERIES = 3
_MMR_POOL = 12
_MMR_K = 5
_MMR_LAMBDA = 0.7  # written literally into BOTH plans


def _mmr_sql() -> str:
    from pipeline311_spark.plans.extensions import _cos_sql

    steps = []
    for i in range(2, _MMR_K + 1):
        prev = i - 1
        steps.append(f"""
m{i} AS (
  SELECT r.query_id, r.did, r.rel, MAX(p.sim) AS maxsim
  FROM pool r
  JOIN pairsim p ON p.query_id = r.query_id AND p.a_id = r.did
  JOIN set{prev} t ON t.query_id = p.query_id AND t.did = p.b_id
  WHERE NOT EXISTS (SELECT 1 FROM set{prev} z
                    WHERE z.query_id = r.query_id AND z.did = r.did)
  GROUP BY r.query_id, r.did, r.rel),
s{i} AS (
  SELECT query_id, did FROM (
    SELECT query_id, did, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY ({_MMR_LAMBDA} * rel - {round(1.0 - _MMR_LAMBDA, 10)} * maxsim) DESC, did) AS rn
    FROM m{i}) t WHERE rn = 1),
set{i} AS (SELECT query_id, did FROM set{prev} UNION ALL SELECT query_id, did FROM s{i})""")
    finals = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST({i} AS BIGINT) AS rank, did AS doc_id FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_MMR_QUERIES}),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM q JOIN e ON e.vec_id != query_id),
pool AS (
  SELECT query_id, neighbor_id AS did, cos_sim AS rel
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored) t
  WHERE rn <= {_MMR_POOL}),
pairsim AS (
  SELECT x.query_id, x.did AS a_id, y.did AS b_id,
         {_cos_sql('ea.v', 'eb.v')} AS sim
  FROM pool x JOIN pool y ON x.query_id = y.query_id AND x.did <> y.did
  JOIN e ea ON ea.vec_id = x.did
  JOIN e eb ON eb.vec_id = y.did),
s1 AS (
  SELECT query_id, did FROM (
    SELECT query_id, did, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY rel DESC, did) AS rn
    FROM pool) t WHERE rn = 1),
set1 AS (SELECT query_id, did FROM s1),{",".join(steps)}
{finals}
"""


@register(
    "retrieval_mmr_diversified",
    _mmr_sql(),
    covers=("ext:similarity", "ext:retrieval", "T7", "O4"),
)
def q_mmr_diversified(spark, sf_dir):
    import pandas as pd

    from pipeline311_spark.ext.similarity import (
        as_double,
        brute_force_topk,
        cosine_pre,
        l2_norm,
    )

    e = emb_table(spark, sf_dir)
    qs = e.filter(F.col("vec_id") < _MMR_QUERIES)
    cand = brute_force_topk(e, qs, k=_MMR_POOL).select(
        "query_id", F.col("neighbor_id").alias("did"), F.col("cos_sim").alias("rel")
    )
    en = e.select("vec_id", as_double("embedding").alias("cv")).withColumn(
        "cn", l2_norm(F.col("cv"))
    )
    from pipeline311_spark.ext.cache import persist_tracked

    # candidate pool is bounded top-k per query -> broadcast it into
    # the vector-attach join; the corpus never shuffles.  Persisted:
    # three consumers (both self-join sides + the lone-candidate rows)
    # would otherwise re-run the ranker subtree each (the BM25 lesson)
    pool = persist_tracked(
        F.broadcast(cand)
        .join(en, cand["did"] == en["vec_id"])
        .select("query_id", "did", "rel", "cv", "cn")
    )
    x, y = pool.alias("x"), pool.alias("y")
    pairs = x.join(
        y,
        (F.col("x.query_id") == F.col("y.query_id"))
        & (F.col("x.did") != F.col("y.did")),
    ).select(
        F.col("x.query_id").alias("query_id"),
        F.col("x.did").alias("a_id"),
        F.col("x.rel").alias("rel_a"),
        F.col("y.did").alias("b_id"),
        cosine_pre(
            F.col("x.cv"), F.col("y.cv"), F.col("x.cn"), F.col("y.cn")
        ).alias("sim"),
    )
    # lone-candidate rows ride along with NULL b_id so a 1-candidate
    # query still reaches the selector
    lone = pool.select(
        "query_id",
        F.col("did").alias("a_id"),
        F.col("rel").alias("rel_a"),
        F.lit(None).cast("long").alias("b_id"),
        F.lit(None).cast("double").alias("sim"),
    )
    mmr_in = pairs.unionByName(lone)

    lam, lam1 = _MMR_LAMBDA, round(1.0 - _MMR_LAMBDA, 10)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        rel = {int(a): float(r) for a, r in zip(pdf["a_id"], pdf["rel_a"])}
        sims: dict[tuple[int, int], float] = {}
        for a, b, s in zip(pdf["a_id"], pdf["b_id"], pdf["sim"]):
            if pd.notna(b):
                sims[(int(a), int(b))] = float(s)

        def key(score):
            # SQL NULL semantics (review r8): a NULL sim (zero-norm
            # vector -> try_divide NULL -> NaN here) is SKIPPED by the
            # oracle's MAX, and a NULL score orders LAST under DuckDB's
            # NULLS LAST — mirror both, never let NaN poison a compare
            if score is None or math.isnan(score):
                return (0, 0.0)
            return (1, score)

        remaining = sorted(rel)
        selected: list[int] = []
        while remaining and len(selected) < _MMR_K:
            best_id, best_key = None, None
            for d in remaining:  # ascending id -> strict > keeps low-id ties
                if not selected:
                    score = rel[d]
                else:
                    vals = [
                        v
                        for v in (sims.get((d, s)) for s in selected)
                        if v is not None and not math.isnan(v)
                    ]
                    score = lam * rel[d] - lam1 * max(vals) if vals else None
                k = key(score)
                if best_key is None or k > best_key:
                    best_id, best_key = d, k
            selected.append(best_id)
            remaining.remove(best_id)
        qid = int(pdf["query_id"].iloc[0])
        return pd.DataFrame(
            {
                "query_id": [qid] * len(selected),
                "rank": list(range(1, len(selected) + 1)),
                "doc_id": selected,
            }
        )

    return mmr_in.groupBy("query_id").applyInPandas(
        greedy, "query_id long, rank long, doc_id long"
    )


# ---------------------------------------------------------------------------
# ANN recall audit: ADC top-k vs EXACT full-precision L2 top-k, per
# query — the acceptance check every approximate index needs before a
# pipeline trusts it (same role as lsh_dropped_buckets for the LSH
# caps: make the approximation's loss OBSERVABLE, not assumed).
# Recall = |ADC∩exact| / k, an exact integer ratio that rides the
# oracle hash.  Scale: both rankers are bounded per-query top-k; the
# audit joins two k-row-per-query frames.
# ---------------------------------------------------------------------------


def _pq_recall_sql() -> str:
    full_sq = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(list_zip(q.qv, e.v), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
    )
    return f"""
WITH adc AS (SELECT query_id, neighbor_id FROM ({_pq_adc_sql()}) a),
e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       WHERE embedding IS NOT NULL),
q2 AS (SELECT vec_id AS query_id, v AS qv FROM e2 WHERE vec_id < {_PQ_ADC_QUERIES}),
exact AS (
  SELECT query_id, vec_id AS neighbor_id
  FROM (SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {full_sq}, e.vec_id) AS rn
        FROM q2 q JOIN e2 e ON e.vec_id <> q.query_id) t
  WHERE rn <= {_PQ_ADC_K})
SELECT x.query_id, COUNT(a.neighbor_id)::BIGINT AS n_overlap,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / {_PQ_ADC_K} AS recall
FROM exact x LEFT JOIN adc a
  ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
"""


@register("sim_pq_recall_audit", _pq_recall_sql(),
          covers=("ext:similarity", "ext:quantize", "A-class"))
def q_pq_recall_audit(spark, sf_dir):
    from pipeline311_spark.ext.similarity import brute_force_topk

    adc = q_pq_adc_topk(spark, sf_dir).select("query_id", "neighbor_id")
    e = emb_table(spark, sf_dir)
    # the exact side is the shared brute-force ranker (L2 metric) —
    # one fold definition, plus its ensure_parallelism wrap (review r8)
    exact = brute_force_topk(
        e,
        e.filter(F.col("vec_id") < _PQ_ADC_QUERIES),
        k=_PQ_ADC_K,
        metric="sqdist",
    ).select("query_id", "neighbor_id")
    hits = adc.select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("hit")
    )
    return (
        exact.join(
            hits,
            (exact["query_id"] == hits["aq"])
            & (exact["neighbor_id"] == hits["hit"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("long").alias("n_overlap"),
            (F.count("hit").cast("double") / _PQ_ADC_K).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental shard maintenance: compose the snapshot diff with the
# deterministic shard assignment to report which export shards are
# DIRTY (contain any added/changed/removed doc) and which can be kept
# as-is.  This is the economics of incremental export at 100 TB: a
# version bump touching V docs dirties O(V) shards — the other
# shards' files are byte-identical (deterministic membership + order,
# see export_hash_shards) and are NOT rewritten.
# Scale: the diff is one co-partitioned full-outer join; the shard
# rollup is one groupBy producing N_SHARDS rows.
# ---------------------------------------------------------------------------

_EIS_SHARDS = 8


def _incremental_shards_sql() -> str:
    h_shard = portable_hash64_sql("concat('shard:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH diff AS ({_version_diff_sql()}),
tagged AS (
  SELECT doc_id, status, ({h_shard}) % {_EIS_SHARDS} AS shard FROM diff)
SELECT shard,
       SUM(CASE WHEN status <> 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
       SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
       SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       SUM(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END) > 0 AS dirty
FROM tagged GROUP BY shard
"""


@register(
    "export_incremental_shards",
    _incremental_shards_sql(),
    # read-side maintenance report: no write path in its lineage, so no
    # K2 claim (review r8 — COVERAGE rows must reflect exercised code)
    covers=("ext:export", "ext:versioning", "A-class"),
)
def q_incremental_shards(spark, sf_dir):
    from pipeline311_spark.ext.hashing import portable_hash64

    diff = q_version_diff(spark, sf_dir)
    tagged = diff.withColumn(
        "shard",
        F.pmod(
            portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
            F.lit(_EIS_SHARDS),
        ),
    )
    return tagged.groupBy("shard").agg(
        F.sum(F.when(F.col("status") != "removed", 1).otherwise(0))
        .cast("long")
        .alias("n_docs"),
        F.sum(F.when(F.col("status") == "added", 1).otherwise(0))
        .cast("long")
        .alias("n_added"),
        F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
        .cast("long")
        .alias("n_changed"),
        F.sum(F.when(F.col("status") == "removed", 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        (
            F.sum(F.when(F.col("status") != "unchanged", 1).otherwise(0)) > 0
        ).alias("dirty"),
    )


# ---------------------------------------------------------------------------
# Per-source quality gate: keep (approximately) the top q% of each
# SOURCE by quality score — the stratified form of the global quality
# filter (a web-crawl source and a curated-books source should not
# share one absolute threshold).  Threshold selection runs on a
# 1000-bucket quality histogram per source, so the cutoff is
# bucket-granular by design: every doc in a bucket that reaches the
# top-q mass is kept (deterministic; no intra-bucket tiebreaking).
#
# Scale shape: two corpus SCANS (histogram pass + gate pass), both
# pure map-side projections — no corpus-scale shuffle or window
# anywhere.  The histogram is ≤ |sources| x 1001 rows (persisted —
# totals and cumulative both read it), the cumulative window runs over
# ≤ 1001 rows per source, and the per-source thresholds broadcast into
# the gate.  floor(score * 1000) on bit-identical doubles is
# bit-identical — no round() boundary hazard (the r4 lesson).
# ---------------------------------------------------------------------------

_PSQ_PCT = 60        # keep ~top 60% per source
_PSQ_BUCKETS = 1000  # quality in [0,1] -> integer buckets 0..1000


def _per_source_gate_sql() -> str:
    from pipeline311_spark.plans.extensions import (
        _quality_feat_cols_sql,
        _quality_score_sql,
    )

    return f"""
WITH f AS (
  SELECT doc_id, source,
         {_quality_feat_cols_sql()}
  FROM documents WHERE text IS NOT NULL),
scored AS (
  SELECT doc_id, source,
         CAST(floor(({_quality_score_sql()}) * {_PSQ_BUCKETS}) AS BIGINT) AS qb
  FROM f),
hist AS (SELECT source, qb, COUNT(*)::BIGINT AS n FROM scored GROUP BY source, qb),
tgt AS (SELECT source, ({_PSQ_PCT} * SUM(n) + 99) // 100 AS target
        FROM hist GROUP BY source),
cum AS (
  SELECT source, qb,
         SUM(n) OVER (PARTITION BY source ORDER BY qb DESC
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist),
thr AS (
  SELECT c.source, MAX(c.qb) AS thr_qb
  FROM cum c JOIN tgt t ON t.source = c.source
  WHERE c.cum >= t.target GROUP BY c.source)
SELECT s.doc_id, s.source, s.qb
FROM scored s JOIN thr t ON s.source = t.source AND s.qb >= t.thr_qb
"""


@register(
    "sample_per_source_quality_gate",
    _per_source_gate_sql(),
    covers=("ext:sampling", "ext:text", "F1"),
)
def q_per_source_quality_gate(spark, sf_dir):
    from pipeline311_spark.ext.cache import persist_tracked
    from pipeline311_spark.ext.textstats import quality_score

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = d.select(
        "doc_id",
        "source",
        F.floor(quality_score("text") * _PSQ_BUCKETS).cast("long").alias("qb"),
    )
    # bounded: |sources| x 1001 rows; persisted — totals AND the
    # cumulative both read it
    hist = persist_tracked(
        scored.groupBy("source", "qb").agg(F.count("*").cast("long").alias("n"))
    )
    tgt = hist.groupBy("source").agg(
        F.expr(f"({_PSQ_PCT} * sum(n) + 99) div 100").alias("target")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.col("qb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("n").over(w))
    thr = (
        cum.join(tgt, "source")
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("source")
        .agg(F.max("qb").alias("thr_qb"))
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .filter(F.col("qb") >= F.col("thr_qb"))
        .select("doc_id", "source", "qb")
    )
