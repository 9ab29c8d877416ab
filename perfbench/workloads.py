"""The three workloads.  Each one generates its inputs from the seed,
prepares untimed state (warehouse initial load, oracle digests), then
hands the closed loop ``ROUNDS`` *rounds* of operations, one round at a
time, and checks every operation's output outside the timed span.  The
round count is a constant of the workload, so a run does the same work
on every commit and machine.

* ``etl_sync`` — the reference's own job: one sync per incremental batch
  (sf_cases extract -> clean -> bronze MERGE through ``upsert_into`` ->
  reconcile deletions -> feature publish).
* ``analytics_mix`` — read-only registry queries in a seeded order.
* ``curation_corpus`` — dedup, scoring, a BM25 index build, then seeded
  top-k serve batches against it.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import math
import os
import random
import re
import shutil
import subprocess
import sys
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

from perfbench import gen
from perfbench.spans import charge


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], Any]
    rows: int
    in_bytes: int
    meta: dict = field(default_factory=dict)


def _file_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for d, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    name = ""
    ROUNDS = 1

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.rounds = 0

    def generate(self, seed: int, out: str) -> None:
        raise NotImplementedError

    def build(self, inputs: str) -> None:
        """Untimed state the workload keeps in the checkout across runs,
        made without touching the measured Spark session."""

    def prepare(self, spark, inputs: str) -> None:
        raise NotImplementedError

    def next_round(self) -> list[Op] | None:
        """The next round's operations, or None after ``ROUNDS`` rounds.
        Round ``r`` is the same work every time it is asked for."""
        raise NotImplementedError

    def restart(self) -> None:
        """Start again from round 0 (the traced half of a traced run
        repeats the untraced half's rounds)."""
        self.rounds = 0

    def before(self, op: Op) -> None:
        """Untimed bookkeeping right before ``op`` runs."""

    def check(self, op: Op, out) -> str | None:
        return None

    def op_extra(self, op: Op) -> dict:
        return dict(op.meta)

    def layer_extras(self, ops: list[dict]) -> dict:
        """Per-layer counters measured after the traced phase."""
        return {}


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

_CANON = None


def canon_module():
    """tools/check_oracle.py — the registry's own oracle canonicalisation."""
    global _CANON
    if _CANON is None:
        path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
        spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
        _CANON = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_CANON)
    return _CANON


class AnalyticsMix(Workload):
    name = "analytics_mix"
    ROUNDS = 2
    QUERIES = {
        "q01_pricing_summary": ("lineitem",),
        "q03_shipping_priority": ("customer", "orders", "lineitem"),
        "q05_nation_revenue": ("lineitem", "orders", "customer", "nation", "region"),
        "q10_returned_customers": ("lineitem", "orders", "customer", "nation"),
        "q18_large_orders": ("lineitem", "orders", "customer"),
        "q_window_rank": ("orders",),
        "q_hourly_rollup": ("events",),
        "q_sessionize": ("events",),
        "o5_latest_per_key": ("events",),
    }

    def generate(self, seed, out):
        self.table_rows = gen.gen_tpch(seed, out)

    def prepare(self, spark, inputs):
        import duckdb

        from pipeline311_spark.plans import REGISTRY

        self.spark, self.dir = spark, inputs
        self.registry = REGISTRY
        canon = canon_module()
        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(inputs, t)}.parquet')"
            )
        self.expected = {}
        for q in self.QUERIES:
            odf = con.execute(REGISTRY[q].oracle).fetchdf()
            cols = list(odf.columns)
            rows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
            self.expected[q] = (sorted(cols), len(rows), canon.value_hash(rows, cols))
        con.close()
        self.cost = {
            q: (sum(self.table_rows[t] for t in ts),
                _file_bytes(*(os.path.join(inputs, f"{t}.parquet") for t in ts)))
            for q, ts in self.QUERIES.items()
        }
        REGISTRY["q_sessionize"].fn(spark, inputs).collect()  # JVM / codegen warm-up

    def next_round(self):
        if self.rounds >= self.ROUNDS:
            return None
        order = sorted(self.QUERIES)
        random.Random(self.seed * 100_003 + self.rounds).shuffle(order)
        self.rounds += 1
        return [
            Op(q, "query", self._runner(q), *self.cost[q]) for q in order
        ]

    def _runner(self, q):
        def run():
            df = self.registry[q].fn(self.spark, self.dir)
            with charge("plans"):
                return df.columns, df.collect()
        return run

    def check(self, op, out):
        cols, rows = out
        exp_cols, exp_n, exp_hash = self.expected[op.name]
        if sorted(cols) != exp_cols:
            return f"columns {sorted(cols)} != {exp_cols}"
        if len(rows) != exp_n:
            return f"{len(rows)} rows, oracle has {exp_n}"
        if canon_module().value_hash([tuple(r) for r in rows], cols) != exp_hash:
            return "value digest differs from the DuckDB oracle"
        return None


# ---------------------------------------------------------------------------
# etl_sync
# ---------------------------------------------------------------------------

KEY, VERSION, PART = "service_request_id", "updated_datetime", "requested_month"
_TIERS = ("bronze", "tombstones")
_PUBLISH_ATTRS = ["status", "service_name", "agency_responsible", "address", "subject"]


class CountingSender:
    """The feature-service client stand-in: counts batches, rows and
    payload bytes through accumulators, and fails the first attempt of
    a deterministic subset of batches so the writer's retry path runs."""

    def __init__(self, sc):
        self.batches = sc.accumulator(0)
        self.rows = sc.accumulator(0)
        self.nbytes = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.failed: set = set()

    def __call__(self, rows):
        first = rows[0]["service_request_id"]
        if first % 29 == 0 and first not in self.failed:
            self.failed.add(first)
            self.retries.add(1)
            raise ConnectionError("transient send failure")
        self.batches.add(1)
        self.rows.add(len(rows))
        self.nbytes.add(sum(len(r["feature_json"]) for r in rows))


class EtlSync(Workload):
    """Every round restores the warehouse to the state after the initial
    load and replays the same seeded batch series, one sync per batch.

    The initial load (the first sync into an empty warehouse) does not
    depend on the seed.  The first run in a checkout performs it in a
    Spark session of its own and keeps the warehouse under
    ``.perfbench_build/``, keyed by a digest of the package and benchmark
    sources.  Every run restores that warehouse and measures the sync in
    a session that has run nothing else, as a scheduled sync job would.

    The warehouse is the bronze tier plus tombstones.  The silver and
    gold MERGEs (``publish_enterprise`` / ``viewer_merge``) would double
    a sync's Spark jobs, and a run must stay short enough to repeat
    some fifty times in the benchmark's time budget."""

    name = "etl_sync"
    BATCHES = 1
    ROUNDS = 1

    def generate(self, seed, out):
        self.manifest = gen.gen_cases(seed, out, self.BATCHES)

    def build(self, inputs):
        self.snapshot = os.path.join(
            os.getcwd(), ".perfbench_build", f"etl_initial_{_source_digest()}")
        if not os.path.isdir(self.snapshot):
            subprocess.run([sys.executable, "-m", "perfbench.workloads", inputs,
                            self.snapshot, os.path.join(self.run_dir, "build")], check=True)

    def prepare(self, spark, inputs):
        self.spark, self.dir = spark, inputs
        _register_source(spark)
        self.paths = {t: os.path.join(self.run_dir, "warehouse", t) for t in _TIERS}
        self.expected = replay_cases(inputs, self.BATCHES)

    def _read(self, tier):
        return self.spark.read.parquet(self.paths[tier])

    def _restore(self) -> None:
        wh = os.path.dirname(self.paths["bronze"])
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(self.snapshot, wh)
        for p in self.paths.values():
            self.spark.catalog.refreshByPath(p)

    def next_round(self):
        if self.rounds >= self.ROUNDS:
            return None
        self.rounds += 1
        self._restore()
        ops = []
        for b, info in enumerate(self.manifest["batches"]):
            meta = {"pages": info["pages"], "batch": b, "rows_cleaned": info["rows_clean"]}
            ops.append(Op(f"sync_batch_{b:03d}", "sync", functools.partial(self._sync, b, meta),
                          info["rows"], info["bytes"], meta))
        return ops

    def _warehouse_files(self) -> dict[str, tuple]:
        out = {}
        for root_dir in self.paths.values():
            for d, _, files in os.walk(root_dir):
                for f in files:
                    if f.endswith(".parquet"):
                        st = os.stat(os.path.join(d, f))
                        out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def before(self, op):
        op.meta["_files"] = self._warehouse_files()
        op.meta["_rows"] = set(_duck_rows(self.paths["bronze"], f"{KEY}, epoch({VERSION})"))

    def _sync(self, b: int, meta: dict):
        from pyspark.sql import functions as F

        from pipeline311_spark.operators.joins import anti_join
        from pipeline311_spark.operators.merge_backends import upsert_into
        from pipeline311_spark.pipelines import publish_features, reconcile, sync_raw
        from pipeline311_spark.sinks import writers
        from pipeline311_spark.streaming.incremental import IncrementalRunner

        spark = self.spark
        bdir = os.path.join(self.dir, f"batch_{b:03d}")
        bronze_t = self._read("bronze").drop(PART)
        runner = IncrementalRunner(lambda: bronze_t, None, None, KEY, VERSION)
        w_prev = runner.current_watermark(bronze_t)
        newer = F.col(VERSION) > F.lit(w_prev)

        # bronze: sf_cases extract -> F1 filter + clean -> watermark MERGE
        src = _extract(spark, os.path.join(bdir, "cases.parquet"), gen.CASE_PAGE_ROWS)
        with charge("pipelines"):
            changed = sync_raw(src, bronze_t).filter(newer).localCheckpoint()
        upsert_into(spark, self.paths["bronze"], _with_part(changed), KEY, VERSION, PART,
                    assume_stable_partitions=True)
        # reconcile: ids the source no longer has move to the tombstones
        live = spark.read.parquet(os.path.join(bdir, "live_ids.parquet"))
        bronze_now = self._read("bronze")
        tomb_t = self._read("tombstones")
        state = reconcile(bronze_now.drop(PART), bronze_now, tomb_t, live)
        with charge("pipelines"):
            dead = state["deleted"].localCheckpoint()
        touched = [r[0] for r in bronze_now.join(dead, KEY, "left_semi").select(PART).distinct().collect()]
        if touched:
            # materialize everything that reads a table before rewriting it
            with charge("operators"):
                kept = anti_join(bronze_now, dead, KEY, broadcast_right=True) \
                    .filter(F.col(PART).isin(touched)).localCheckpoint()
            with charge("pipelines"):
                tomb_new = state["tombstones"].localCheckpoint()
            writers.write_parquet(kept, self.paths["bronze"], mode="overwrite", partition_by=[PART])
            writers.write_parquet(tomb_new, self.paths["tombstones"], mode="overwrite")
        # publish: changed features through the batched sink
        sender = CountingSender(spark.sparkContext)
        feats = publish_features(changed, w_prev, _PUBLISH_ATTRS)
        writers.batched_foreach_writer(feats, sender, batch_size=50, backoff_s=0.0)
        meta.update(
            sent_batches=sender.batches.value, sent_rows=sender.rows.value,
            sent_bytes=sender.nbytes.value, send_retries=sender.retries.value,
        )
        return None

    def check(self, op, out):
        """Bronze and the tombstones against the DuckDB replay of the
        batches so far, and the sink against the batch's accepted rows."""
        exp = self.expected[op.meta["batch"]]
        if op.meta.get("sent_rows") != exp["accepted"]:
            return f"sink received {op.meta.get('sent_rows')} rows, replay accepted {exp['accepted']}"
        got = sorted(_duck_rows(
            self.paths["bronze"], f"{KEY}, epoch({VERSION})::BIGINT, subject, status"))
        if got != exp["state"]:
            diff = len(set(got) ^ set(exp["state"]))
            return f"bronze differs from the replay in {diff} rows ({len(got)} vs {len(exp['state'])})"
        got = sorted(_duck_rows(self.paths["tombstones"], f"{KEY}, subject"))
        if got != exp["tombstones"]:
            return f"tombstones hold {len(got)} rows, replay archived {len(exp['tombstones'])}"
        return None

    def op_extra(self, op):
        """Counters read from the warehouse outside the timed span: files
        the sync left (new or rewritten), the partitions they sit in,
        bronze rows the sync inserted or replaced, and ids that left bronze."""
        extra = dict(op.meta)
        files, before = extra.pop("_files"), extra.pop("_rows")
        written = {p: st for p, st in self._warehouse_files().items() if files.get(p) != st}
        extra["files_written"] = len(written)
        extra["written_bytes"] = sum(size for size, _ in written.values())
        extra["partitions_rewritten"] = len({
            os.path.dirname(p) for p in written if f"{PART}=" in p})
        after = set(_duck_rows(self.paths["bronze"], f"{KEY}, epoch({VERSION})"))
        extra["merge_rows_changed"] = len(after - before)
        extra["rows_deleted"] = len({k for k, _ in before} - {k for k, _ in after})
        return extra


def _register_source(spark) -> None:
    from pipeline311_spark.sources import salesforce_sim

    salesforce_sim.register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def _extract(spark, path, pagesize):
    from pipeline311_spark.schemas import SF_CASE_RAW

    return (spark.read.format("sf_cases").schema(SF_CASE_RAW)
            .option("path", path).option("pagesize", pagesize).load())


def _with_part(df):
    from pyspark.sql import functions as F

    return df.withColumn(PART, F.date_format("requested_datetime", "yyyy-MM"))


def build_initial_warehouse(inputs: str, dest: str, run_dir: str) -> None:
    """The initial load, the first sync into an empty warehouse, in a
    Spark session of its own; the warehouse lands at ``dest``."""
    from perfbench.run import start_spark, stop_spark
    from pipeline311_spark.functions.cleaning import clean_cases
    from pipeline311_spark.operators.merge_backends import upsert_into
    from pipeline311_spark.pipelines import sync_raw

    spark = start_spark(run_dir)
    try:
        _register_source(spark)
        wh = os.path.join(run_dir, "warehouse")
        src = _extract(spark, os.path.join(inputs, "initial.parquet"), gen.CASE_INITIAL_PAGE_ROWS)
        empty = spark.createDataFrame([], clean_cases(src).schema)
        bronze = sync_raw(src, empty).localCheckpoint()
        upsert_into(spark, os.path.join(wh, "bronze"), _with_part(bronze), KEY, VERSION, PART)
        spark.createDataFrame([], bronze.schema).write.parquet(os.path.join(wh, "tombstones"))
    finally:
        stop_spark(spark)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.copytree(wh, tmp)
    try:
        os.rename(tmp, dest)
    except OSError:  # another run built it first
        shutil.rmtree(tmp)


def _source_digest() -> str:
    """Digest of every Python file of the package and the benchmark."""
    h = hashlib.sha256()
    for top in ("pipeline311_spark", "perfbench"):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(os.path.join(d, f).encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _duck_rows(path: str, select: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {select} FROM read_parquet('{path}/**/*.parquet', union_by_name=true)"
        ).fetchall()
    finally:
        con.close()


_EXCLUDED_TYPES = ("", "Agency Receivables", "Revenue Escalation")


def _accepted(path: str) -> str:
    """The source filter and the cleaned columns the replay tracks."""
    return f"""SELECT CAST(CaseNumber AS BIGINT) AS id,
          epoch(strptime(substr(LastModifiedDate, 1, 19), '%Y-%m-%dT%H:%M:%S'))::BIGINT AS upd,
          Subject AS subject, Status AS status
        FROM read_parquet('{path}')
        WHERE RecordTypeId <> '012G00000014BhVIAU' AND RecordTypeId <> ''
          AND Case_Record_Type__c NOT IN {_EXCLUDED_TYPES}"""


def replay_cases(inputs: str, n_batches: int) -> list[dict]:
    """DuckDB recomputation of bronze after each batch: strict
    watermark filter, latest row per key, minus ids the source no longer
    lists (archived as tombstones)."""
    import duckdb

    con = duckdb.connect()
    out = []
    try:
        con.execute(f"CREATE TABLE state AS {_accepted(os.path.join(inputs, 'initial.parquet'))}")
        con.execute("CREATE TABLE tomb (id BIGINT, subject VARCHAR)")
        for b in range(n_batches):
            bdir = os.path.join(inputs, f"batch_{b:03d}")
            con.execute(
                f"""CREATE OR REPLACE TEMP TABLE inc AS SELECT * FROM
                ({_accepted(os.path.join(bdir, 'cases.parquet'))})
                WHERE upd > (SELECT max(upd) FROM state)"""
            )
            con.execute(
                """CREATE OR REPLACE TABLE state AS
                SELECT * FROM state ANTI JOIN inc USING (id) UNION ALL SELECT * FROM inc"""
            )
            live = f"read_parquet('{os.path.join(bdir, 'live_ids.parquet')}')"
            con.execute(f"INSERT INTO tomb SELECT id, subject FROM state WHERE id NOT IN "
                        f"(SELECT service_request_id FROM {live})")
            con.execute(f"DELETE FROM state WHERE id NOT IN (SELECT service_request_id FROM {live})")
            out.append({
                "accepted": con.execute("SELECT count(*) FROM inc").fetchone()[0],
                "state": sorted(con.execute("SELECT id, upd, subject, status FROM state").fetchall()),
                "tombstones": sorted(con.execute("SELECT id, subject FROM tomb").fetchall()),
            })
    finally:
        con.close()
    return out


# ---------------------------------------------------------------------------
# curation_corpus
# ---------------------------------------------------------------------------

_MH = {"k": 16, "bands": 4, "n": 5, "threshold": 0.5, "seed": 42}
_SERVE_BATCHES = 4
_SERVE_QUERIES = 16
_TOPK = 10


def _norm_tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ") if text and text.strip() else []


def _shingles(text: str, n: int) -> set[str]:
    t = _norm_tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)} if len(t) >= n else set()


class CurationCorpus(Workload):
    """Exact and MinHash-LSH dedup, quality and language scores, then a
    BM25 index built once and serving seeded top-k batches.  SimHash and
    the IVF-PQ vector index are left out: each adds some fifteen seconds
    of cold Spark work to a run."""

    name = "curation_corpus"
    ROUNDS = 1

    def generate(self, seed, out):
        gen.gen_corpus(seed, out)

    def prepare(self, spark, inputs):
        import pyarrow.parquet as pq

        self.spark, self.dir = spark, inputs
        self.docs_path = os.path.join(inputs, "documents.parquet")
        t = pq.read_table(self.docs_path, columns=["doc_id", "text"]).to_pydict()
        self.texts = dict(zip(t["doc_id"], t["text"]))
        self.n_docs = len(self.texts)
        self.doc_bytes = _file_bytes(self.docs_path)
        self._bm25_ref = self._bm25_reference()
        self.digests: dict[str, str] = {}
        self.vocab = sorted(self._bm25_ref["df"])

    # -- references computed once per run, outside every timed span ----------
    def _bm25_reference(self) -> dict:
        tf: dict[int, Counter] = {}
        df: Counter = Counter()
        dl: dict[int, int] = {}
        for d, text in self.texts.items():
            if text is None:
                continue
            toks = text.strip().split()
            c = Counter(t.lower() for t in toks)
            tf[d], dl[d] = c, len(toks)
            df.update(c.keys())
        n = len(dl)
        return {"tf": tf, "df": df, "dl": dl, "n": n, "avgdl": sum(dl.values()) / n}

    def _bm25_scores(self, terms: list[str]) -> dict[int, float]:
        r, k1, b = self._bm25_ref, 1.2, 0.75
        out: dict[int, float] = defaultdict(float)
        for term in terms:
            dfv = r["df"].get(term, 0)
            if not dfv:
                continue
            idf = math.log(1.0 + (r["n"] - dfv + 0.5) / (dfv + 0.5))
            for d, c in r["tf"].items():
                tfv = c.get(term)
                if tfv:
                    out[d] += idf * tfv * (k1 + 1) / (tfv + k1 * (1 - b + b * r["dl"][d] / r["avgdl"]))
        return out

    # -- the round -------------------------------------------------------------
    def next_round(self):
        if self.rounds >= self.ROUNDS:
            return None
        r = self.rounds
        self.rounds += 1
        art = os.path.join(self.run_dir, "artifacts", f"round{r}")
        shutil.rmtree(os.path.join(self.run_dir, "artifacts"), ignore_errors=True)
        os.makedirs(art, exist_ok=True)
        bm25_dir = os.path.join(art, "bm25")
        state: dict = {}
        nd, db = self.n_docs, self.doc_bytes
        ops = [
            Op("exact_dedup", "stage", self._exact, nd, db),
            Op("minhash_dedup", "stage", self._minhash, nd, db),
            Op("quality_scores", "stage", self._quality, nd, db),
            Op("lang_id", "stage", self._lang, nd, db),
            Op("bm25_build", "build", lambda: self._bm25_build(bm25_dir, state), nd, db,
               {"artifact_dir": bm25_dir}),
        ]
        rng = random.Random(self.seed * 7_919 + r)
        for i in range(_SERVE_BATCHES):
            bq = [(q, t) for q in range(_SERVE_QUERIES)
                  for t in rng.sample(self.vocab[:400], 2)]
            ops.append(Op(f"bm25_serve_{i}", "serve", self._bm25_serve_fn(state, bq),
                          _SERVE_QUERIES, 0, {"queries": bq}))
        return ops

    def _docs(self):
        return self.spark.read.parquet(self.docs_path)

    def _plan(self, name):
        """A registry plan over the generated corpus (the plans layer)."""
        from pipeline311_spark.plans import REGISTRY

        return REGISTRY[name].fn(self.spark, self.dir)

    def _exact(self):
        df = self._plan("dedup_exact_groups").select("n_docs", "keeper_id")
        with charge("plans"):
            return df.collect()

    def _minhash(self):
        from pipeline311_spark.ext.dedup import minhash_dedup_pairs

        df = minhash_dedup_pairs(self._docs(), "doc_id", "text", **_MH)
        with charge("ext"):
            return df.collect()

    def _quality(self):
        df = self._plan("text_quality_scores").select("doc_id", "quality_score")
        with charge("plans"):
            return df.collect()

    def _lang(self):
        df = self._plan("text_lang_id")
        with charge("plans"):
            return df.collect()

    def _bm25_build(self, out, state):
        from pipeline311_spark.ext.retrieval import bm25_index_append_batch, load_bm25_index

        bm25_index_append_batch(self._docs().select("doc_id", "text"), 0, out)
        state["bm25"] = load_bm25_index(self.spark, out)
        return None

    def _bm25_serve_fn(self, state, queries):
        def run():
            from pipeline311_spark.ext.hashing import meta_df
            from pipeline311_spark.ext.retrieval import bm25_topk

            q = meta_df(self.spark, queries, "query_id long, term string")
            df = bm25_topk(state["bm25"], q, k=_TOPK).select("query_id", "rank", "doc_id")
            with charge("ext"):
                return df.collect()
        return run

    def _stable(self, key: str, lines) -> str | None:
        d = _digest(lines)
        if self.digests.setdefault(key, d) != d:
            return f"{key} digest changed between rounds of one seed"
        return None

    def check(self, op, out):
        name = op.name
        if name == "exact_dedup":  # the plan groups on the first 80 characters
            groups = Counter(re.sub(r"\s+", " ", t[:80].lower()).strip()
                             for t in self.texts.values() if t is not None)
            want = sorted(n for n in groups.values() if n > 1)
            got = sorted(r["n_docs"] for r in out)
            return None if got == want else f"{len(got)} dup groups, expected {len(want)}"
        if name == "minhash_dedup":
            cols = out[0].__fields__ if out else []
            a, b, j = cols[:3] if len(cols) >= 3 else ("doc_a", "doc_b", "jaccard")
            op.meta["verified_pairs"] = len(out)
            for row in out:
                sa, sb = _shingles(self.texts[row[a]], _MH["n"]), _shingles(self.texts[row[b]], _MH["n"])
                true_j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
                if true_j < _MH["threshold"] - 1e-9 or abs(true_j - row[j]) > 1e-6:
                    return f"pair ({row[a]}, {row[b]}) jaccard {row[j]} vs exact {true_j:.4f}"
            return self._stable(name, (f"{r[a]}|{r[b]}" for r in out))
        if name == "quality_scores":
            if len(out) != self.n_docs:
                return f"{len(out)} quality rows for {self.n_docs} documents"
            return self._stable(name, (f"{r['doc_id']}|{r['quality_score']!r}" for r in out))
        if name == "lang_id":
            hit = sum(r["n_docs"] for r in out if r["lang"] == r["predicted_lang"])
            if hit < 0.9 * self.n_docs:
                return f"language id matched {hit}/{self.n_docs} labels"
            return self._stable(name, (str(tuple(r)) for r in out))
        if name.startswith("bm25_serve"):
            return self._check_bm25(op.meta["queries"], out)
        return None

    def _check_bm25(self, queries, out) -> str | None:
        by_q: dict[int, list[str]] = defaultdict(list)
        for q, t in queries:
            by_q[q].append(t)
        got: dict[int, list] = defaultdict(list)
        for r in out:
            got[r["query_id"]].append((r["rank"], r["doc_id"]))
        for q, terms in by_q.items():
            scores = self._bm25_scores(terms)
            want_n = min(_TOPK, len(scores))
            docs = [d for _, d in sorted(got.get(q, []))]
            if len(docs) != want_n or len(set(docs)) != want_n:
                return f"query {q}: {len(docs)} results, expected {want_n}"
            if want_n:
                kth = sorted(scores.values(), reverse=True)[want_n - 1]
                worst = min(scores.get(d, -1.0) for d in docs)
                if worst < kth - 1e-6:
                    return f"query {q}: returned doc scores {worst:.6f} below the top-{want_n} bound {kth:.6f}"
        return None

    def layer_extras(self, ops):
        """LSH candidate pairs of the MinHash stage (one extra untimed
        job), next to the verified pairs the stage returned."""
        from pipeline311_spark.ext.dedup import lsh_candidate_pairs, minhash_signatures

        verified = [o["verified_pairs"] for o in ops if "verified_pairs" in o]
        if not verified:
            return {}
        sig = minhash_signatures(self._docs(), "doc_id", "text", k=_MH["k"], n=_MH["n"],
                                 seed=_MH["seed"])
        cand = lsh_candidate_pairs(sig, k=_MH["k"], bands=_MH["bands"]).count()
        return {"candidate_pairs": cand, "verified_pairs": verified[-1]}

    def op_extra(self, op):
        extra = dict(op.meta)
        extra.pop("queries", None)
        if "artifact_dir" in extra:
            extra["artifact_bytes"] = extra["written_bytes"] = _file_bytes(extra.pop("artifact_dir"))
        return extra


def make(name: str, seed: int, run_dir: str) -> Workload:
    return {"etl_sync": EtlSync, "analytics_mix": AnalyticsMix,
            "curation_corpus": CurationCorpus}[name](seed, run_dir)


if __name__ == "__main__":
    build_initial_warehouse(*sys.argv[1:4])
