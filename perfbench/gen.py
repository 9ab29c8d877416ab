"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files, another seed writes different ones (apart
from the fixed ``region`` / ``nation`` tables and the ``etl_sync``
initial load, which are the same for every seed).  Files
are written with pyarrow (no Spark), so generation time is set-up time
and never mixes with engine time.

* :func:`gen_tpch` — TPC-H-ish star schema plus the ``events`` stream
  table at the reference test data's sf0.1 shape (600 k lineitem rows,
  150 k orders, 15 k customers, 100 k events).
* :func:`gen_cases` — Salesforce-shaped 311 cases: a fixed initial load
  and a seeded series of small incremental batches (updates, inserts, late
  rows for old partitions, exact watermark ties, source-filtered rows,
  deleted ids), staged as connector pages.
* :func:`gen_corpus` — a documents corpus amplified by alphabet rotation
  (the ``tools/scale_amplify.py`` recipe) with a seeded density of exact
  and near duplicates.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = datetime(1970, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the values of another
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _days(start: str, end: str) -> tuple[int, int]:
    a = datetime.fromisoformat(start)
    b = datetime.fromisoformat(end)
    return (a - _EPOCH).days, (b - _EPOCH).days


def _ts_us(days: np.ndarray, secs: np.ndarray | None = None) -> pa.Array:
    us = days.astype(np.int64) * 86_400_000_000
    if secs is not None:
        us = us + secs.astype(np.int64)
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------------------
# analytics_mix: TPC-H-ish tables + events
# ---------------------------------------------------------------------------

TPCH_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000, "events": 100_000}


def gen_tpch(seed: int, out: str) -> dict[str, int]:
    """Write region/nation/customer/orders/lineitem/events parquet files
    under ``out``; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rows: dict[str, int] = {}

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        }),
        os.path.join(out, "region.parquet"),
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(out, "nation.parquet"),
    )
    rows["region"], rows["nation"] = 5, 25

    n = TPCH_ROWS["customer"]
    r = _rng(seed, "customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(segs[r.integers(0, 5, n)]),
        }),
        os.path.join(out, "customer.parquet"),
    )
    rows["customer"] = n

    n = TPCH_ROWS["orders"]
    r = _rng(seed, "orders")
    d0, d1 = _days("1995-01-01", "2001-08-01")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, TPCH_ROWS["customer"], n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n)),
            "o_orderdate": _ts_us(r.integers(d0, d1 + 1, n)),
            "o_orderpriority": pa.array(prio[r.integers(0, 5, n)]),
        }),
        os.path.join(out, "orders.parquet"),
    )
    rows["orders"] = n

    n = TPCH_ROWS["lineitem"]
    r = _rng(seed, "lineitem")
    d0, d1 = _days("1995-01-02", "2001-11-04")
    _write(
        pa.table({
            "l_orderkey": pa.array(np.sort(r.integers(0, TPCH_ROWS["orders"], n, dtype=np.int64))),
            "l_partkey": pa.array(r.integers(0, 20_000, n, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, 1_000, n, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n)),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
            "l_shipdate": _ts_us(r.integers(d0, d1 + 1, n)),
        }),
        os.path.join(out, "lineitem.parquet"),
    )
    rows["lineitem"] = n

    n = TPCH_ROWS["events"]
    r = _rng(seed, "events")
    d0, _ = _days("2024-01-01", "2024-01-31")
    us = np.sort(r.integers(0, 30 * 86_400_000_000, n))
    _write(
        pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(d0 * 86_400_000_000 + us, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1_500, n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(["click", "error", "purchase", "signup", "view"])[r.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }),
        os.path.join(out, "events.parquet"),
    )
    rows["events"] = n
    return rows


# ---------------------------------------------------------------------------
# etl_sync: Salesforce-shaped 311 cases, initial load + incremental batches
# ---------------------------------------------------------------------------

# A sync's cost is set by its ~90 Spark jobs, not by the rows they move,
# so a small warehouse gives the same per-layer picture in a run short
# enough to repeat many times.
CASE_KEYS = 4_000            # initial load size
CASE_BATCH_ROWS = 600        # rows per incremental batch
CASE_DELETES = 15            # ids removed from the source per batch
CASE_PAGE_ROWS = 200         # connector page size for incremental batches
CASE_INITIAL_PAGE_ROWS = 10_000

_EXCLUDED_TYPE = "Agency Receivables"
_WORDS = np.array(
    "pothole streetlight graffiti trash dumping sign signal hydrant sewer tree "
    "sidewalk abandoned vehicle noise permit inspection rodent water leak "
    "parking meter curb snow debris alley fence vacant lot".split()
)
_ACCENTED = np.array(["café", "niño", "señal", "résumé", "façade"])


def _case_columns() -> list[str]:
    from pipeline311_spark.schemas import SF_CASE_RAW

    return [f.name for f in SF_CASE_RAW.fields]


def _fmt_sf_ts(secs: np.ndarray) -> np.ndarray:
    iso = np.datetime_as_string(np.asarray(secs, dtype=np.int64).astype("datetime64[s]"), unit="s")
    return np.char.add(iso, ".000+0000")


def _epoch(s: str) -> int:
    return int(datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp())


def _case_table(rng, keys, created, updated, subjects, record_types) -> pa.Table:
    """One page-store of Salesforce-shaped rows (all strings, as the REST
    source delivers them), with the dirty-value catalog mixed in."""
    n = len(keys)
    cols = {c: [None] * n for c in _case_columns()}
    status = np.array(["Open", "Closed", "In Progress"])[rng.integers(0, 3, n)]
    words = _WORDS[rng.integers(0, len(_WORDS), (n, 6))]
    desc = [" ".join(w) for w in words]
    acc = rng.random(n) < 0.05
    for i in np.flatnonzero(acc):
        desc[i] = desc[i] + " " + str(_ACCENTED[i % len(_ACCENTED)])
    lon = np.round(rng.uniform(-75.28, -74.96, n), 6).astype(str)
    lat = np.round(rng.uniform(39.87, 40.14, n), 6).astype(str)
    lon[rng.random(n) < 0.03] = "0"
    district = rng.integers(1, 40, n)
    dstyle = rng.integers(0, 4, n)
    pd_vals = [
        str(d) if s == 0 else f"{d}th District" if s == 1 else f"PPD-{d}" if s == 2 else "unknown"
        for d, s in zip(district, dstyle)
    ]
    priv = np.array(["true", "false", "False", None], dtype=object)[rng.integers(0, 4, n)]
    cols["CaseNumber"] = [str(k) for k in keys]
    cols["Status"] = list(status)
    cols["Case_Record_Type__c"] = list(record_types)
    cols["Service_Code__c"] = [f"SR-{c:03d}" for c in rng.integers(0, 120, n)]
    cols["Description"] = desc
    cols["Department__c"] = list(np.array(["Streets", "Water", "Licenses", "Police"])[rng.integers(0, 4, n)])
    cols["SLA__c"] = [f"{d} days" for d in rng.integers(1, 30, n)]
    cols["CreatedDate"] = _fmt_sf_ts(created)
    cols["LastModifiedDate"] = _fmt_sf_ts(updated)
    cols["Sla_date__c"] = _fmt_sf_ts(created + 14 * 86_400)
    cols["ClosedDate"] = [u if s == "Closed" else None for u, s in zip(cols["LastModifiedDate"], status)]
    cols["Street__c"] = [f"{a} MARKET ST" for a in rng.integers(1, 9999, n)]
    cols["ZipCode__c"] = [f"191{z:02d}" for z in rng.integers(0, 55, n)]
    cols["Private_Case__c"] = list(priv)
    cols["Subject"] = list(subjects)
    cols["Type"] = list(np.array(["Request", "Complaint", "Information"])[rng.integers(0, 3, n)])
    cols["Police_District__c"] = pd_vals
    cols["Council_District_No__c"] = [str(d % 10 + 1) for d in district]
    cols["Pinpoint_Area__c"] = [f"  Area {d % 7} " for d in district]
    cols["SAG_Parent_Case_Number__c"] = [str(p) if p > 0 else "0" for p in rng.integers(-3, 5, n)]
    cols["Origin"] = list(np.array(["Web", "Phone", "Mobile"])[rng.integers(0, 3, n)])
    cols["Service_Request_Type__c"] = list(_WORDS[rng.integers(0, len(_WORDS), n)])
    cols["Id"] = [f"500{k:012d}" for k in keys]
    cols["RecordTypeId"] = ["012XXX"] * n
    cols["Centerline__Longitude__s"] = list(lon)
    cols["Centerline__Latitude__s"] = list(lat)
    cols["Close_Reason__c"] = ["resolved"] * n
    cols["Status_Update__c"] = ["<'crew assigned'>"] * n
    return pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()})


def gen_cases(seed: int, out: str, n_batches: int) -> dict:
    """Write ``initial.parquet`` and ``batch_NNN/{cases,live_ids}.parquet``
    under ``out``; return the batch manifest (also written as
    ``manifest.json``).  The initial load is the same for every seed, so
    the warehouse it produces can be built once per checkout; the
    batches come from ``seed``."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(0, "cases-initial")
    t_created0, t_created1 = _epoch("2023-10-01"), _epoch("2024-04-01")
    t_upd0 = _epoch("2024-04-02")
    t_batch0 = _epoch("2024-06-03")

    keys = np.arange(1_000_000, 1_000_000 + CASE_KEYS, dtype=np.int64)
    created = np.sort(rng.integers(t_created0, t_created1, CASE_KEYS))
    updated = rng.integers(t_upd0, t_upd0 + 60 * 86_400, CASE_KEYS)
    subjects = [f"init-{i}" for i in range(CASE_KEYS)]
    rtypes = np.array(["Service Request"] * CASE_KEYS, dtype=object)
    rtypes[rng.random(CASE_KEYS) < 0.01] = _EXCLUDED_TYPE
    accepted = rtypes != _EXCLUDED_TYPE
    wm = int(updated[accepted].max())
    manifest = {"initial": {"rows": CASE_KEYS, "pages": -(-CASE_KEYS // CASE_INITIAL_PAGE_ROWS)}}
    manifest["initial"]["bytes"] = _write(
        _case_table(rng, keys, created, updated, subjects, rtypes), os.path.join(out, "initial.parquet")
    )

    rng = _rng(seed, "cases")

    n_ins, n_filt = int(CASE_BATCH_ROWS * 0.25), int(CASE_BATCH_ROWS * 0.07)
    n_upd, n_late, n_tie = (int(CASE_BATCH_ROWS * f) for f in (0.45, 0.15, 0.08))
    space = CASE_KEYS + n_batches * (n_ins + n_filt)
    created_all = np.zeros(space, dtype=np.int64)
    created_all[:CASE_KEYS] = created
    live = np.zeros(space, dtype=bool)
    live[:CASE_KEYS] = accepted
    # keys touched in the last three batches are never deleted, so the
    # bronze watermark row survives reconciliation and tie rows stay ties
    last_touch = np.full(space, -10, dtype=np.int64)
    next_idx = CASE_KEYS
    batches = []
    for b in range(n_batches):
        ins_idx = np.arange(next_idx, next_idx + n_ins)
        filt_idx = np.arange(next_idx + n_ins, next_idx + n_ins + n_filt)
        next_idx += n_ins + n_filt
        created_all[ins_idx] = rng.integers(t_created1 - 30 * 86_400, t_created1, n_ins)
        created_all[filt_idx] = rng.integers(t_created1 - 30 * 86_400, t_created1, n_filt)
        old = (created_all > 0) & (created_all < t_created0 + 60 * 86_400)  # first two months
        young_live = np.flatnonzero(live & ~old & (created_all > 0))
        pick = rng.permutation(young_live)
        upd_idx, tie_idx = pick[:n_upd], pick[n_upd:n_upd + n_tie]
        late_idx = rng.permutation(np.flatnonzero(live & old))[:n_late]
        bidx = np.concatenate([upd_idx, late_idx, ins_idx, filt_idx, tie_idx])
        n_new = len(bidx) - len(tie_idx)
        w0 = t_batch0 + b * 3_600
        upd_t = np.maximum(np.sort(rng.integers(w0, w0 + 3_600, n_new)), wm + 1)
        bupdated = np.concatenate([upd_t, np.full(len(tie_idx), wm, dtype=np.int64)])
        brtypes = np.array(["Service Request"] * len(bidx), dtype=object)
        f0 = len(upd_idx) + len(late_idx) + n_ins
        brtypes[f0:f0 + n_filt] = _EXCLUDED_TYPE
        bsubj = np.array([f"b{b}-{i}" for i in range(len(bidx))])
        order = rng.permutation(len(bidx))  # arrival order is not time order
        bdir = os.path.join(out, f"batch_{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        nbytes = _write(
            _case_table(rng, bidx[order] + 1_000_000, created_all[bidx][order],
                        bupdated[order], bsubj[order], brtypes[order]),
            os.path.join(bdir, "cases.parquet"),
        )
        acc_idx = np.concatenate([upd_idx, late_idx, ins_idx])
        wm = int(upd_t.max())
        live[ins_idx] = True
        last_touch[acc_idx] = b
        last_touch[tie_idx] = b
        # deleted ids come from the oldest months, so reconciliation
        # rewrites a few partitions per tier rather than all of them
        candidates = np.flatnonzero(live & old & (last_touch < b - 2))
        dels = np.sort(rng.choice(candidates, CASE_DELETES, replace=False))
        live[dels] = False
        nbytes += _write(
            pa.table({"service_request_id": pa.array(np.flatnonzero(live) + 1_000_000)}),
            os.path.join(bdir, "live_ids.parquet"),
        )
        batches.append({
            "rows": int(len(bidx)),
            "rows_clean": int(len(bidx) - n_filt),
            "pages": -(-len(bidx) // CASE_PAGE_ROWS),
            "bytes": nbytes,
            "deleted": (dels + 1_000_000).tolist(),
        })
    manifest["batches"] = batches
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


# ---------------------------------------------------------------------------
# curation_corpus: amplified documents with planted duplicates
# ---------------------------------------------------------------------------

CORPUS_BASE_DOCS = 500
CORPUS_REPLICAS = 4
CORPUS_EXACT_DUP = 0.02
CORPUS_NEAR_DUP = 0.08
_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
}


_MARKER_SET = {m for ms in _LANG_MARKERS.values() for m in ms}


def _vocab(rng, n: int) -> np.ndarray:
    letters = np.array(list(_ALPHA))
    lens = rng.integers(3, 9, n)
    return np.array(["".join(letters[rng.integers(0, 26, k)]) for k in lens])


def _rotate(text: str, i: int) -> str:
    r = i % 26
    return text.translate(str.maketrans(_ALPHA, _ALPHA[r:] + _ALPHA[:r])) if r else text


def gen_corpus(seed: int, out: str) -> dict[str, int]:
    """Write ``documents.parquet``; return the row count and the planted
    duplicate counts.  Replicas rotate every
    content word's alphabet but keep the language marker words, so a
    replica is unrelated text in the same language."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, "corpus")
    vocab = _vocab(rng, 4_000)
    langs = np.array(list(_LANG_MARKERS))
    base_txt, base_lang = [], []
    for _ in range(CORPUS_BASE_DOCS):
        lang = langs[rng.integers(0, len(langs))]
        n = int(rng.integers(24, 96))
        toks = vocab[rng.zipf(1.3, n) % len(vocab)].tolist()
        markers = _LANG_MARKERS[lang]
        for pos in rng.integers(0, n, max(2, n // 6)):
            toks[pos] = markers[int(rng.integers(0, len(markers)))]
        base_txt.append(" ".join(toks))
        base_lang.append(str(lang))

    texts, doc_lang, sources = [], [], []
    for rep in range(CORPUS_REPLICAS):
        for t, lg in zip(base_txt, base_lang):
            texts.append(" ".join(w if w in _MARKER_SET else _rotate(w, rep) for w in t.split()))
            doc_lang.append(lg)
            sources.append(f"src{rep}")
    n_orig = len(texts)
    n_exact = int(n_orig * CORPUS_EXACT_DUP)
    n_near = int(n_orig * CORPUS_NEAR_DUP)
    for src in rng.choice(n_orig, n_exact, replace=False).tolist():
        texts.append(texts[src])
        doc_lang.append(doc_lang[src])
        sources.append("dup_exact")
    for src in rng.choice(n_orig, n_near, replace=False).tolist():
        toks = texts[src].split()
        for pos in rng.integers(0, len(toks), max(1, len(toks) // 25)):
            toks[pos] = str(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(toks))
        doc_lang.append(doc_lang[src])
        sources.append("dup_near")
    n_docs = len(texts)
    perm = rng.permutation(n_docs)
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([texts[i] for i in perm]),
            "lang": pa.array([doc_lang[i] for i in perm]),
            "source": pa.array([sources[i] for i in perm]),
            "n_chars": pa.array(np.array([len(texts[i]) for i in perm], dtype=np.int64)),
        }),
        os.path.join(out, "documents.parquet"),
    )

    return {"documents": n_docs, "exact_dups": n_exact, "near_dups": n_near}
