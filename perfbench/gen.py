"""Seeded input generators for the benchmark.

Three inputs, each a pure function of its arguments (same arguments, same
bytes):

* ``tables``: the star schema plus ``events``/``documents``/``embeddings``
  in the layout of the program's ``graft.Tables`` catalog, one parquet file
  per table.
* ``audit_rounds``: audit-log JSON lines for the DataReport stream, with
  bounded disorder, records within the allowed lateness, records far past
  it and records whose ``dt`` does not parse.
* ``dedup_stream``: a document stream for the dedup gate that mixes novel
  rewrites, exact copies of corpus documents and repeats of documents seen
  earlier in the stream.
"""
import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64

_US = pa.timestamp("us")
_EPOCH = _dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _words(rng, n):
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _rewrite(rng, words, share):
    """Replace about ``share`` of the words: a near-duplicate."""
    out = list(words)
    for i in np.flatnonzero(rng.random(len(out)) < share):
        out[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return out


def documents(rng, n):
    """(doc_id, text, lang, source, n_chars) with planted near-duplicates:
    every 10th document rewrites an earlier one (8% of words changed) and
    every 33rd copies one exactly."""
    texts = []
    for i in range(n):
        if i >= 10 and i % 10 == 7:
            texts.append(" ".join(_rewrite(rng, texts[rng.integers(0, i)].split(), 0.08)))
        elif i >= 33 and i % 33 == 5:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(_words(rng, int(rng.integers(10, 91)))))
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(out_dir, seed, sf):
    """Write the ten catalog tables for scale factor ``sf`` (0.01 gives
    60,000 lineitem rows) under ``out_dir``."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = 500, 500

    def put(name, t):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

    put("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}))
    put("nation", pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist())}))
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}))
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price)}))
    d0 = _micros(_dt.datetime(1995, 1, 1))
    day = 86_400_000_000
    odate = d0 + rng.integers(0, 2404, n_ord) * day
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_ok)
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_pk], 2)
    tot = np.zeros(n_ord)
    np.add.at(tot, l_ok, ext)
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(tot, 2)),
        "o_orderdate": pa.array(odate, _US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist())}))
    put("lineitem", pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(l_pk),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(l_no),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": pa.array(odate[l_ok] + rng.integers(1, 95, n_li) * day, _US)}))
    e0 = _micros(_dt.datetime(2024, 1, 1))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(e0 + np.sort(rng.integers(0, 30 * day, n_ev)), _US),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.02, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)])}))
    put("documents", documents(rng, n_docs))
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0, 0.6, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}))


# --------------------------------------------------------------- audit

AUDIT_TYPES = ["shelf", "unshelf", "check", "review", "audit"]
AUDIT_AREAS = ["AREA_US", "AREA_CT", "AREA_AR", "AREA_IN", "AREA_ID"]
STEP_MS = 300          # event-time step between consecutive records
JITTER_MS = 4_000      # bounded disorder of on-time records
LATE_EVERY = 16        # every 16th record sits within the allowed lateness
FAR_EVERY = 50         # every 50th record is far past the lateness bound
BAD_EVERY = 40         # every 40th record has a malformed dt
FAR_BEHIND_S = 900     # how far behind the stream a far-late record is


def audit_kind(i):
    """The class of record ``i`` of a round. A fixed schedule, so that the
    share of each class, and the records of the second micro-batch, do not
    depend on the seed."""
    if i % BAD_EVERY == 11:
        return "bad"
    if i % FAR_EVERY == 23:
        return "far"
    if i % LATE_EVERY == 5:
        return "late"
    return "ontime"


def audit_round(seed, rnd, n, t0_ms):
    """One round: ``n`` records as (json line, kind, event ms or None).

    Event time advances ``STEP_MS`` per record. On-time records lag their
    slot by up to ``JITTER_MS``; within-lateness records lag it by 10-25 s;
    far-late records by ``FAR_BEHIND_S`` s; malformed records carry a dt
    that does not parse."""
    rng = np.random.default_rng([seed, 11, rnd])
    types = rng.integers(0, len(AUDIT_TYPES), n)
    areas = rng.integers(0, len(AUDIT_AREAS), n)
    users = rng.integers(1, 50, n)
    jit = rng.integers(0, JITTER_MS + 1, n)
    lag = rng.integers(10_000, 25_001, n)
    far = rng.integers(0, 60_001, n)
    out = []
    for i in range(n):
        kind = audit_kind(i)
        slot = t0_ms + i * STEP_MS
        if kind == "ontime":
            ms = slot - int(jit[i])
        elif kind == "late":
            ms = slot - int(lag[i])
        elif kind == "far":
            ms = slot - FAR_BEHIND_S * 1000 - int(far[i])
        else:
            ms = None
        # whole seconds: the job's dt has second precision
        ms = None if ms is None else ms - ms % 1000
        dt = ("2018-13-45 99:99:99" if ms is None else
              (_EPOCH + _dt.timedelta(milliseconds=ms)).strftime("%Y-%m-%d %H:%M:%S"))
        line = json.dumps({"dt": dt, "type": AUDIT_TYPES[types[i]],
                           "username": f"shenhe{users[i]}",
                           "area": AUDIT_AREAS[areas[i]]}, separators=(",", ":"))
        out.append((line, kind, ms))
    return out


AUDIT_T0_MS = _micros(_dt.datetime(2018, 1, 1, 10, 0, 0)) // 1000


def audit_rounds(seed, sizes):
    """One round per size; every round starts its own event-time axis one
    day after the last."""
    return [audit_round(seed, r, n, AUDIT_T0_MS + r * 86_400_000)
            for r, n in enumerate(sizes)]


# --------------------------------------------------------------- dedup

def dedup_stream(seed, corpus_texts, n, id_base):
    """``n`` stream documents as (doc_id, text, kind, source) rows.

    kinds: ``novel`` (a rewrite of a corpus document with 60% of its words
    replaced, or fresh text), ``copy`` (an exact copy of a corpus document;
    source is its doc_id) and ``repeat`` (an exact copy of an earlier stream
    document; source is that document's id). Every 8th document is a copy
    and every 8th (offset 4) a repeat, so both shares are fixed."""
    rng = np.random.default_rng([seed, 13])
    rows = []
    for i in range(n):
        did = id_base + i
        if i % 8 == 2:
            src = int(rng.integers(0, len(corpus_texts)))
            rows.append((did, corpus_texts[src], "copy", src))
        elif i % 8 == 6 and i > 8:
            j = int(rng.integers(0, i))
            while rows[j][2] != "novel":
                j = int(rng.integers(0, i))
            rows.append((did, rows[j][1], "repeat", rows[j][0]))
        elif i % 2 == 0:
            base = corpus_texts[int(rng.integers(0, len(corpus_texts)))].split()
            rows.append((did, " ".join(_rewrite(rng, base, 0.6)), "novel", -1))
        else:
            rows.append((did, " ".join(_words(rng, int(rng.integers(10, 91)))), "novel", -1))
    return rows
