#!/usr/bin/env python3
"""Output checks for the three workloads, each against a computation made
apart from the engine.

* query_mix: each query's result rows, normalised as the repo's
  tools/oracle_check.py does, against the stored DuckDB result of the
  query's oracle SQL (perfbench/expected/query_mix.json, written by
  perfbench/oracle.py).
* audit_report_stream: the final window table and the side output against
  a model of the reference rule built from the generated input and the
  fixed trigger boundaries.
* dedup_gate_stream: planted copies and repeats reported, every reported
  pair's exact shingle Jaccard recomputed from the generated texts,
  exactly-once hits, every input offset consumed.

Each check returns (failed ops, correct, reasons).

    python3 perfbench/check.py --selftest

feeds each check a deliberately wrong output and confirms it counts a
failure.
"""
import collections
import datetime as _dt
import hashlib
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "query_mix.json")
EPOCH = _dt.datetime(1970, 1, 1)


def _lines(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [l.rstrip("\n") for l in f if l.strip()]


# ------------------------------------------------------------- query_mix

TYPE_EQUIV = [{"VARCHAR", "JSON"}]


def type_compat(a, b):
    return a == b or any(a in g and b in g for g in TYPE_EQUIV)


def result_digest(cols, rows):
    """Columns sorted by name, values normalised as tools/oracle_check.py
    (floats by repr, NULL spelled out), rows sorted; then hashed."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple("NULL" if r[i] is None else
                        (repr(float(r[i])) if isinstance(r[i], float) else str(r[i]))
                        for i in order) for r in rows)
    h = hashlib.sha256()
    for r in norm:
        h.update("\x1f".join(r).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest(), len(norm)


def describe(con, sql):
    """(columns, types, rows) of a query."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [types[c] for c in cols], cur.fetchall()


def compare_query(got, want):
    """got = (cols, types, rows); want = stored entry. Returns a reason or
    None when the result matches."""
    cols, types, rows = got
    if sorted(cols) != sorted(want["columns"]):
        return f"columns {sorted(cols)} vs {sorted(want['columns'])}"
    wt = dict(zip(want["columns"], want["types"]))
    bad = [(c, t, wt[c]) for c, t in zip(cols, types) if not type_compat(t, wt[c])]
    if bad:
        return f"types {bad}"
    digest, n = result_digest(cols, rows)
    if digest != want["digest"]:
        return f"rows differ ({n} vs {want['rows']} rows)"
    return None


def generator_digest(table_seed, sf):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read() + f"{table_seed}/{sf}".encode()).hexdigest()[:16]


def query_mix(out, table_seed, sf):
    import duckdb
    if not os.path.exists(EXPECTED):
        return 0, False, ["no stored oracle results: run perfbench/oracle.py"]
    exp = json.load(open(EXPECTED))
    if exp["generator"] != generator_digest(table_seed, sf):
        return 0, False, ["stored oracle results are for other tables: rerun perfbench/oracle.py"]
    warm = {l.split("\t")[0]: l.split("\t")[2] if len(l.split("\t")) > 2 else ""
            for l in _lines(os.path.join(out, "warm.tsv"))}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    bad, why = set(), []
    for name in sorted(warm):
        want = exp["queries"].get(name)
        if want is None:
            return 0, False, [f"{name}: no stored oracle result"]
        if warm[name]:
            bad.add(name)
            why.append(f"{name}: failed: {warm[name]}")
            continue
        got = describe(con, f"SELECT * FROM '{out}/q/{name}/*.parquet'")
        reason = compare_query(got, want)
        if reason:
            bad.add(name)
            why.append(f"{name}: {reason}")
    ops = _lines(os.path.join(out, "ops.tsv"))
    return sum(1 for o in ops if o in bad), True, why


# ----------------------------------------------------------------- audit

def fmt(ms):
    return (EPOCH + _dt.timedelta(milliseconds=ms)).strftime("%Y-%m-%d %H:%M:%S")


def audit_model(recs, per_trigger):
    """The reference rule over fixed trigger boundaries: a record is late iff
    its window end <= (the newest event time in earlier batches - 40 s).
    Returns (windows {(wstart, type, area): (count, max time)}, late lines
    Counter, late records of the second batch)."""
    windows, late = {}, collections.Counter()
    newest, second_late = None, 0
    for b in range(0, len(recs), per_trigger):
        batch = [(json.loads(l), ms) for l, _, ms in recs[b:b + per_trigger] if ms is not None]
        for j, ms in batch:
            wend = (ms // 30_000 + 1) * 30_000
            if newest is not None and wend <= newest - 40_000:
                late[f"{fmt(ms)}\t{j['type']}\t{j['area']}"] += 1
                second_late += b == per_trigger
            else:
                k = (fmt(wend - 30_000), j["type"], j["area"])
                c, m = windows.get(k, (0, 0))
                windows[k] = (c + 1, max(m, ms))
        if batch:
            top = max(ms for _, ms in batch)
            newest = top if newest is None else max(newest, top)
    return ({k: (c, fmt(m)) for k, (c, m) in windows.items()}, late, second_late)


def audit_round(model, windows, late):
    """Compare one round. Returns (counted though late, other faults, reasons)."""
    mw, ml, _ = model
    over = under = wrong_time = 0
    for k in set(mw) | set(windows):
        (mc, mt), (c, t) = mw.get(k, (0, "")), windows.get(k, (0, ""))
        over += max(0, c - mc)
        under += max(0, mc - c)
        wrong_time += c == mc and mt != t
    got = collections.Counter(late)
    extra, missing = got - ml, ml - got
    why = []
    if under or wrong_time or extra or missing:
        why.append(f"undercounted {under}, wrong max time {wrong_time}, "
                   f"late not expected {sum(extra.values())}, late missing {sum(missing.values())}")
    return over, under + wrong_time + sum(extra.values()) + sum(missing.values()), why


def audit(out, rounds, per_trigger):
    timed = {int(r) for r in _lines(os.path.join(out, "timed_rounds.tsv"))}
    failed, correct, why = 0, True, []
    for r in sorted(timed | {0}):
        recs = rounds[r]
        model = audit_model(recs, per_trigger)
        windows = {}
        for l in _lines(os.path.join(out, f"audit_r{r}_windows.tsv")):
            w, t, a, c, m = l.split("\t")
            windows[(w, t, a)] = (int(c), m)
        late = _lines(os.path.join(out, f"audit_r{r}_late.tsv"))
        sizes = [int(x) for b in _lines(os.path.join(out, f"audit_r{r}_batches.tsv"))
                 for x in b.split(",")]
        want = [min(per_trigger, len(recs) - i) for i in range(0, len(recs), per_trigger)]
        if sizes != want + want:
            correct = False
            why.append(f"round {r}: trigger sizes {sizes}, the model assumes {want} per query")
        over, other, w = audit_round(model, windows, late)
        # the known fault: the aggregate still counts the second batch's late
        # records, which the router routes. A run shows all of them or, once
        # the fault is mended, none; nothing else may differ
        if over not in (0, model[2]) or other:
            correct = False
            why.append(f"round {r}: counted-and-late {over} (second-batch late records "
                       f"{model[2]}); other mismatches {other}")
        why += [f"round {r}: {x}" for x in w]
        if r in timed:
            failed += over + other
    return failed, correct, why


# ----------------------------------------------------------------- dedup

def shingles(text):
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)} if len(toks) >= 3 else set()


def jaccard_ok(a, b):
    """Exact |A & B| / |A | B| >= 0.5, in integers."""
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return union > 0 and 2 * len(sa & sb) >= union


def dedup_check(texts, stream, hits, docs_per_round, timed, consumed):
    """texts: id -> text; stream: generated rows; hits: [(new, dup_of)].
    Returns (failed ops, other faults, reasons)."""
    bad_ops, why = set(), []
    count = collections.Counter(hits)
    for (a, b), n in count.items():
        if n > 1:
            bad_ops.add(a)
            why.append(f"hit ({a}, {b}) written {n} times")
        if a not in texts or b not in texts or not jaccard_ok(texts[a], texts[b]):
            bad_ops.add(a)
            why.append(f"hit ({a}, {b}) is below the Jaccard threshold")
    ran = max(timed | {0}) + 1
    for did, _, kind, src in stream[:ran * docs_per_round]:
        if kind != "novel" and (did, src) not in count:
            bad_ops.add(did)
            why.append(f"planted {kind} {did} of {src} not reported")
    # each round is one transaction: its records and one commit marker
    offsets = ran * (docs_per_round + 1)
    if consumed != offsets:
        why.append(f"consumed {consumed} of {offsets} input offsets")
    timed_ids = {row[0] for i, row in enumerate(stream) if i // docs_per_round in timed}
    failed = len(bad_ops & timed_ids)
    other = len(bad_ops - timed_ids) + (consumed != offsets)
    return failed, other, why


def dedup(out, corpus, stream, docs_per_round):
    texts = dict(enumerate(corpus))
    texts.update({row[0]: row[1] for row in stream})
    hits = []
    for l in _lines(os.path.join(out, "dedup_hits.tsv")):
        k, b, _ = l.split("\t")
        hits.append((int(k), int(b)))
    timed = {int(r) for r in _lines(os.path.join(out, "timed_rounds.tsv"))}
    consumed = sum(int(x) for x in re.findall(r":\s*(\d+)",
                                              "".join(_lines(os.path.join(out, "dedup_consumed.txt")))))
    failed, other, why = dedup_check(texts, stream, hits, docs_per_round, timed, consumed)
    return failed, other == 0, why


# -------------------------------------------------------------- selftest

def selftest():
    import gen
    import numpy as np
    ok = True

    def expect(label, failed):
        nonlocal ok
        print(f"{'ok  ' if failed > 0 else 'FAIL'} {label}: {failed} failed")
        ok &= failed > 0

    # dedup: a perfect hit list passes; dropping one planted copy fails
    corpus = gen.documents(np.random.default_rng(1), 200).column("text").to_pylist()
    stream = gen.dedup_stream(1, corpus, 80, 1_000_000)
    texts = dict(enumerate(corpus))
    texts.update({r[0]: r[1] for r in stream})
    hits = [(r[0], r[3]) for r in stream if r[2] != "novel"]
    f, o, _ = dedup_check(texts, stream, hits, 40, {1}, 82)
    print(f"{'ok  ' if f == 0 and o == 0 else 'FAIL'} dedup, correct output: {f} failed")
    ok &= f == 0 and o == 0
    victim = next(h for h in hits if h[0] >= 1_000_040)
    dropped = [h for h in hits if h != victim]
    expect("dedup, a planted copy dropped", dedup_check(texts, stream, dropped, 40, {1}, 82)[0])

    # audit: the model's own output passes; one changed window count fails
    recs = gen.audit_round(3, 0, 600, gen.AUDIT_T0_MS)
    model = audit_model(recs, 200)
    late = [l for l, n in model[1].items() for _ in range(n)]
    over, other, _ = audit_round(model, dict(model[0]), late)
    print(f"{'ok  ' if over + other == 0 else 'FAIL'} audit, correct output: {over + other} failed")
    ok &= over + other == 0
    windows = dict(model[0])
    k = sorted(windows)[3]
    windows[k] = (windows[k][0] + 1, windows[k][1])
    expect("audit, a window count changed", sum(audit_round(model, windows, late)[:2]))

    # query: the stored digest of a result matches; one altered row does not
    cols, types = ["k", "v"], ["BIGINT", "DOUBLE"]
    rows = [(i, i / 7.0) for i in range(50)]
    digest, n = result_digest(cols, rows)
    want = {"columns": cols, "types": types, "digest": digest, "rows": n}
    same = compare_query((cols, types, list(reversed(rows))), want)
    print(f"{'ok  ' if same is None else 'FAIL'} query, correct rows: {same or 'match'}")
    ok &= same is None
    altered = rows[:10] + [(10, 10 / 7.0 + 1e-9)] + rows[11:]
    expect("query, a row altered", int(compare_query((cols, types, altered), want) is not None))
    return ok


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        sys.path.insert(0, HERE)
        sys.exit(0 if selftest() else 1)
    print(__doc__)
    sys.exit(2)
