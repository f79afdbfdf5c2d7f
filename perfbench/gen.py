"""Seeded input generator for the benchmark.

Two input sets, both a pure function of the seed (same seed -> byte-identical
files):

* ``tables``: the ten TPC-H-ish parquet tables the registered queries read
  (same names, columns and types as the engine's test data).
* ``kg``: the knowledge-graph pipeline inputs -- waste-item CSV batches with
  the messy cases of the reference export, a facilities JSON with every
  name split across uuids, a DisposalRule/Condition rule layer with its
  answer set, a lookup list, and ``truth.json``, the expected output.

The engine only ever sees the files. Run standalone with
``python3 perfbench/gen.py --seed 7 --out DIR``.
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the shape of the engine's smallest test tables (about
# sf0.001). At sf0.1 one warm pass of the headline queries takes about 20 s
# and the cold pass 45 s on a 4-core host, more than a whole run may take.
ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}

# Knowledge-graph sizes: batch 0 holds KG_ITEMS rows, each of the
# KG_BATCHES incremental batches KG_BATCH_ROWS (half updates of known
# items, half new items).
KG_ITEMS = 2000
KG_BATCHES = 2
KG_BATCH_ROWS = 400
KG_FACILITIES = 40
KG_RULE_ITEMS = 60
KG_LOOKUPS = 120

STREAMS = (
    "Restabfalltonne", "Biotonne", "Altpapiertonne", "Verpackungstonne",
    "Verpackungstonne (Gelbe Tonne)",
)
KNOWN_FACILITIES = (
    "Wertstoffhof Nord", "Wertstoffhof West", "Wertstoffhof Ost",
    "Schadstoffsammlung", "Abfallumladeanlage FES",
    "Fachhandel / Hersteller", "Sperrmüll Express",
)
# (cell text, canonical target): typo, tab and synonym variants.
VARIANTS = (
    ("Restmülltonne", "Restabfalltonne"),
    ("Gelbe Tonne", "Verpackungstonne (Gelbe Tonne)"),
    ("Fachhandel / Herstelle", "Fachhandel / Hersteller"),
    ("Abfallumladeanlage \tFES", "Abfallumladeanlage FES"),
)
NOTES = (
    "Laut FES: Sperrmüll", "Hinweis beachten", "1 Stück = 1 Sack",
    "Biotonne oder Restmüll", "siehe unten", "ab 5 kg",
)
FIELDS = ("address", "opening_hours", "contact", "additional_info", "link")
WORDS = (
    "Altglas", "Batterie", "Dose", "Eierschale", "Folie", "Glühbirne",
    "Holz", "Kabel", "Karton", "Lack", "Matratze", "Pappe", "Reifen",
    "Schuh", "Teller", "Toner", "Vase", "Windel", "Zeitung", "Spiegel",
)


def uid(name: str) -> str:
    """The engine's surrogate key: sha256 hex of the name, 16 chars."""
    return hashlib.sha256(name.encode()).hexdigest()[:16]


# --------------------------------------------------------------- tables


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def gen_tables(seed: int, out: str) -> dict[str, int]:
    """Write the ten parquet tables under ``out``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i64, i32, f64 = pa.int64(), pa.int32(), pa.float64()
    ts = pa.timestamp("us")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start: str, span: int, size):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, size).astype("timedelta64[D]")

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
    }
    c = ROWS["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, c), f64),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ).tolist(),
    })
    s = ROWS["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, s), f64),
    })
    p = ROWS["part"]
    adj = ["small", "large", "cold", "hot", "shiny", "dull", "red", "blue"]
    noun = ["widget", "bolt", "gear", "valve", "pipe", "spring", "nut", "screw"]
    retail = np.round(900 + (np.arange(p) % 200) * 0.1, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, p), rng.choice(noun, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(retail, f64),
    })
    o = ROWS["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
        "o_totalprice": pa.array(money(1000, 500000, o), f64),
        "o_orderdate": pa.array(days("1995-01-01", 2405, o), ts),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ).tolist(),
    })
    li = ROWS["lineitem"]
    part_key = rng.integers(0, p, li)
    qty = rng.integers(1, 51, li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(part_key, i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * retail[part_key] * 2.33, 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100, f64),
        "l_returnflag": rng.choice(["A", "N", "R"], li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], li).tolist(),
        "l_shipdate": pa.array(days("1995-01-02", 2498, li), ts),
    })
    ev = ROWS["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 15, ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ev).tolist(),
        "value": pa.array(np.round(rng.exponential(60, ev) + 0.03, 2), f64),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ev)],
    })
    tables["documents"] = _documents(rng, ROWS["documents"])
    e = ROWS["embeddings"]
    vecs = rng.standard_normal((e, 64)).astype(np.float32)
    dup = rng.random(e) < 0.1  # near-duplicate vectors for the cosine dedup
    src = rng.integers(0, e, e)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 0.01, (int(dup.sum()), 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(e), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e), i32),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = (
        "the fast key order sort table scan merge part window small hash join "
        "batch stream spark dup index graph edge node rank page token text "
        "file block cache plan stage task shuffle"
    ).split()
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.2:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = rng.choice(vocab, int(rng.integers(8, 90))).tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ------------------------------------------------------ knowledge graph


def _facilities(rng: random.Random) -> tuple[dict, dict]:
    """Facilities JSON ({uuid: [records]}) and its merged expectation.

    Every name appears under two or three uuids with complementary
    fields; the engine keeps, per field, the first non-empty value in
    (uuid, array position) order."""
    names = list(KNOWN_FACILITIES) + [f"Recyclinghof {i:03d}" for i in range(KG_FACILITIES)]
    doc: dict[str, list] = {}
    for name in names:
        for _ in range(rng.choice((2, 2, 3))):
            rec = {"name": name}
            for f in FIELDS:
                rec[f] = f"{f} {name} {rng.randrange(1000)}" if rng.random() < 0.5 else ""
            key = f"{rng.getrandbits(64):016x}"
            doc.setdefault(key, []).append(rec)
    doc[f"{rng.getrandbits(64):016x}"] = [{"name": "", "address": "no name"}]
    merged: dict[str, dict] = {}
    for key in sorted(doc):
        for rec in doc[key]:
            name = rec["name"].strip()
            if not name:
                continue
            cur = merged.setdefault(name, dict.fromkeys(FIELDS))
            for f in FIELDS:
                v = rec.get(f, "").strip()
                if cur[f] is None and v:
                    cur[f] = v
    return doc, merged


def _cell(rng: random.Random, facilities: list[str]) -> tuple[str, list[str], int]:
    """One Entsorgungsweg cell: (text, expected canonical targets,
    unmatched facility mentions), drawn from the messy cases at fixed
    shares."""
    r = rng.random()
    if r < 0.30:
        s = rng.choice(STREAMS)
        return s, [s], 0
    if r < 0.45:
        f = rng.choice(facilities)
        return f, [f], 0
    if r < 0.55:
        a, b = rng.choice(STREAMS), rng.choice(facilities)
        return f"{a}\n{b}", [a, b], 0
    if r < 0.60:
        return "-", [], 0
    if r < 0.70:
        raw, canon = rng.choice(VARIANTS)
        return raw, [canon], 0
    if r < 0.77:
        s = rng.choice(STREAMS)
        return f"{s}\n{rng.choice(NOTES)}", [s], 0
    if r < 0.84:  # in-cell duplicate, once through the synonym map
        s = rng.choice(STREAMS)
        if rng.random() < 0.5:
            return f"{s}\n{s}", [s], 0
        return "Restmülltonne\nRestabfalltonne", ["Restabfalltonne"], 0
    if r < 0.93:  # concatenated cell longer than 30 chars
        picks = rng.sample(KNOWN_FACILITIES[:4], rng.choice((2, 3)))
        return " ".join(picks), picks, 0
    phantom = f"Recyclinghof Phantom {rng.randrange(10)}"
    s = rng.choice(STREAMS)
    return f"{phantom}\n{s}", [s], 1


def _write_csv(path: str, rows: list[tuple[str, str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["Abfallart", "Entsorgungsweg", "Adresse", "Öffnungszeiten", "Kontakt"])
        for name, cell in rows:
            w.writerow([name, cell, "", "", ""])


def _batch(rng, names: list[str], facilities: list[str]):
    """CSV rows plus expectations for one batch of item names."""
    rows, edges, unmatched = [], set(), 0
    for k, name in enumerate(names):
        if k % 97 == 5:  # section marker row: single letter, no targets
            rows.append((rng.choice("ABCDEFGH"), ""))
        if k % 89 == 7:  # blank-name row
            rows.append(("  ", rng.choice(STREAMS)))
        text, targets, miss = _cell(rng, facilities)
        unmatched += miss
        padded = f" {name} " if k % 13 == 0 else name
        rows.append((padded, text))
        for t in targets:
            edges.add((name, t, "DISPOSED_IN" if t in STREAMS else "DISPOSED_AT"))
    return rows, edges, unmatched


def _rules(rng: random.Random, items: list[str]):
    """DisposalRule/Condition trees (up to 4 conditions deep) with city
    and campus scope, their answer set, and each ruled item's expected
    stream (campus beats city, then the smallest stream uid)."""
    vertices, edges, answers, best = [], [], [], {}
    stream_uid = {s: uid(s) for s in STREAMS}

    def tree(node: str, depth: int) -> str:
        """Add condition `node` and its subtree; return the stream its
        answers lead to."""
        vertices.append((uid(node), "Condition", node))
        ans = rng.random() < 0.5
        answers.append((uid(node), ans))
        reached = ""
        for branch, rel in ((True, "IF_TRUE"), (False, "IF_FALSE")):
            if depth < 4 and rng.random() < 0.5:
                child = node + rel[3]
                edges.append((uid(node), uid(child), rel))
                s = tree(child, depth + 1)
            else:
                s = rng.choice(STREAMS)
                edges.append((uid(node), stream_uid[s], rel))
            if branch == ans:
                reached = s
        return reached

    for i, item in enumerate(items):
        outcomes = []
        for scope in ("city", "campus") if i % 3 == 0 else ("city",):
            rule = f"rule {i} {scope}"
            vertices.append((uid(rule), "DisposalRule", scope))
            edges.append((uid(item), uid(rule), "HAS_RULE"))
            edges.append((uid(rule), uid(rule + " Q"), "HAS_CONDITION"))
            outcomes.append((scope != "campus", stream_uid[tree(rule + " Q", 1)]))
        best[uid(item)] = min(outcomes)[1]
    return vertices, edges, answers, best


def gen_kg(seed: int, out: str) -> dict:
    """Write the knowledge-graph inputs under ``out``; return truth."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    doc, merged = _facilities(rng)
    with open(os.path.join(out, "facilities.json"), "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False, sort_keys=True)
    facilities = sorted(merged)

    counter = iter(range(10**6))

    def new_names(k: int) -> list[str]:
        return [f"{rng.choice(WORDS)} {next(counter):05d}" for _ in range(k)]

    items: list[str] = []
    edges: set = set()
    batches = []
    for b in range(KG_BATCHES + 1):
        if b == 0:
            names = new_names(KG_ITEMS)
        else:
            half = KG_BATCH_ROWS // 2
            names = rng.sample(items, half) + new_names(KG_BATCH_ROWS - half)
        rows, batch_edges, unmatched = _batch(rng, names, facilities)
        path = os.path.join(out, f"items_{b}.csv")
        _write_csv(path, rows)
        known = set(items)
        items += [n for n in names if n not in known]
        edges |= batch_edges
        batches.append({
            "path": os.path.basename(path),
            "csv_rows": len(rows),
            "items_loaded": len(names),
            "unmatched_facilities": unmatched,
        })

    ruled = rng.sample(items, KG_RULE_ITEMS)
    rv, re_, answers, rule_routes = _rules(rng, ruled)
    pq.write_table(pa.table({
        "uid": [v[0] for v in rv], "label": [v[1] for v in rv], "name": [v[2] for v in rv],
    }), os.path.join(out, "rule_vertices.parquet"))
    pq.write_table(pa.table({
        "src_uid": [e[0] for e in re_], "dst_uid": [e[1] for e in re_],
        "rel_type": [e[2] for e in re_],
    }), os.path.join(out, "rule_edges.parquet"))
    pq.write_table(pa.table({
        "condition_uid": [a[0] for a in answers], "answer": [a[1] for a in answers],
    }), os.path.join(out, "answers.parquet"))

    # a rule outcome replaces the item's direct DISPOSED_IN routes
    routes: dict[str, list] = {}
    for name, target, rel in edges:
        if rel == "DISPOSED_IN":
            routes.setdefault(uid(name), []).append([uid(target), "direct"])
    routes = {u: sorted(v) for u, v in routes.items()}
    routes.update({u: [[s, "rule"]] for u, s in rule_routes.items()})

    lookups = _lookups(rng, items, facilities, merged, edges)
    truth = {
        "batches": batches,
        "facility_records": sum(len(v) for v in doc.values()),
        "facilities": merged,
        "items": len(items),
        "edges": sorted(list(e) for e in edges),
        "routes": dict(sorted(routes.items())),
        "lookups": lookups,
    }
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, ensure_ascii=False, sort_keys=True)
    return truth


def _lookups(rng, items, facilities, merged, edges) -> list[dict]:
    """Parameterized Graph-RAG lookups with their expected answers:
    item -> targets, facility details, facility -> items, plus misses."""
    by_item: dict[str, list] = {}
    by_fac: dict[str, list] = {}
    for name, target, rel in edges:
        by_item.setdefault(name, []).append([rel, target])
        if rel == "DISPOSED_AT":
            by_fac.setdefault(target, []).append([name])
    out = []
    for k in range(KG_LOOKUPS):
        # Item -> targets, the question a user of the pipeline asks, is
        # three lookups in five and never misses. Its latencies then hold
        # both p50 and p75; with equal shares the median fell among the
        # few facility -> items lookups and moved 25% between seeds.
        kind = ("item", "item", "item", "facility", "facility_items")[k % 5]
        miss = k % 10 in (3, 9)  # half the facility lookups of each kind
        if kind == "item":
            key = f"Unbekannt {k}" if miss else rng.choice(items)
            expect = sorted(by_item.get(key, []))
        elif kind == "facility":
            key = f"Recyclinghof Phantom {k}" if miss else rng.choice(facilities)
            f = merged.get(key)
            expect = [[key] + [f[x] for x in FIELDS]] if f else []
        else:
            key = f"Recyclinghof Phantom {k}" if miss else rng.choice(facilities)
            expect = sorted(by_fac.get(key, []))
        out.append({"kind": kind, "key": key, "expect": expect})
    return out


def generate(seed: int, out: str) -> dict:
    """Both input sets under ``out``; returns table row counts and truth."""
    rows = gen_tables(seed, os.path.join(out, "tables"))
    truth = gen_kg(seed, os.path.join(out, "kg"))
    return {"tables": rows, "truth": truth}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.seed, args.out)
    print(json.dumps({"seed": args.seed, "out": args.out}))


if __name__ == "__main__":
    main()
