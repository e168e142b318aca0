"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files. The program under test receives only these files.
Each generator returns a ``props`` dict describing the input (counts,
skew, shares, bytes) that travels with every result record, and, where
verification needs it, the expected outcome computed independently of
the program (node counts, a change-batch replay script).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import deque

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. "full" is what the benchmark measures; "toy" is for the
# benchmark's own tests.
SIZES = {
    "study_harmonize": {
        "full": {"ccdi": 600, "mci": 30, "target": 500},
        "toy": {"ccdi": 40, "mci": 6, "target": 30},
    },
    "operator_mix": {
        "full": {
            "documents": {"docs": 1000, "vocab": 2000, "near_dup_share": 0.2},
            "graph": {"customers": 1500, "suppliers": 200, "orders": 5000},
            "tablelog": {"initial": 6000, "upsert": 600},
        },
        "toy": {
            "documents": {"docs": 120, "vocab": 400, "near_dup_share": 0.2},
            "graph": {"customers": 120, "suppliers": 30, "orders": 400},
            "tablelog": {"initial": 300, "upsert": 40},
        },
    },
}


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _write_tsv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(str(v) for v in r) + "\n")


def _write_parquet(path: str, columns: dict[str, tuple[pa.DataType, list]]) -> None:
    table = pa.table({k: pa.array(v, type=t) for k, (t, v) in columns.items()})
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# study_harmonize: CCDI per-node TSVs, MCI per-subject JSON, TARGET releases
# ---------------------------------------------------------------------------

DX_CODES = ("8000/0", "8000/3", "9500/3", "9861/3", "9811/3")
RACES = (("white", ""), ("asian;white", ""), ("unknown", "hispanic or latino"),
         ("black or african american", ""))


def gen_study(out: str, seed: int, ccdi: int, mci: int, target: int) -> dict:
    rng = random.Random(seed)
    for sub in ("ccdi", "mci", "target"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)

    # CCDI: one TSV per node, several diagnoses per participant
    parts, dx, trt = [], [], []
    for i in range(ccdi):
        pid = f"C{i:06d}"
        race, eth = rng.choice(RACES)
        parts.append((pid, rng.choice("12+"), race, eth))
        age = rng.randrange(30, 6000)
        for j in range(1 + i % 3):
            dx.append((f"{pid}-dx{j}", pid, rng.choice(DX_CODES), age + 90 * j))
        trt.append((pid, "n" if i % 3 == 0 else "y", age))
    _write_tsv(f"{out}/ccdi/participant.tsv",
               ["pid", "sex", "race", "eth", "chemo_flag", "age_dx"],
               [p + t[1:] for p, t in zip(parts, trt)])
    _write_tsv(f"{out}/ccdi/diagnosis.tsv", ["dxid", "pid", "dx_code", "age_dx"], dx)

    # MCI: one JSON document per subject plus the file manifest
    manifest = []
    for i in range(mci):
        usi = f"M{i:05d}"
        race, eth = rng.choice(RACES)
        doc = {
            "participant": {"usi": usi},
            "forms": [
                {"form_id": "DEMOGRAPHY", "data": [
                    {"form_field_id": "SEX", "value": rng.choice("12")},
                    {"form_field_id": "RACE", "value": race},
                    {"form_field_id": "ETH", "value": eth},
                ]},
                {"form_id": "DIAGNOSIS", "data": [
                    {"form_field_id": "DX_CODE", "value": rng.choice(DX_CODES)},
                    {"form_field_id": "DX_AGE", "value": str(rng.randrange(30, 6000))},
                ]},
            ],
        }
        text = json.dumps(doc, indent=1)
        with open(f"{out}/mci/{usi}.json", "w", encoding="utf-8") as fh:
            fh.write(text)
        manifest.append((f"{usi}.json", f"dg.4DFC/{seed}-{i}", f"{rng.getrandbits(128):032x}",
                         len(text), f"s3://bench-bucket/mci/{usi}.json"))
    _write_tsv(f"{out}/mci_manifest.tsv", ["file_name", "guid", "md5", "size", "url"],
               manifest)

    # TARGET: two overlapping releases of one wide clinical table; the
    # second re-issues 70% of the first's subjects (10% of those with a
    # revised age at diagnosis) and adds new ones
    def subject(i):
        race, eth = rng.choice(RACES)
        age = rng.randrange(30, 6000)
        return [f"T{i:06d}", rng.choice("12"), race, eth, rng.choice(DX_CODES), age]

    rel1 = [subject(i) for i in range(target)]
    kept = [list(r) for r in sorted(rng.sample(rel1, int(target * 0.7)))]
    updated = int(len(kept) * 0.1)
    for r in rng.sample(kept, updated):
        r[5] += 30
    new = [subject(target + i) for i in range(target - len(kept))]
    rel2 = kept + new
    header = ["usi", "sex", "race", "eth", "dx_code", "age_dx"]
    _write_tsv(f"{out}/target/release1.tsv", header, rel1)
    _write_tsv(f"{out}/target/release2.tsv", header, rel2)

    n_target = len({r[0] for r in rel1} | {r[0] for r in rel2})
    expected = {
        "study": 1,
        "consent_group": 1,
        "participant": ccdi + mci + n_target,
        "diagnosis": len(dx) + mci + n_target + updated,
        "treatment": sum(1 for t in trt if t[1] == "y"),
        "reference_file": mci,
    }
    props = {
        "ccdi_participants": ccdi,
        "mci_documents": mci,
        "target_release_rows": [len(rel1), len(rel2)],
        "target_overlap_share": round(len(kept) / target, 4),
        "target_revised_diagnoses": updated,
        "source_rows": len(parts) + len(dx) + mci + len(rel1) + len(rel2),
        "expected_records": sum(expected.values()),
    }
    return {"props": props, "expected_counts": expected}


# ---------------------------------------------------------------------------
# operator_mix, operators.dedup: a documents table with a stated near-duplicate share
# ---------------------------------------------------------------------------

def _vocabulary(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 10))))
    return sorted(words)


def gen_documents(out: str, seed: int, docs: int, vocab: int, near_dup_share: float) -> dict:
    rng = random.Random(seed)
    words = _vocabulary(rng, vocab)
    cum = list(_zipf_cum(len(words), 0.8))
    lengths = {"short": (8, 30), "medium": (30, 60), "long": (60, 90)}
    mix = {"short": 0.5, "medium": 0.4, "long": 0.1}
    texts: list[str] = []
    kinds = {"original": 0, "exact_copy": 0, "edited_copy": 0, "contained_copy": 0}
    for _ in range(docs):
        if texts and rng.random() < near_dup_share:
            base = texts[rng.randrange(len(texts))].split(" ")
            r = rng.random()
            if r < 0.25:
                kinds["exact_copy"] += 1
            elif r < 0.8:
                kinds["edited_copy"] += 1
                for _ in range(rng.randrange(1, 4)):
                    base[rng.randrange(len(base))] = rng.choices(words, cum_weights=cum)[0]
            else:
                kinds["contained_copy"] += 1
                base = base + rng.choices(words, cum_weights=cum, k=rng.randrange(2, 8))
            texts.append(" ".join(base))
            continue
        kinds["original"] += 1
        band = rng.choices(list(mix), weights=list(mix.values()))[0]
        n = rng.randrange(*lengths[band])
        texts.append(" ".join(rng.choices(words, cum_weights=cum, k=n)))
    langs = ("en", "en", "en", "es", "fr", "de", "zh")
    _write_parquet(f"{out}/documents.parquet", {
        "doc_id": (pa.int64(), list(range(docs))),
        "text": (pa.string(), texts),
        "lang": (pa.string(), [rng.choice(langs) for _ in range(docs)]),
        "source": (pa.string(), [f"src{rng.randrange(20)}" for _ in range(docs)]),
        "n_chars": (pa.int64(), [len(t) for t in texts]),
    })
    n_chars = sorted(len(t) for t in texts)
    props = {
        "documents": docs,
        "vocabulary": vocab,
        "near_dup_share": round(1 - kinds["original"] / docs, 4),
        "copy_kinds": kinds,
        "chars_p50": n_chars[len(n_chars) // 2],
        "chars_max": n_chars[-1],
    }
    return {"props": props}


def _zipf_cum(n: int, s: float):
    acc = 0.0
    for rank in range(1, n + 1):
        acc += 1.0 / rank**s
        yield acc


# ---------------------------------------------------------------------------
# operator_mix, operators.graph: a purchase graph (customer -> order -> lineitem -> supplier)
# ---------------------------------------------------------------------------

def gen_purchase_graph(out: str, seed: int, customers: int, suppliers: int,
                       orders: int) -> dict:
    rng = random.Random(seed)
    c_cum = list(_zipf_cum(customers, 0.9))
    s_cum = list(_zipf_cum(suppliers, 0.8))
    # random rank -> key permutation so the hot keys are not the low keys
    c_perm = list(range(customers))
    s_perm = list(range(suppliers))
    rng.shuffle(c_perm)
    rng.shuffle(s_perm)
    day0 = dt.datetime(1995, 1, 1)
    o_key, o_cust, o_date = [], [], []
    l_order, l_part, l_supp, l_line = [], [], [], []
    for k in range(orders):
        cust = 1 if k == 0 else c_perm[rng.choices(range(customers), cum_weights=c_cum)[0]]
        o_key.append(k + 1)
        o_cust.append(cust)
        o_date.append(day0 + dt.timedelta(days=rng.randrange(0, 2400)))
        for ln in range(rng.randrange(1, 8)):
            l_order.append(k + 1)
            l_part.append(rng.randrange(1, 2000))
            l_supp.append(s_perm[rng.choices(range(suppliers), cum_weights=s_cum)[0]])
            l_line.append(ln + 1)
    n_li = len(l_order)
    ts = pa.timestamp("us")
    _write_parquet(f"{out}/orders.parquet", {
        "o_orderkey": (pa.int64(), o_key),
        "o_custkey": (pa.int64(), o_cust),
        "o_orderstatus": (pa.string(), [rng.choice("OFP") for _ in o_key]),
        "o_totalprice": (pa.float64(), [rng.randrange(100, 50000000) / 100 for _ in o_key]),
        "o_orderdate": (ts, o_date),
        "o_orderpriority": (pa.string(), [f"{rng.randrange(1, 6)}-PRIO" for _ in o_key]),
    })
    _write_parquet(f"{out}/lineitem.parquet", {
        "l_orderkey": (pa.int64(), l_order),
        "l_partkey": (pa.int64(), l_part),
        "l_suppkey": (pa.int64(), l_supp),
        "l_linenumber": (pa.int32(), l_line),
        "l_quantity": (pa.float64(), [float(rng.randrange(1, 51)) for _ in range(n_li)]),
        "l_extendedprice": (pa.float64(), [rng.randrange(100, 10000000) / 100
                                           for _ in range(n_li)]),
        "l_discount": (pa.float64(), [rng.randrange(0, 11) / 100 for _ in range(n_li)]),
        "l_tax": (pa.float64(), [rng.randrange(0, 9) / 100 for _ in range(n_li)]),
        "l_returnflag": (pa.string(), [rng.choice("RAN") for _ in range(n_li)]),
        "l_linestatus": (pa.string(), [rng.choice("OF") for _ in range(n_li)]),
        "l_shipdate": (ts, [day0 + dt.timedelta(days=rng.randrange(0, 2500))
                            for _ in range(n_li)]),
    })
    _write_parquet(f"{out}/customer.parquet", {
        "c_custkey": (pa.int64(), list(range(customers))),
        "c_name": (pa.string(), [f"Customer#{k:09d}" for k in range(customers)]),
        "c_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(customers)]),
        "c_acctbal": (pa.float64(), [rng.randrange(-99999, 999999) / 100
                                     for _ in range(customers)]),
        "c_mktsegment": (pa.string(), [rng.choice(("BUILDING", "AUTOMOBILE", "MACHINERY"))
                                       for _ in range(customers)]),
    })

    # graph description: degree skew and BFS rounds to a fixpoint from c:1
    cust_of = dict(zip(o_key, o_cust))
    pairs = {(cust_of[o], s) for o, s in zip(l_order, l_supp)}
    adj: dict[str, set[str]] = {}
    for c, s in pairs:
        adj.setdefault(f"c:{c}", set()).add(f"s:{s}")
        adj.setdefault(f"s:{s}", set()).add(f"c:{c}")
    degrees = sorted(len(v) for v in adj.values())
    hops = {"c:1": 0}
    queue = deque(["c:1"])
    while queue:
        u = queue.popleft()
        for v in adj[u]:
            if v not in hops:
                hops[v] = hops[u] + 1
                queue.append(v)
    props = {
        "customers": customers,
        "suppliers": suppliers,
        "orders": orders,
        "edges": n_li,
        "distinct_pairs": len(pairs),
        "degree_max": degrees[-1],
        "degree_mean": round(sum(degrees) / len(degrees), 3),
        "degree_skew": round(degrees[-1] / (sum(degrees) / len(degrees)), 3),
        "bfs_rounds_to_fixpoint": max(hops.values()) + 1,
    }
    return {"props": props}


# ---------------------------------------------------------------------------
# operator_mix, sink.tablelog: a commit script over seeded change batches
# ---------------------------------------------------------------------------

GROUPS = ("g0", "g1", "g2", "g3", "g4")


def gen_tablelog(out: str, seed: int, initial: int, upsert: int) -> dict:
    """Writes one parquet file per change batch and ``script.json``: the
    ordered operations a pass runs: an append, an upsert, a deletion-vector
    update and delete, DV and full compaction and vacuum, with four kinds
    of read. Expected results come from replaying the same script in
    DuckDB (oracle.replay_tablelog)."""
    rng = random.Random(seed)
    os.makedirs(f"{out}/batches", exist_ok=True)

    def batch(name: str, ids: list[int]) -> str:
        _write_parquet(f"{out}/batches/{name}.parquet", {
            "id": (pa.int64(), ids),
            "grp": (pa.string(), [rng.choice(GROUPS) for _ in ids]),
            "val": (pa.int64(), [rng.randrange(0, 10**6) for _ in ids]),
            "txt": (pa.string(), ["".join(rng.choice("abcdefgh") for _ in range(12))
                                  for _ in ids]),
        })
        return f"batches/{name}.parquet"

    n_upd = int(upsert * 0.7)
    upsert_ids = rng.sample(range(initial), n_upd) + list(range(initial, initial + upsert - n_upd))
    n_ids = initial + upsert - n_upd
    lo = rng.randrange(0, n_ids // 2)
    updated = f"id % 17 = {rng.randrange(17)} AND grp = '{rng.choice(GROUPS)}'"
    script = [
        {"op": "append", "batch": batch("initial", list(range(initial)))},
        {"op": "merge_upsert", "batch": batch("upsert", upsert_ids)},
        {"op": "mark_cdf_base"},
        {"op": "update_where_dv", "predicate": updated, "set": {"val": "val + 7"}},
        # only rows the update rewrote: the delete lands its own sidecar on
        # their file, so compact_dv has two deletion vectors to pack
        {"op": "delete_where_dv", "predicate": f"{updated} AND val % 3 = 0"},
        {"op": "read_version_at_cdf_base"},
        {"op": "read_changes_cdf"},
        {"op": "compact_dv"},
        {"op": "read_key_range", "lo": lo, "hi": lo + n_ids // 10},
        {"op": "compact"},
        {"op": "vacuum"},
        {"op": "read_final"},
    ]
    with open(f"{out}/script.json", "w", encoding="utf-8") as fh:
        json.dump(script, fh, indent=1)
    props = {
        "initial_rows": initial,
        "upsert_rows": upsert,
        "upsert_update_share": round(n_upd / upsert, 4),
        "operations": sum(1 for s in script if s["op"] != "mark_cdf_base"),
        "change_batch_share": round(upsert / initial, 4),
    }
    return {"props": props}


def gen_operator_mix(out: str, seed: int, documents: dict, graph: dict,
                     tablelog: dict) -> dict:
    """The three operator inputs side by side in one directory: the
    documents table, the purchase graph's orders/lineitem/customer
    tables and the table-log change batches with their script."""
    props = {}
    for name, gen, size in (("documents", gen_documents, documents),
                            ("graph", gen_purchase_graph, graph),
                            ("tablelog", gen_tablelog, tablelog)):
        props[name] = gen(out, seed, **size)["props"]
    return {"props": props}


GENERATORS = {
    "study_harmonize": gen_study,
    "operator_mix": gen_operator_mix,
}
