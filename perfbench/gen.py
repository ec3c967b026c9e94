"""Seeded input generator for the benchmark workloads.

Every input set is a pure function of ``(workload, seed, GEN_VERSION)``:
the same seed writes byte-identical files, and different seeds write the
same sizes and property distributions. Each set is written once into
``<cache>/v<GEN_VERSION>/<workload>/seed<seed>/`` together with
``props.json`` (what the generator actually produced) and ``truth.json``
(planted ground truth the oracles need). The program under test only ever
sees the data files.

Run standalone to (re)generate and print the properties::

    python3 perfbench/gen.py --workload batch --seed 3 --out /tmp/x
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

GEN_VERSION = 10

# analytics: a star schema of about sf0.013 (TPC-H sf0.1 has 150k orders)
N_ORDERS = 20_000
N_CUSTOMERS = 2_000
N_PARTS = 2_700
N_SUPPLIERS = 140
WARMUP_DIV = 30  # warm-up inputs are this much smaller
ORDER_KEY_SKEW = 1.1  # Zipf exponent of o_custkey
PART_KEY_SKEW = 1.05  # Zipf exponent of l_partkey
DUP_LINE_SHARE = 0.04  # planted duplicate lineitem rows
NULL_SHARE = 0.03

# curation: one shard = one op's corpus
N_SHARDS = 4
DOCS_PER_SHARD = 500
WARMUP_DOCS = 60
DOC_WORDS = 90
VOCAB = 6000
EXACT_DUP_SHARE = 0.05
LONG_CHAIN_MIN = 64  # min-label CC needs > 25 rounds on any such path (even shards)
LONG_CHAIN_MAX = 160
SHORT_CHAIN_MAX = 8
CHAIN_STEP_WORDS = 5  # words replaced per chain step
CLUSTER_EDIT_WORDS = 2  # words replaced per near-dup cluster member
BOILERPLATE_DOCS = 30
BOILERPLATE_WORDS = 40
EMB_DIM = 32
EMB_CLASSES = 8
EMB_NEAR_DUP_SHARE = 0.08

# streaming: pre-staged backlog + the paced files the generator thread drops
N_USERS = 20_000
USER_KEY_SKEW = 1.05
SLICES = 8  # one per op: a backlog burst, then the paced files
BURST_FILES = 3
BURST_EVENTS_PER_FILE = 8_000
PACED_FILES = 8
PACED_EVENTS_PER_FILE = 500
FILE_SPAN_S = 60  # event time covered by one file
OUT_OF_ORDER_SHARE = 0.10  # shifted back within the watermark delay
OUT_OF_ORDER_MAX_S = 90
LATE_SHARE = 0.03  # scheduled paced files only: older than any watermark
LATE_BY_S = 3600
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, f"v{GEN_VERSION}", workload, f"seed{seed}")


def ensure(root: str, workload: str, seed: int) -> str:
    """Return the input directory for (workload, seed), generating it on
    first use. A half-written directory (no ``props.json``) is rebuilt."""
    out = cache_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "props.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), salt])


def _zipf_keys(rng, n_keys: int, size: int, s: float, perm=None) -> np.ndarray:
    """Bounded Zipf over 1..n_keys with the hot ranks on shuffled keys
    (pass ``perm`` to keep the same hot keys across calls)."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=size, p=p / p.sum())
    if perm is None:
        perm = rng.permutation(n_keys)
    return perm[ranks].astype(np.int64) + 1


def skew_exponent(keys: np.ndarray, top: int = 200) -> float:
    """Least-squares slope of log(frequency) over log(rank), top ranks."""
    counts = np.sort(np.unique(keys, return_counts=True)[1])[::-1][:top]
    ranks = np.arange(1, len(counts) + 1)
    slope = np.polyfit(np.log(ranks), np.log(counts), 1)[0]
    return round(float(-slope), 3)


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
    )


def _write_meta(out: str, props: dict, truth: dict | None = None) -> None:
    if truth is not None:
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f, sort_keys=True)
    props["bytes"] = _dir_bytes(out)
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True, indent=1)


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
CHANNELS = ["web", "store", "phone", "partner"]


def _nullify(rng, arr: np.ndarray, share: float) -> pa.Array:
    mask = rng.random(len(arr)) < share
    return pa.array(arr, mask=mask)


def _analytics_tables(rng, n_orders: int, n_customers: int, n_parts: int,
                      n_suppliers: int) -> tuple[dict, dict]:
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int64()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int64()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int64()),
    })
    cust_keys = np.arange(1, n_customers + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": cust_keys,
        "c_name": [f"Customer#{k:09d}" for k in cust_keys],
        "c_nationkey": rng.integers(0, 25, n_customers),
        "c_mktsegment": _nullify(
            rng, np.array(SEGMENTS)[rng.integers(0, 5, n_customers)], NULL_SHARE
        ),
        "c_acctbal": _nullify(
            rng, rng.integers(-99_999, 999_999, n_customers), NULL_SHARE
        ),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_suppliers + 1, dtype=np.int64),
        "s_nationkey": rng.integers(0, 25, n_suppliers),
    })
    part_price = rng.integers(90_000, 200_000, n_parts)
    ptype = [
        f"{TYPE_A[a]} {TYPE_B[b]} {TYPE_C[c]}"
        for a, b, c in zip(
            rng.integers(0, 6, n_parts), rng.integers(0, 5, n_parts),
            rng.integers(0, 5, n_parts),
        )
    ]
    part = pa.table({
        "p_partkey": np.arange(1, n_parts + 1, dtype=np.int64),
        "p_brand": [
            f"Brand#{a}{b}" for a, b in zip(
                rng.integers(1, 6, n_parts), rng.integers(1, 6, n_parts))
        ],
        "p_type": ptype,
        "p_retailprice": part_price,
    })

    o_keys = np.arange(1, n_orders + 1, dtype=np.int64)
    o_cust = _zipf_keys(rng, n_customers, n_orders, ORDER_KEY_SKEW)
    o_date = rng.integers(8035, 10591, n_orders)  # 1992-01-01 .. 1998-12-31
    # a fixed multiset of 1..7 lines per order: the same total for every seed
    n_lines = rng.permutation(np.tile(np.arange(1, 8), n_orders // 7 + 1)[:n_orders])
    l_order = np.repeat(o_keys, n_lines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    n_li = len(l_order)
    l_part = _zipf_keys(rng, n_parts, n_li, PART_KEY_SKEW)
    l_qty = rng.integers(1, 51, n_li)
    l_price = l_qty * part_price[l_part - 1]
    l_disc = rng.integers(0, 11, n_li)
    l_ship = np.repeat(o_date, n_lines) + rng.integers(1, 121, n_li)
    l_flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    l_status = np.where(l_ship > 9600, "O", "F")
    l_supp = rng.integers(1, n_suppliers + 1, n_li)
    # planted duplicates: a copy of the (order, part, qty, price, disc)
    # payload under the order's next free line number
    dup = np.sort(rng.choice(n_li, int(n_li * DUP_LINE_SHARE), replace=False))
    cols = [l_order, l_line, l_part, l_supp, l_qty, l_price, l_disc, l_flag,
            l_status, l_ship]
    dup_cols = [c[dup] for c in cols]
    dup_cols[1] = dup_cols[1] + 100  # unique line number within the order
    cols = [np.concatenate([c, d]) for c, d in zip(cols, dup_cols)]
    order = np.lexsort((cols[1], cols[0]))
    cols = [c[order] for c in cols]
    disc_mask = rng.random(len(cols[0])) < NULL_SHARE
    lineitem = pa.table({
        "l_orderkey": cols[0], "l_linenumber": cols[1], "l_partkey": cols[2],
        "l_suppkey": cols[3], "l_quantity": cols[4],
        "l_extendedprice": cols[5],
        "l_discount": pa.array(cols[6], mask=disc_mask),
        "l_returnflag": cols[7], "l_linestatus": cols[8],
        "l_shipdate": pa.array(cols[9].astype(np.int32), pa.date32()),
    })
    totals = np.bincount(l_order, weights=l_price, minlength=n_orders + 1)[1:]
    props_json = [
        None if m else json.dumps(
            {"k": int(k), "ch": CHANNELS[c], "gift": bool(g)},
            separators=(",", ":"))
        for m, k, c, g in zip(
            rng.random(n_orders) < NULL_SHARE, rng.integers(0, 1000, n_orders),
            rng.integers(0, 4, n_orders), rng.random(n_orders) < 0.2)
    ]
    props_json[0] = props_json[0] or '{"k":1,"ch":"web","gift":false}'
    orders = pa.table({
        "o_orderkey": o_keys,
        "o_custkey": o_cust,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": totals.astype(np.int64),
        "o_orderdate": pa.array(o_date.astype(np.int32), pa.date32()),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        "o_props": pa.array(props_json, pa.string()),
    })
    tables = dict(region=region, nation=nation, customer=customer,
                  supplier=supplier, part=part, orders=orders,
                  lineitem=lineitem)
    key = np.stack([cols[0], cols[2], cols[4]], axis=1)
    n_distinct = len(np.unique(key, axis=0))
    props = {
        "rows": {k: t.num_rows for k, t in tables.items()},
        "exact_dup_share": round(1 - n_distinct / len(key), 4),
        "key_skew_exponent": {
            "o_custkey": skew_exponent(o_cust),
            "l_partkey": skew_exponent(cols[2]),
        },
        "null_share": {
            "c_mktsegment": round(customer["c_mktsegment"].null_count / n_customers, 4),
            "l_discount": round(float(disc_mask.mean()), 4),
            "o_props": round(orders["o_props"].null_count / n_orders, 4),
        },
    }
    return tables, props


def gen_analytics(out: str, seed: int) -> None:
    """The star schema in ``out`` and a 1/WARMUP_DIV copy in ``out/warmup``
    (the cold pass runs on it)."""
    wu = os.path.join(out, "warmup")
    os.makedirs(wu)
    full, props = _analytics_tables(_rng(seed, 1), N_ORDERS, N_CUSTOMERS, N_PARTS, N_SUPPLIERS)
    small, wprops = _analytics_tables(
        _rng(seed, 11), N_ORDERS // WARMUP_DIV, N_CUSTOMERS // WARMUP_DIV,
        N_PARTS // WARMUP_DIV, N_SUPPLIERS // WARMUP_DIV)
    for d, tables in ((out, full), (wu, small)):
        for name, t in tables.items():
            _write_parquet(t, os.path.join(d, f"{name}.parquet"))
    _write_meta(out, {"workload": "analytics", "seed": seed, "gen_version": GEN_VERSION,
                      **props, "warmup_rows": wprops["rows"]})


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    while len(out) < VOCAB:
        w = "".join(_LETTERS[rng.integers(0, 26, rng.integers(3, 10))])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def shingles(text: str, n: int = 5) -> set[str]:
    """Distinct character n-grams, exactly as the program's dedup kernel
    windows the raw text."""
    if len(text) < n:
        return {text}
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def _heavy_tail(rng, lo: int, hi: int, a: float = 1.6) -> int:
    return int(min(hi, lo + int(rng.pareto(a) * lo / 2)))


def gen_curation_shard(rng, vocab: list[str], shard: int, budget: int,
                       long_chain: bool) -> tuple[dict, dict]:
    """One shard: docs + embeddings + planted truth."""
    vocab_a = np.array(vocab)
    docs: list[list[str]] = []
    family: list[int] = []  # planted family id per doc (-1: singleton)
    kinds: dict[int, str] = {}
    chains: list[int] = []
    clusters: list[int] = []
    fam = 0

    def base() -> list[str]:
        return list(vocab_a[rng.integers(0, VOCAB, DOC_WORDS)])

    def mutate(words: list[str], positions) -> list[str]:
        w = list(words)
        for p in positions:
            w[p] = vocab[int(rng.integers(0, VOCAB))]
        return w

    if long_chain:
        lengths = [_heavy_tail(rng, LONG_CHAIN_MIN, LONG_CHAIN_MAX)]
    else:
        lengths = []
    # the warm-up shard's chains stay at 3: its CC rounds are the cold
    # cycle's long pole
    short_max = SHORT_CHAIN_MAX if budget > WARMUP_DOCS else 3
    while sum(lengths) < budget * 0.15:
        lengths.append(_heavy_tail(rng, 3, short_max))
    for length in lengths:
        perm = rng.permutation(DOC_WORDS)
        cur = base()
        for step in range(length):
            if step:
                lo = (step * CHAIN_STEP_WORDS) % DOC_WORDS
                pos = [perm[(lo + j) % DOC_WORDS] for j in range(CHAIN_STEP_WORDS)]
                cur = mutate(cur, pos)
            docs.append(cur)
            family.append(fam)
        kinds[fam] = "chain"
        chains.append(length)
        fam += 1
    while len(docs) < budget * 0.30:
        size = _heavy_tail(rng, 2, 12)
        orig = base()
        docs.append(orig)
        family.append(fam)
        for _ in range(size - 1):
            docs.append(mutate(orig, rng.choice(DOC_WORDS, CLUSTER_EDIT_WORDS, replace=False)))
            family.append(fam)
        kinds[fam] = "cluster"
        clusters.append(size)
        fam += 1
    boiler = list(vocab_a[rng.integers(0, VOCAB, BOILERPLATE_WORDS)])
    for _ in range(min(BOILERPLATE_DOCS, budget // 10)):
        docs.append(list(vocab_a[rng.integers(0, VOCAB, DOC_WORDS - BOILERPLATE_WORDS)]) + boiler)
        family.append(fam)
    kinds[fam] = "boilerplate"
    fam += 1
    n_copies = int(budget * EXACT_DUP_SHARE)
    while len(docs) < budget - n_copies:
        docs.append(base())
        family.append(-1)
    sources = rng.integers(0, len(docs), n_copies)
    for s in sources:
        docs.append(docs[s])
        family.append(family[s] if family[s] >= 0 else fam + int(s))
    texts = [" ".join(w) for w in docs]
    n = len(texts)
    ids = (rng.permutation(n) + 1 + shard * 100_000).astype(np.int64)

    labels = rng.integers(0, EMB_CLASSES, n)
    centroids = rng.normal(0, 1, (EMB_CLASSES, EMB_DIM))
    vecs = centroids[labels] + rng.normal(0, 1, (n, EMB_DIM))
    near = np.flatnonzero(rng.random(n) < EMB_NEAR_DUP_SHARE)
    src = rng.integers(0, n, len(near))
    vecs[near] = vecs[src] + rng.normal(0, 0.02, (len(near), EMB_DIM))
    labels[near] = labels[src]
    vecs = vecs.astype(np.float32)

    docs_t = pa.table({"doc_id": ids, "text": texts})
    emb_t = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    fam_members: dict[int, list[int]] = {}
    for i, f in enumerate(family):
        if f >= 0:
            fam_members.setdefault(f, []).append(i)
    # planted near-dup edges (recall base): consecutive chain members and
    # cluster members to their original, mapped to doc ids
    planted = []
    for f, idx in fam_members.items():
        if kinds.get(f) == "chain":
            planted += [(int(ids[a]), int(ids[b])) for a, b in zip(idx, idx[1:]) if a < budget - n_copies and b < budget - n_copies]
        elif kinds.get(f) == "cluster":
            orig = idx[0]
            planted += [(int(ids[orig]), int(ids[b])) for b in idx[1:] if b < budget - n_copies]
    truth = {
        "families": [[int(ids[i]) for i in idx] for idx in fam_members.values() if len(idx) > 1],
        "planted_edges": planted,
    }
    props = {
        "docs": n,
        "exact_dups": n_copies,
        "chains": chains,
        "clusters": clusters,
        "boilerplate_group": BOILERPLATE_DOCS,
        "emb_near_dups": int(len(near)),
    }
    return {"docs": docs_t, "emb": emb_t}, {"truth": truth, "props": props}


def _hist(values: list[int], edges: list[int]) -> dict:
    h = np.histogram(values, bins=edges + [10**9])[0]
    names = [f"{lo}-{hi - 1}" for lo, hi in zip(edges, edges[1:])] + [f"{edges[-1]}+"]
    return {n: int(c) for n, c in zip(names, h)}


def shard_label(shard: int | None) -> str:
    """File label of a shard; None is the warm-up shard."""
    return "wu" if shard is None else f"{shard:02d}"


def gen_curation(out: str, seed: int) -> None:
    """N_SHARDS shards, even ones with a long chain, plus a small warm-up
    shard with short chains only (the cold pipeline runs on it)."""
    rng = _rng(seed, 2)
    vocab = _vocab(rng)
    truth, shards = {}, []
    plan = [(s, DOCS_PER_SHARD, s % 2 == 0) for s in range(N_SHARDS)]
    plan.append((None, WARMUP_DOCS, False))
    for s, budget, long_chain in plan:
        tables, meta = gen_curation_shard(rng, vocab, N_SHARDS if s is None else s,
                                          budget, long_chain)
        label = shard_label(s)
        _write_parquet(tables["docs"], os.path.join(out, f"docs_{label}.parquet"))
        _write_parquet(tables["emb"], os.path.join(out, f"emb_{label}.parquet"))
        truth[label] = meta["truth"]
        shards.append(meta["props"])
    chains = [c for p in shards for c in p["chains"]]
    clusters = [c for p in shards for c in p["clusters"]]
    _write_meta(out, {
        "workload": "curation", "seed": seed, "gen_version": GEN_VERSION,
        "shards": N_SHARDS,
        "rows": {"docs_per_shard": [p["docs"] for p in shards[:-1]],
                 "warmup_docs": shards[-1]["docs"]},
        "exact_dup_share": round(
            sum(p["exact_dups"] for p in shards) / sum(p["docs"] for p in shards), 4),
        "chain_length_hist": _hist(chains, [3, 8, 16, 32, 64, 128]),
        "long_chains": [c for c in chains if c >= LONG_CHAIN_MIN],
        "cluster_size_hist": _hist(clusters, [2, 3, 5, 8, 12]),
        "boilerplate_group": BOILERPLATE_DOCS,
        "emb_near_dup_share": round(
            sum(p["emb_near_dups"] for p in shards) / sum(p["docs"] for p in shards), 4),
    }, truth)


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

EVENT_TYPES = np.array(["view", "purchase", "click"])
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("value", pa.int64()),
])


def file_front_us(index: int) -> int:
    """Start of the event-time span of the index-th file (backlog first)."""
    return EVENT_T0_US + index * FILE_SPAN_S * 1_000_000


def _events_file(rng, index: int, n: int, first_id: int, late: bool, perm) -> tuple[pa.Table, int]:
    t_lo = file_front_us(index)
    ts = t_lo + np.sort(rng.integers(0, FILE_SPAN_S * 1_000_000, n))
    ooo = rng.random(n) < OUT_OF_ORDER_SHARE
    ts[ooo] -= rng.integers(0, OUT_OF_ORDER_MAX_S * 1_000_000, int(ooo.sum()))
    n_late = 0
    if late:
        is_late = rng.random(n) < LATE_SHARE
        ts[is_late] -= LATE_BY_S * 1_000_000
        n_late = int(is_late.sum())
    t = pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": _zipf_keys(rng, N_USERS, n, USER_KEY_SKEW, perm),
        "event_type": EVENT_TYPES[rng.choice(3, n, p=[0.6, 0.2, 0.2])],
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "value": rng.integers(1, 101, n),
    }, schema=EVENT_SCHEMA)
    return t, n_late


def _write_ipc(t: pa.Table, path: str) -> None:
    with ipc.new_file(path, t.schema) as w:
        w.write_table(t)


def gen_streaming(out: str, seed: int) -> None:
    """SLICES slices of files; names sort in drop order across the run
    (``<slice>-b<k>`` burst files, then ``<slice>-p<k>`` paced files).
    Slice 0 is 1/WARMUP_DIV the size: the cold op runs on it."""
    rng = _rng(seed, 3)
    users, next_id, index, n_late, n_paced = [], 1, 0, 0, 0
    perm = rng.permutation(N_USERS)
    for j in range(SLICES):
        d = os.path.join(out, f"slice{j:02d}")
        os.makedirs(d)
        div = WARMUP_DIV if j == 0 else 1  # the cold op runs on slice 0
        plan = [(f"{j:02d}-b{k}", BURST_EVENTS_PER_FILE // div, False)
                for k in range(BURST_FILES)]
        plan += [(f"{j:02d}-p{k:02d}", PACED_EVENTS_PER_FILE // div, k > 0)
                 for k in range(PACED_FILES)]
        for name, n, late in plan:
            t, nl = _events_file(rng, index, n, next_id, late, perm)
            _write_ipc(t, os.path.join(d, f"{name}.arrow"))
            users.append(t["user_id"].to_numpy())
            next_id += n
            index += 1
            n_late += nl if j else 0
            n_paced += n if "-p" in name and j else 0
    allu = np.concatenate(users)
    _write_meta(out, {
        "workload": "streaming", "seed": seed, "gen_version": GEN_VERSION,
        "slices": SLICES,
        "rows": {"burst": BURST_FILES * BURST_EVENTS_PER_FILE,
                 "paced": PACED_FILES * PACED_EVENTS_PER_FILE},
        "files_per_slice": {"burst": BURST_FILES, "paced": PACED_FILES},
        "key_skew_exponent": {"user_id": skew_exponent(allu)},
        "out_of_order_share": OUT_OF_ORDER_SHARE,
        "late_share": round(n_late / n_paced, 4),
    })


def gen_batch(out: str, seed: int) -> None:
    """The ``batch`` workload's inputs: the analytics star schema and the
    curation corpus, each in its own directory with its own props."""
    parts = {"analytics": gen_analytics, "curation": gen_curation}
    props = {"workload": "batch", "seed": seed, "gen_version": GEN_VERSION}
    for name, fn in parts.items():
        d = os.path.join(out, name)
        os.makedirs(d)
        fn(d, seed)
        with open(os.path.join(d, "props.json")) as f:
            props[name] = json.load(f)
    _write_meta(out, props)


GENERATORS = {
    "batch": gen_batch,
    "streaming": gen_streaming,
}


def digest(path: str) -> str:
    """sha256 over every data file under ``path`` (names and bytes)."""
    h = hashlib.sha256()
    for r, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            h.update(f.encode())
            with open(os.path.join(r, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    d = ensure(a.out, a.workload, a.seed)
    with open(os.path.join(d, "props.json")) as f:
        print(f.read())


if __name__ == "__main__":
    main()
