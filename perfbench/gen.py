"""Seeded input generator for the benchmark.

Builds the fixture tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`, the schemas
of FIXTURES.md) at a base scale, then optionally a K-fold key-offset
replica of them: replica i shifts every key column by i * (max key + 1)
of its key family, so foreign keys stay aligned (the scheme of
`tools/make_sf.py`). With `mutate`, replicas i > 0 substitute document
tokens at that rate and perturb embedding vectors at a controlled
cosine, as `make_sf.py --mutate` does, but with the seed folded into
every draw.

The seed changes values, never sizes: row counts, lines per order and
words per document are functions of the key alone.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the row query stream fast spark line small customer group "
         "value hash batch sort data big filter dup key agg scan slow "
         "table part merge window order column join vector").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["cold", "red", "small", "big", "fast", "blue", "dark", "soft"]
NOUN = ["widget", "ring", "bolt", "gear", "pipe", "plate", "valve", "cable"]
DIM = 64
JAN_2024_US = 1704067200 * 1_000_000
MONTH_US = 30 * 86400 * 1_000_000
DAY_US = 86400 * 1_000_000
EPOCH_1995_US = 788918400 * 1_000_000

# table -> key columns, and the family whose stride each key shares
OFFSET_COLS = {
    "customer": ["c_custkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"], "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"], "nation": [], "region": [],
}
KEY_FAMILY = {
    "c_custkey": "cust", "o_custkey": "cust", "o_orderkey": "order",
    "l_orderkey": "order", "p_partkey": "part", "l_partkey": "part",
    "s_suppkey": "supp", "l_suppkey": "supp", "event_id": "event",
    "user_id": "user", "doc_id": "doc", "vec_id": "vec",
}


def _mix(k: np.ndarray, salt: int) -> np.ndarray:
    """Seed-independent structural hash of a key array (sizes only)."""
    x = (k.astype(np.uint64) + np.uint64(salt)) * np.uint64(0x9E3779B97F4A7C15)
    return (x >> np.uint64(33)).astype(np.int64)


def _strs(fmt: str, ks) -> pa.Array:
    return pa.array([fmt.format(int(k)) for k in ks], type=pa.string())


def _ts_us(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def base_tables(sf: float, seed: int, docs: int, vecs: int) -> dict:
    """The base fixture at scale `sf` (sf0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 17])
    n_cust = max(10, int(150_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": _strs("NATION_{}", range(25)),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    k = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(k), "s_name": _strs("Supplier#{:09d}", k),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    k = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(k), "c_name": _strs("Customer#{:09d}", k),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    k = np.arange(n_part)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": pa.array(k), "p_name": pa.array(names),
        "p_brand": _strs("Brand#{}", rng.integers(0, 25, n_part)),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (k % 200) / 10.0)})
    k = np.arange(n_ord)
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(k),
        # customer n_cust - 1 never orders: the anti-join has a row
        "o_custkey": pa.array(rng.integers(0, n_cust - 1, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_ord)])})
    per = 1 + _mix(k, 1) % 7  # 1..7 lines per order, mean 4
    lk = np.repeat(k, per)
    n_li = len(lk)
    starts = np.cumsum(per) - per
    lineno = (np.arange(n_li) - np.repeat(starts, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(np.repeat(odate, per)
                             + rng.integers(1, 122, n_li) * DAY_US)})
    ts = JAN_2024_US + np.sort(rng.integers(0, MONTH_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev)), "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in
                           rng.integers(0, 100, n_ev)])})
    t["documents"] = documents(docs, rng)
    t["embeddings"] = embeddings(vecs, rng)
    return t


def documents(n: int, rng) -> pa.Table:
    """Texts over the fixture's 31-word vocabulary; about a quarter are
    near-copies of an earlier text (10 % of tokens replaced), so the
    dedup stages keep real work."""
    k = np.arange(n)
    n_words = 8 + _mix(k, 2) % 83
    texts = []
    for i, w in enumerate(n_words):
        if i > 0 and rng.random() < 0.25:
            src = texts[int(rng.integers(0, i))].split(" ")
            mask = rng.random(len(src)) < 0.10
            for j in np.nonzero(mask)[0]:
                src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), w)]))
    return pa.table({
        "doc_id": pa.array(k), "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": _strs("src{}", rng.integers(0, 20, n)),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})


def embeddings(n: int, rng) -> pa.Table:
    """Unit vectors (dim 64) around 10 label centres."""
    centres = rng.standard_normal((10, DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] * 0.6 + rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n)),
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(label)})


def mutate_texts(t: pa.Table, rng, rate: float) -> pa.Table:
    out = []
    for txt in t.column("text").to_pylist():
        toks = txt.split(" ")
        hits = np.nonzero(rng.random(len(toks)) < rate)[0]
        for j, r in zip(hits, rng.integers(0, len(VOCAB), hits.size)):
            toks[j] = VOCAB[r]
        out.append(" ".join(toks))
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(out))
    return t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                        pa.array(np.array([len(s) for s in out], dtype=np.int64)))


def mutate_embeddings(t: pa.Table, rng) -> pa.Table:
    """v' = (v + eps*u)/sqrt(1+eps^2), u a unit direction orthogonal to v,
    eps ~ U(0.10, 0.75): clone cosines span ~[0.80, 0.995]."""
    e = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    eps = rng.uniform(0.10, 0.75, size=(len(e), 1))
    g = rng.standard_normal(e.shape)
    g -= (g * e).sum(axis=1, keepdims=True) * e
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    v = (e + eps * g) / np.sqrt(1.0 + eps * eps)
    return t.set_column(t.schema.get_field_index("embedding"), "embedding",
                        pa.array(list(v.astype(np.float32)),
                                 type=pa.list_(pa.float32())))


def replicate(tables: dict, k: int, seed: int, mutate: float) -> dict:
    """K-fold key-offset union (replica 0 is the base, byte-identical)."""
    strides = {}
    for name, keys in OFFSET_COLS.items():
        for c in keys:
            m = int(np.max(tables[name].column(c).to_numpy())) + 1
            strides[KEY_FAMILY[c]] = max(strides.get(KEY_FAMILY[c], 0), m)
    out = {}
    for name, keys in OFFSET_COLS.items():
        t = tables[name]
        if not keys:
            out[name] = t
            continue
        reps = [t]
        for i in range(1, k):
            r = t
            for c in keys:
                off = i * strides[KEY_FAMILY[c]]
                col = pa.array(r.column(c).to_numpy() + off,
                               type=r.schema.field(c).type)
                r = r.set_column(r.schema.get_field_index(c), c, col)
            rng = np.random.default_rng([seed, i, 29])
            if mutate > 0 and name == "documents":
                r = mutate_texts(r, rng, mutate)
            if mutate > 0 and name == "embeddings":
                r = mutate_embeddings(r, rng)
            reps.append(r)
        out[name] = pa.concat_tables(reps)
    return out


def write(tables: dict, out_dir: str, only=None) -> dict:
    """Write each table as one parquet file; return {name: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        if only is not None and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = (t.num_rows, os.path.getsize(path))
    return sizes


def generate(out_dir: str, seed: int, sf: float, replicas: int = 1,
             mutate: float = 0.0, docs: int = 500, vecs: int = 500,
             only=None) -> dict:
    tables = base_tables(sf, seed, docs, vecs)
    if replicas > 1:
        tables = replicate(tables, replicas, seed, mutate)
    return write(tables, out_dir, only)
