"""Seeded input generators for the benchmark.

`write_tables` writes the ten TPC-H-ish tables graft's declared queries
read (same names, columns and parquet types as the project's test data,
uniform synthetic values). `cdc_plan` builds the lake_cdc workload's
base table, per-round upsert/delete batches and lookup keys. Both are
pure functions of their arguments: one seed always gives the same
inputs.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    words = np.array(WORDS, dtype=object)
    for k in lens:
        out.append(" ".join(words[ids[at:at + k]]))
        at += k
    # 5% near-duplicates (another document plus one token) and a few
    # exact copies, so the dedup operators have pairs to find
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        out[i] = out[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        out[i] = out[int(rng.integers(0, n))]
    return out


def write_tables(out, seed, sf):
    """Write the ten query-input tables at scale `sf` (sf=0.01 gives
    60k lineitem rows) under directory `out`."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pname = [f"{PADJ[a]} {PNOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pname,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", lineitem_cols(rng, n_li, n_ord, n_part, n_supp))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 67), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_doc)
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return {"lineitem": n_li, "orders": n_ord, "documents": n_doc, "embeddings": n_emb,
            "events": n_ev}


def lineitem_cols(rng, n, n_ord, n_part, n_supp, orderkeys=None, linenumbers=None):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n) if orderkeys is None
                               else orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n) if linenumbers is None
                                 else linenumbers, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2499, n) * DAY_US)}


# ---- lake_cdc ---------------------------------------------------------

LAKE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
             "l_shipdate", "ship_year"]
YEARS = list(range(1995, 2002))
ABSENT_ORDERKEY = 10**12


class KeySet:
    """Keys with O(1) add, remove and uniform sampling."""

    def __init__(self, keys=()):
        self.items = list(keys)
        self.pos = {k: i for i, k in enumerate(self.items)}

    def __len__(self):
        return len(self.items)

    def add(self, k):
        if k not in self.pos:
            self.pos[k] = len(self.items)
            self.items.append(k)

    def remove(self, k):
        i = self.pos.pop(k, None)
        if i is None:
            return
        last = self.items.pop()
        if i < len(self.items):
            self.items[i] = last
            self.pos[last] = i

    def sample(self, rng, n):
        """n distinct keys, uniformly (n is small against the set)."""
        n = min(n, len(self.items))
        picked = {}
        while len(picked) < n:
            for i in rng.integers(0, len(self.items), n - len(picked)).tolist():
                picked.setdefault(i, None)
        return [self.items[i] for i in list(picked)[:n]]


YEAR_START_US = {y: int(np.datetime64(f"{y}-01-01", "us").astype(np.int64)) for y in YEARS}


def _rows(rng, keys, years):
    """Fresh lineitem values for (orderkey, linenumber) keys in the given
    ship years, as tuples in LAKE_COLS order."""
    n = len(keys)
    c = lineitem_cols(rng, n, 1, 20000, 1000,
                      orderkeys=np.array([k[0] for k in keys], np.int64),
                      linenumbers=np.array([k[1] for k in keys], np.int32))
    day = rng.integers(0, 365, n)
    ship = [YEAR_START_US[int(y)] + int(d) * DAY_US for y, d in zip(years, day)]
    cols = [c[k].to_pylist() if isinstance(c[k], pa.Array) else c[k].tolist()
            for k in LAKE_COLS[:10]]
    return [tuple(v[i] for v in cols) + (ship[i], int(years[i])) for i in range(n)]


def _write_rows(path, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in LAKE_COLS]
    types = [pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(), pa.float64(),
             pa.float64(), pa.float64(), pa.string(), pa.string(),
             pa.timestamp("us", tz="UTC"), pa.int32()]
    pq.write_table(pa.table([pa.array(list(v), t) for v, t in zip(cols, types)],
                            names=LAKE_COLS), path)


# lake_cdc batch shape per round
UPSERT_FRAC = 0.02   # live keys updated
HOT_FRAC = 0.7       # of the updates (and new keys) in the newest ship year
NEW_FRAC = 0.005     # new keys, as a share of the base rows
DELETE_FRAC = 0.003  # live keys deleted


def cdc_plan(seed, n, rounds, lookups):
    """The lake_cdc inputs for one seed: base rows and, per round, the
    upsert batch (updates, HOT_FRAC of them in the newest ship year,
    plus new keys), the delete batch and `lookups` lookup keys. Returns
    (base, rounds) with rows as tuples in LAKE_COLS order."""
    rng = np.random.default_rng([seed, 0x1a4e])
    n_ord = max(1, n // 4)
    codes = rng.choice(n_ord * 7, n, replace=False)
    keys = [(int(c // 7), int(c % 7) + 1) for c in codes]
    years = rng.choice(YEARS, n)
    base = _rows(rng, keys, years)
    state = {(r[0], r[3]): r for r in base}
    live = KeySet(state)
    hot = KeySet(k for k, r in state.items() if r[11] == YEARS[-1])
    next_order = n_ord
    n_probe = 0
    plan = []
    for _ in range(rounds):
        n_upd = int(len(live) * UPSERT_FRAC)
        upd = set(hot.sample(rng, int(n_upd * HOT_FRAC)))
        upd |= set(live.sample(rng, n_upd - len(upd)))
        upd = sorted(upd)
        new_keys = []
        for _ in range(int(n * NEW_FRAC)):
            new_keys.append((next_order, int(rng.integers(1, 8))))
            next_order += 1
        new_years = [YEARS[-1] if rng.random() < HOT_FRAC else int(rng.choice(YEARS))
                     for _ in new_keys]
        fresh = _rows(rng, upd + new_keys, [state[k][11] for k in upd] + new_years)
        # updates keep the key's ship date, so a key never changes partition
        upsert = [r[:10] + state[k][10:] if k in state else r
                  for k, r in zip(upd + new_keys, fresh)]
        for r in upsert:
            k = (r[0], r[3])
            state[k] = r
            live.add(k)
            if r[11] == YEARS[-1]:
                hot.add(k)
        dels = sorted(live.sample(rng, int(len(live) * DELETE_FRAC)))
        delete = [state[k] for k in dels]
        for k in dels:
            del state[k]
            live.remove(k)
            hot.remove(k)
        touched = [(r[11], r[0], r[3]) for r in upsert + delete]
        probe = []
        for i in range(lookups):
            if i < lookups // 2:
                y, o, l = touched[int(rng.integers(0, len(touched)))]
            else:
                o, l = live.items[int(rng.integers(0, len(live)))]
                y = state[(o, l)][11]
            n_probe += 1
            if n_probe % 10 == 0:  # every tenth lookup asks for an absent key
                o = ABSENT_ORDERKEY + int(rng.integers(0, 1000))
            probe.append([int(y), int(o), int(l)])
        plan.append({"upsert": upsert, "delete": delete, "lookups": probe})
    return base, plan


def write_cdc(out, base, plan):
    """Write base and batches as parquet; return the harness's round list."""
    _write_rows(f"{out}/base.parquet", base)
    rounds = []
    for i, rnd in enumerate(plan):
        up, de = f"{out}/upsert-{i}.parquet", f"{out}/delete-{i}.parquet"
        _write_rows(up, rnd["upsert"])
        _write_rows(de, rnd["delete"])
        rounds.append({"upsert": up, "delete": de, "lookups": rnd["lookups"],
                       "upsert_rows": len(rnd["upsert"]), "delete_rows": len(rnd["delete"])})
    return rounds
