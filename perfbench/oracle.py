"""Answer checks, run after the timed region.

Queries: each declared query's Spark result against its DuckDB oracle
SQL over the same generated tables, both in tools/compare.py's canonical
form (columns sorted by name, rows sorted, floats at 6 dp).
Lake: every lookup, aggregate, time-travel read and the final table
state against a model replayed from the generated batches.
"""
import glob
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


class NonScalarCell(Exception):
    pass


def canon(df):
    """tools/compare.py's canonical form, rule for rule: columns sorted by
    name, rows sorted, floats at 6 dp, every other value by str(), and
    array, map or struct cells refused."""
    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False):
        row = []
        for c, v in zip(cols, r):
            if isinstance(v, (np.ndarray, list, dict, tuple)):
                raise NonScalarCell(f"non-scalar cell in column '{c}' ({type(v).__name__})")
            if isinstance(v, float):
                row.append("NaN" if math.isnan(v) else str(round(v, 6)))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return cols, sorted(rows)


def check_queries(res, data_dir):
    """[(query, problem)] for every query whose result differs from its oracle."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    problems = []
    ran = {o["name"] for o in res["ops"]}
    for name in sorted(ran):
        sql = res["oracle"].get(name)
        if sql is None:
            problems.append((name, "no oracle SQL"))
            continue
        try:
            want = canon(con.execute(sql).df())
            # read back as tools/compare.py reads Spark's output
            got = canon(duckdb.sql(
                f"SELECT * FROM '{os.path.join(res['results_dir'], name)}/*.parquet'").df())
        except Exception as e:  # a failed check is a wrong answer
            problems.append((name, f"check failed: {e}"))
            continue
        if want[0] != got[0]:
            problems.append((name, f"columns {got[0]} != oracle {want[0]}"))
        elif want[1] != got[1]:
            diff = [(a, b) for a, b in zip(got[1], want[1]) if a != b][:2]
            problems.append((name, f"{len(got[1])} rows vs oracle {len(want[1])}; first diffs {diff}"))
    return problems


class Model:
    """Table state plus running aggregates, advanced one round at a time."""

    def __init__(self, base):
        self.state = {(r[0], r[3]): r for r in base}
        self.full = [0, 0.0, 0, 0]
        self.hot = [0, 0.0, 0, 0]
        for r in base:
            self._add(r, 1)

    def _add(self, r, sign):
        for agg in (self.full, self.hot) if r[11] == gen.YEARS[-1] else (self.full,):
            agg[0] += sign
            agg[1] += sign * r[4]
            agg[2] += sign * r[0]
            agg[3] += sign * r[3]

    def apply(self, rnd):
        for r in rnd["upsert"]:
            old = self.state.get((r[0], r[3]))
            if old:
                self._add(old, -1)
            self.state[(r[0], r[3])] = r
            self._add(r, 1)
        for r in rnd["delete"]:
            old = self.state.pop((r[0], r[3]), None)
            if old:
                self._add(old, -1)

    def lookup(self, key):
        y, o, l = key
        r = self.state.get((o, l))
        return [list(r)] if r and r[11] == y else []


def _same_agg(got, want):
    return (got is not None and len(got) == 4 and got[0] == want[0] and got[2] == want[2]
            and got[3] == want[3] and abs((got[1] or 0.0) - want[1]) <= 1e-6 * max(1.0, want[1]))


def check_lake(res, base, plan):
    """[(op name, problem)] for every lake answer that differs from the model."""
    problems = []
    model = Model(base)
    by_round = {}
    for o in res["ops"]:
        by_round.setdefault(o["pass"], []).append(o)
    full_after = {}
    for r in range(res["rounds_run"]):
        model.apply(plan[r])
        full_after[r] = list(model.full)
        for o in by_round.get(r, []):
            if not o["ok"]:
                continue
            if o["kind"] == "lookup":
                want = model.lookup(o["key"])
                if o["rows"] != want:
                    problems.append(("lookup", f"round {r} key {o['key']}: {o['rows']} != {want}"))
            elif o["name"] in ("full", "partition", "timetravel"):
                want = {"full": model.full, "partition": model.hot}.get(o["name"])
                if o["name"] == "timetravel":
                    want = full_after[o["as_of_round"]]
                if not _same_agg(o["agg"], want):
                    problems.append((o["name"], f"round {r}: {o['agg']} != {want}"))
    files = glob.glob(os.path.join(res["final_dir"], "*.parquet"))
    t = pq.read_table(files)
    names = t.column_names
    cols = [(c.cast(pa.timestamp("us")).cast(pa.int64()) if n == "l_shipdate" else c).to_pylist()
            for n, c in zip(names, t.columns)]
    got = {(row[0], row[3]): row for row in zip(*cols)}
    if names != gen.LAKE_COLS:
        problems.append(("final", f"columns {names} != {gen.LAKE_COLS}"))
    elif got != model.state:
        missing = len(set(model.state) - set(got))
        extra = len(set(got) - set(model.state))
        changed = sum(1 for k in set(got) & set(model.state) if got[k] != model.state[k])
        problems.append(("final", f"{missing} rows missing, {extra} extra, {changed} differ"))
    return problems
