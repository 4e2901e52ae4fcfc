"""Expected outputs: DuckDB-oracle fingerprints for registered lines
and DuckDB answers for the movie-shop API.

Registered lines are compared the way ``tools/check_oracle.py``
compares them: its ``canon`` (sorted columns, repr-stable cells,
rows sorted) is applied to both sides, then hashed. Before hashing,
an integral float becomes an int, so two frames that ``canon`` finds
equal cell by cell (``3 == 3.0``) also share a fingerprint.

    python3 perfbench/expect.py        # rewrite perfbench/fingerprints.json
"""

from __future__ import annotations

import decimal
import hashlib
import importlib.util
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# seeds whose fingerprints are committed; any other seed is computed
# from the oracle at run time (outside setup_s)
REFERENCE_SEEDS = (1, 2)


def check_oracle(root: str):
    """``tools/check_oracle.py`` of the checkout, loaded as a module."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plain(v):
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    return v


def fingerprint(pdf, canon) -> dict:
    """Row count, sorted columns and a hash of ``canon(pdf)``."""
    rows = sorted((tuple(_plain(c) for c in r) for r in canon(pdf)), key=repr)
    digest = hashlib.sha1(repr(rows).encode()).hexdigest()
    return {"rows": len(rows), "columns": sorted(pdf.columns), "sha1": digest}


def rows_frame(rows, columns):
    """Collected Spark rows as a pandas frame (Decimal cells as float,
    as Spark's Arrow transfer delivers them)."""
    import pandas as pd

    def cell(v):
        return float(v) if isinstance(v, decimal.Decimal) else v

    return pd.DataFrame([[cell(v) for v in r] for r in rows], columns=list(columns))


def oracle_fingerprints(data_dir: str, names, canon) -> dict:
    import duckdb

    from hive_hdfs_practise_spark import plans

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return {n: fingerprint(con.execute(plans.ORACLES[n]).df(), canon) for n in names}


def load_committed(seed: int) -> dict | None:
    try:
        with open(FINGERPRINTS) as fh:
            return json.load(fh)["seeds"].get(str(seed))
    except FileNotFoundError:
        return None


# ---------------------------------------------------------------- serve

def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # aggregate sums may round differently in the last kept digit
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.1 + 1e-9)
    return a == b


def same_records(got: list[dict], want: list[dict], keys) -> bool:
    if len(got) != len(want):
        return False
    return all(_close(g.get(k), w.get(k)) for g, w in zip(got, want) for k in keys)


class ShopOracle:
    """DuckDB over the generated shop tables plus the orders the run
    inserted; answers each recorded request the way the reference's
    endpoints define it."""

    MOVIE = ["movie_id", "name", "price", "ranking", "information"]
    ORDER = ["order_id", "movie_id", "movie_name", "movie_num", "price_sum", "create_time"]

    def __init__(self, data_dir: str, inserted: list[dict]):
        import duckdb

        self.con = duckdb.connect()
        for t in ("movie", "review"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.con.execute(f"CREATE TABLE base_orders AS SELECT * FROM read_parquet('{data_dir}/order_info.parquet')")
        self.con.execute("CREATE TABLE inserted (k INTEGER, order_id INTEGER, movie_id INTEGER, "
                         "movie_name VARCHAR, movie_num INTEGER, price_sum DOUBLE, create_time VARCHAR)")
        for k, r in enumerate(inserted):
            self.con.execute("INSERT INTO inserted VALUES (?, ?, ?, ?, ?, ?, ?)",
                             [k] + [r[c] for c in self.ORDER])

    def _q(self, sql: str, params=()) -> list[dict]:
        cur = self.con.execute(sql, list(params))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def _orders(self, n_inserted: int) -> str:
        cols = ", ".join(self.ORDER)
        return (f"(SELECT {cols} FROM base_orders UNION ALL "
                f"SELECT {cols} FROM inserted WHERE k < {int(n_inserted)})")

    def check(self, op: str, params: dict, got, n_inserted: int) -> bool:
        if op == "query_movie_list":
            want = self._q("SELECT * FROM movie WHERE name LIKE ? ORDER BY movie_id LIMIT ? OFFSET ?",
                           (f"%{params['search_key']}%", params["limitation"], params["start_from"]))
            return same_records(got, want, self.MOVIE)
        if op == "recommend_movie_list":
            want = self._q("SELECT * FROM movie WHERE ranking IS NOT NULL "
                           "ORDER BY ranking DESC, movie_id LIMIT ? OFFSET ?",
                           (params["limitation"], params["start_from"]))
            return same_records(got, want, self.MOVIE)
        if op == "query_order_list":
            want = self._q(f"SELECT * FROM {self._orders(n_inserted)} WHERE create_time LIKE ? "
                           "ORDER BY create_time DESC, order_id DESC LIMIT ? OFFSET ?",
                           (params["time_limitation"], params["limitation"], params["start_from"]))
            return same_records(got, want, self.ORDER)
        if op in ("monthly_sales", "yearly_sales"):
            keys = ["year", "month"] if op == "monthly_sales" else ["year"]
            sel = ", ".join(f"{k}(CAST(create_time AS TIMESTAMP)) AS {k}" for k in keys)
            want = self._q(f"SELECT {sel}, round(sum(price_sum), 1) AS total_sales "
                           f"FROM {self._orders(n_inserted)} GROUP BY ALL ORDER BY ALL")
            got = sorted(got, key=lambda r: tuple(r[k] for k in keys))
            return same_records(got, want, keys + ["total_sales"])
        if op == "query_movie":
            movie = self._q("SELECT * FROM movie WHERE movie_id = ?", (params["movie_id"],))
            if not movie:
                return got is None
            reviews = self._q("SELECT * FROM review WHERE movie_id = ? ORDER BY review_id",
                              (params["movie_id"],))
            info = json.loads(movie[0]["information"])
            parsed = got.get("information_parsed", {})
            return (same_records([got], movie, self.MOVIE)
                    and same_records(got.get("reviews", []), reviews,
                                     ["review_id", "movie_id", "ranking", "content"])
                    and all(parsed.get(k) == info[k] for k in ("_id", "title", "genres", "summary")))
        if op == "insert_order":
            return got == {"success": True}
        raise ValueError(op)


def main() -> int:
    """Regenerate the committed fingerprints for REFERENCE_SEEDS."""
    import tempfile

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import gen
    import workloads

    canon = check_oracle(root).canon
    out = {"note": "DuckDB oracle fingerprints of the registered lines on "
                   "perfbench/gen.py warehouse tables; regenerate with "
                   "`python3 perfbench/expect.py`", "seeds": {}}
    names = workloads.WORKLOADS["curation"].expected_names()
    for seed in REFERENCE_SEEDS:
        with tempfile.TemporaryDirectory(dir=root) as tmp:
            gen.warehouse_tables(tmp, seed, workloads.WAREHOUSE_SF)
            out["seeds"][str(seed)] = oracle_fingerprints(tmp, names, canon)
    with open(FINGERPRINTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {FINGERPRINTS}: {len(names)} lines x {len(REFERENCE_SEEDS)} seeds")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
