"""The workloads: what each one generates, sets up and runs.

Every workload is a closed loop with one client: a fixed list of ops
(one *pass*), each op waited for before the next starts. An op is
``(name, kind, fn)`` with kind ``read`` or ``write``; ``fn()`` returns
what the check needs.
"""

from __future__ import annotations

import os

import numpy as np

import gen

WAREHOUSE_SF = 0.01

# Builder-dominated lines: MinHash signatures (containment, a known
# oracle mismatch at sf0.1 that stays checked), an IVF index write +
# append + compaction, and streaming MinHash state. Run in this order.
CURATION = [("knn_ivf_index_compact", "write"), ("documents_containment_minhash", "read"),
            ("stream_dedup_minhash", "write")]

SHOP_SIZE = {"n_movie": 3_000, "n_review": 30_000, "n_order": 30_000}
# Requests per pass: an even spread over the six read endpoints plus
# insert_order, 2 of 20 (10% writes). No traffic record of the
# reference exists, so the mix is assumed; the seed picks parameters
# and order.
READ_ENDPOINTS = ["query_movie_list", "query_movie", "query_order_list",
                  "recommend_movie_list", "monthly_sales", "yearly_sales"]
READS_PER_ENDPOINT = 3
SERVE_WRITES = 2


class Line:
    """A registered line: builder call, then ``collect()``."""

    def __init__(self, name: str):
        self.name = name

    def __call__(self, ctx):
        from hive_hdfs_practise_spark import plans

        with ctx.span("build", self.name):
            df = plans.QUERIES[self.name](ctx.spark, ctx.data_dir)
        with ctx.span("action", self.name):
            rows = df.collect()
        ctx.last_df = df
        ctx.spark.catalog.clearCache()
        return rows, df.columns


class Curation:
    """Registered lines checked against oracle fingerprints."""

    def generate(self, data_dir: str, seed: int) -> None:
        gen.warehouse_tables(data_dir, seed, WAREHOUSE_SF)

    def setup_state(self, ctx) -> None:
        pass

    def ops(self, seed: int, data_dir: str):
        return [(n, kind, Line(n)) for n, kind in CURATION]

    def check(self, results, expected, fingerprint) -> list[bool]:
        """One verdict per (name, (rows, columns)) result."""
        from expect import rows_frame

        return [fingerprint(rows_frame(*out)) == expected[name] for name, out in results]

    def expected_names(self):
        return [n for n, _ in CURATION]


class Serve:
    """MovieShopAPI over the reference's three tables."""

    def generate(self, data_dir: str, seed: int) -> None:
        gen.shop_tables(data_dir, seed, **SHOP_SIZE)

    def setup_state(self, ctx) -> None:
        """The reference's init path: DDL + bulk load into managed
        parquet tables, then bind the API to them."""
        from hive_hdfs_practise_spark.api import MovieShopAPI
        from hive_hdfs_practise_spark.sources import tsv

        spark = ctx.spark
        for t in ("movie", "review", "order_info"):
            tsv.load_table(spark, os.path.join(ctx.data_dir, f"{t}.tsv"), t)
        ctx.api = MovieShopAPI(
            spark, spark.table("movie_shop.movie"), spark.table("movie_shop.review"),
            spark.table("movie_shop.order_info"), order_table="movie_shop.order_info")

    def requests(self, seed: int, data_dir: str):
        """Seeded request list for one pass: READS_PER_ENDPOINT reads of
        each endpoint in seeded order and SERVE_WRITES evenly spaced
        inserts."""
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed + 7919)
        movie = pq.read_table(os.path.join(data_dir, "movie.parquet")).to_pydict()
        ids, names, prices = movie["movie_id"], movie["name"], movie["price"]
        names_chars = "".join(names)
        reads = READ_ENDPOINTS * READS_PER_ENDPOINT
        reqs = []
        for op in rng.permutation(reads).tolist():
            if op == "query_movie_list":
                key = names_chars[int(rng.integers(len(names_chars)))] if rng.random() < 0.8 else ""
                params = {"start_from": int(rng.integers(0, 40)),
                          "limitation": int(rng.choice([10, 20, 50])), "search_key": key}
            elif op == "query_movie":
                params = {"movie_id": int(ids[int(rng.integers(len(ids)))])}
            elif op == "query_order_list":
                y, m = int(rng.integers(2015, 2020)), int(rng.integers(1, 13))
                pat = str(rng.choice(["%", f"{y}-%", f"{y}-{m:02d}-%"]))
                params = {"start_from": int(rng.integers(0, 30)), "limitation": 10,
                          "time_limitation": pat}
            elif op == "recommend_movie_list":
                params = {"start_from": int(rng.integers(0, 30)), "limitation": 15}
            else:
                params = {}
            reqs.append((op, params))
        step = len(reqs) // SERVE_WRITES
        for k in range(SERVE_WRITES):
            i = int(rng.integers(len(ids)))
            num = int(rng.integers(1, 11))
            item = {"movie_id": int(ids[i]), "movie_name": names[i], "movie_num": num,
                    "price_sum": round(prices[i] * num, 1)}
            reqs.insert(k * (step + 1) + step, ("insert_order", {"item": item}))
        return reqs

    def ops(self, seed: int, data_dir: str):
        out = []
        for op, params in self.requests(seed, data_dir):
            kind = "write" if op == "insert_order" else "read"
            out.append((op, kind, _ApiCall(op, params)))
        return out


class _ApiCall:
    def __init__(self, op: str, params: dict):
        self.op, self.params = op, params

    def __call__(self, ctx):
        with ctx.span("api", self.op):
            got = getattr(ctx.api, self.op)(**self.params)
        if self.op == "insert_order":
            ctx.n_inserted += 1
        return (self.op, self.params, got, ctx.n_inserted)


WORKLOADS = {"serve": Serve(), "curation": Curation()}
