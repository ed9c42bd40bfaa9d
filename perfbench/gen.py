"""Seeded input generators for the lakehouse benchmark.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical inputs. The engine only ever sees the files written here.

- `instacart_csvs`: the raw CSV set of the medallion pipeline (orders,
  order_products prior/train, products, aisles, departments) with a known
  number of exact duplicate rows, nulls in `days_since_prior_order` on
  first orders only, and no orphan keys.
- `star_tables`: TPC-H-shaped parquet tables (region, nation, customer,
  supplier, part, orders, lineitem) plus the events, documents and
  embeddings tables the registry queries read, with the column names,
  types and value domains of the engine's test fixtures.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEPARTMENTS = ["frozen", "other", "bakery", "produce", "alcohol",
               "international", "beverages", "pets", "dry goods pasta",
               "bulk", "personal care", "meat seafood", "pantry",
               "breakfast", "canned goods", "dairy eggs", "household",
               "babies", "snacks", "deli", "missing"]


def instacart_csvs(out, seed, users, products, dup_rate=0.0003):
    """Write the six raw CSVs under `out`; return the exact row counts the
    bronze and silver layers must produce."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_aisles = 134
    aisle_dept = rng.integers(1, len(DEPARTMENTS) + 1, n_aisles)
    prod_aisle = rng.integers(1, n_aisles + 1, products)
    # Zipf-like popularity so some products clear the velocity mart's
    # HAVING count >= 50 gate and most do not
    pop = 1.0 / np.arange(1, products + 1) ** 0.9
    pop = rng.permutation(pop / pop.sum())

    # sizes are the same for every seed (a fixed multiset of orders per
    # user, baskets and train/test split, in a seeded order); the seed
    # picks who gets which and what is in each basket
    n_orders_of = rng.permutation(np.linspace(4, 60, users).round().astype(int))
    last_set_of = rng.permutation(np.arange(users) < round(0.6 * users))
    total_orders = int(n_orders_of.sum())
    basket = rng.permutation(np.arange(total_orders) % 15 + 1)
    # one entry per order, users in turn, their orders in sequence
    user = np.repeat(np.arange(1, users + 1), n_orders_of)
    first_of_user = np.repeat(np.cumsum(n_orders_of) - n_orders_of, n_orders_of)
    number = np.arange(total_orders) - first_of_user + 1
    last = number == np.repeat(n_orders_of, n_orders_of)
    eval_set = np.where(~last, "prior",
                        np.where(np.repeat(last_set_of, n_orders_of), "train", "test"))
    days = np.where(number == 1, "",
                    np.char.add(rng.integers(0, 31, total_orders).astype(str), ".0"))
    dow, hour = rng.integers(0, 7, total_orders), rng.integers(0, 24, total_orders)
    orders = list(zip(range(1, total_orders + 1), user.tolist(), eval_set.tolist(),
                      number.tolist(), dow.tolist(), hour.tolist(), days.tolist()))

    # basket lines: each pick is one of the user's 12 favourites or a
    # popular product, half and half; a product picked twice in one order
    # is one line, in the position it was first picked
    favs = rng.choice(products, size=(users, 12), p=pop) + 1
    line_order = np.repeat(np.arange(total_orders), np.where(eval_set == "test", 0, basket))
    n_picks = len(line_order)
    pid = np.where(rng.random(n_picks) < 0.5,
                   favs[user[line_order] - 1, rng.integers(0, 12, n_picks)],
                   rng.choice(products, size=n_picks, p=pop) + 1)
    keep = np.sort(np.unique(line_order * (products + 1) + pid, return_index=True)[1])
    line_order, pid = line_order[keep], pid[keep]
    starts = np.flatnonzero(np.r_[True, line_order[1:] != line_order[:-1]])
    pos = np.arange(len(line_order)) - np.repeat(starts, np.diff(np.r_[starts, len(line_order)])) + 1
    # reordered: the user has had the product in an earlier order
    reordered = np.ones(len(pid), dtype=int)
    reordered[np.unique(user[line_order] * (products + 1) + pid, return_index=True)[1]] = 0
    lines = list(zip((line_order + 1).tolist(), pid.tolist(), pos.tolist(), reordered.tolist()))
    is_prior = (eval_set[line_order] == "prior").tolist()
    prior = [r for r, p in zip(lines, is_prior) if p]
    train = [r for r, p in zip(lines, is_prior) if not p]

    def with_dups(rows):
        # exact duplicate rows at seeded positions: the silver dedup must
        # remove exactly these
        k = max(1, round(len(rows) * dup_rate))
        idx = rng.choice(len(rows), size=k, replace=False)
        out_rows = list(rows)
        for i in sorted(idx, reverse=True):
            out_rows.insert(int(i) + 1, rows[int(i)])
        return out_rows, k

    orders_raw, dup_orders = with_dups(orders)
    prior_raw, dup_prior = with_dups(prior)
    train_raw, dup_train = with_dups(train)

    def write(name, header, rows):
        with open(os.path.join(out, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    write("orders.csv", ["order_id", "user_id", "eval_set", "order_number",
                         "order_dow", "order_hour_of_day",
                         "days_since_prior_order"], orders_raw)
    write("order_products_prior.csv",
          ["order_id", "product_id", "add_to_cart_order", "reordered"], prior_raw)
    write("order_products_train.csv",
          ["order_id", "product_id", "add_to_cart_order", "reordered"], train_raw)
    write("products.csv", ["product_id", "product_name", "aisle_id", "department_id"],
          [(p, f"product {p}", int(prod_aisle[p - 1]),
            int(aisle_dept[prod_aisle[p - 1] - 1])) for p in range(1, products + 1)])
    write("aisles.csv", ["aisle_id", "aisle"],
          [(a, f"aisle {a}") for a in range(1, n_aisles + 1)])
    write("departments.csv", ["department_id", "department"],
          list(enumerate(DEPARTMENTS, 1)))
    return {
        "bronze": {"orders": len(orders_raw), "products": products,
                   "aisles": n_aisles, "departments": len(DEPARTMENTS),
                   "order_products": len(prior_raw) + len(train_raw)},
        "silver": {"orders": len(orders), "order_products": len(prior) + len(train)},
        "duplicates": {"orders": dup_orders,
                       "order_products": dup_prior + dup_train},
    }


def gold_counts(raw):
    """Gold row counts recomputed by DuckDB over the raw CSVs, independently
    of the engine: dedup, star join and the velocity mart's HAVING gate."""
    import duckdb
    con = duckdb.connect()
    for name in ["orders", "order_products_prior", "order_products_train",
                 "products", "aisles", "departments"]:
        con.execute(f"CREATE VIEW {name}_raw AS SELECT * FROM "
                    f"read_csv_auto('{raw}/{name}.csv', header=true)")
    con.execute("CREATE VIEW o AS SELECT DISTINCT * FROM orders_raw")
    con.execute("""CREATE VIEW op AS SELECT DISTINCT * FROM
        (SELECT * FROM order_products_prior_raw UNION ALL
         SELECT * FROM order_products_train_raw)""")
    one = lambda sql: int(con.execute(sql).fetchone()[0])
    return {
        "fct_orders": one("""SELECT count(*) FROM op JOIN o USING (order_id)
            JOIN products_raw p USING (product_id)
            JOIN aisles_raw a ON p.aisle_id = a.aisle_id
            JOIN departments_raw d ON p.department_id = d.department_id"""),
        "dim_users": one("SELECT count(DISTINCT user_id) FROM o"),
        "dim_products": one("SELECT count(*) FROM products_raw"),
        "mart_dept_performance": one("""SELECT count(DISTINCT p.department_id)
            FROM op JOIN o USING (order_id) JOIN products_raw p USING (product_id)
            JOIN departments_raw d ON p.department_id = d.department_id
            WHERE o.eval_set = 'prior'"""),
        "mart_reorder_velocity": one("""WITH s AS (
              SELECT op.product_id, o.user_id, o.order_number
              FROM op JOIN o USING (order_id) JOIN products_raw p USING (product_id)
              JOIN departments_raw d ON p.department_id = d.department_id
              WHERE o.eval_set <> 'test'),
            r AS (SELECT product_id, row_number() OVER (
                PARTITION BY user_id, product_id ORDER BY order_number) AS rk FROM s)
            SELECT count(*) FROM (SELECT product_id,
                CASE WHEN rk = 1 THEN 1 WHEN rk = 2 THEN 2 WHEN rk = 3 THEN 3
                     WHEN rk <= 5 THEN 4 ELSE 5 END AS bucket
              FROM r GROUP BY ALL HAVING count(*) >= 50)"""),
    }


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "big",
            "green", "dark", "light", "tiny", "shiny"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(out, seed, sf):
    """Write the TPC-H-shaped tables at scale factor `sf` (sf 0.01 has
    15,000 orders and about 60,000 lineitem rows) as one parquet file each
    under `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), max(200, int(50_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()}),
                       os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": (np.arange(5), i32), "r_name": (REGIONS, s)})
    write("nation", {"n_nationkey": (np.arange(25), i32),
                     "n_name": ([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": (np.arange(25) % 5, i32)})
    write("customer", {
        "c_custkey": (np.arange(n_cust), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": (rng.integers(0, 25, n_cust), i32),
        "c_acctbal": (_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": (rng.choice(SEGMENTS, n_cust), s)})
    write("supplier", {
        "s_suppkey": (np.arange(n_supp), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": (rng.integers(0, 25, n_supp), i32),
        "s_acctbal": (_money(rng, n_supp, -999.99, 9999.99), f64)})
    write("part", {
        "p_partkey": (np.arange(n_part), i64),
        "p_name": ([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": (rng.choice(PART_TYPES, n_part), s),
        "p_size": (rng.integers(1, 51, n_part), i32),
        "p_retailprice": (np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    write("orders", {
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": (_money(rng, n_ord, 1000, 500000), f64),
        "o_orderdate": (_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), ts),
        "o_orderpriority": (rng.choice(PRIORITIES, n_ord), s)})
    # 1-7 lines per order numbered 1..n: (l_orderkey, l_linenumber) is
    # unique, as TPC-H's primary key makes it (queries order windows by it)
    lines = rng.integers(1, 8, n_ord)
    perm = rng.permutation(int(lines.sum()))
    l_order = np.repeat(np.arange(n_ord), lines)[perm]
    l_number = (np.arange(int(lines.sum())) - np.repeat(np.cumsum(lines) - lines, lines) + 1)[perm]
    n_li = len(perm)
    write("lineitem", {
        "l_orderkey": (l_order, i64),
        "l_partkey": (rng.integers(0, n_part, n_li), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": (l_number, i32),
        "l_quantity": (rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": (_money(rng, n_li, 900, 105000), f64),
        "l_discount": (rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": (rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": (rng.choice(["F", "O"], n_li), s),
        "l_shipdate": (_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), ts)})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype("int64")
    write("events", {
        "event_id": (np.arange(n_ev), i64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, max(50, n_ev // 67), n_ev), i64),
        "event_type": (rng.choice(EVENT_TYPES, n_ev), s),
        "value": (np.round(rng.exponential(50, n_ev), 2) + 0.01, f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    write("documents", {
        "doc_id": (np.arange(n_doc), i64), "text": (texts, s),
        "lang": (rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]), s),
        "source": ([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.14 + rng.normal(0, 1, (n_doc, 64)) / 8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": (np.arange(n_doc), i64),
        "embedding": ([v.astype(np.float32).tolist() for v in vecs], pa.list_(pa.float32())),
        "label": (labels, i32)})
