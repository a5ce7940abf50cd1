"""Seeded input generators for the benchmark workloads.

Everything here is pure NumPy/pyarrow: the program under test only ever
receives what these functions write or return. The same seed gives
byte-identical parquet files and identical operation streams; see
``tests/test_gen.py``.

Value domains follow the repository's TPC-H-shaped fixtures
(FIXTURES.md): keys start at 0, dates span 1995-01-01..2001-08-01, six
part types, five market segments, discounts 0.00..0.10. The document
corpus uses the fixture's 31-word vocabulary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: TPC-H row counts per unit of scale factor.
SF_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "red", "green", "small", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
N_BRANDS = 25

DATE_LO = np.datetime64("1995-01-01", "D")
DATE_HI = np.datetime64("2001-08-01", "D")
#: Shipments on or before this day are closed (linestatus F).
STATUS_CUT = np.datetime64("1998-06-17", "D")

#: The fixture corpus vocabulary (documents.parquet at every sf).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_SOURCES = 20
EMB_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table never
    shifts another table's values."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


# ------------------------------------------------------------------ TPC-H
def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema at scale factor ``sf``."""
    n_cust = int(SF_ROWS["customer"] * sf)
    n_supp = max(int(SF_ROWS["supplier"] * sf), 25)
    n_part = int(SF_ROWS["part"] * sf)
    n_ord = int(SF_ROWS["orders"] * sf)

    region = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })

    r = rng(seed, "customer")
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = rng(seed, "supplier")
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })

    r = rng(seed, "part")
    adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
    price = np.round(900.0 + (np.arange(n_part) % 20_000) / 10.0, 2)
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", r.integers(1, N_BRANDS + 1, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    })

    orders, lineitem = _orders_lineitem(seed, n_ord, n_cust, n_part, n_supp, price)
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def _orders_lineitem(seed, n_ord, n_cust, n_part, n_supp, part_price):
    r = rng(seed, "orders")
    days = int((DATE_HI - DATE_LO) / np.timedelta64(1, "D"))
    odate = DATE_LO + r.integers(0, days, n_ord).astype("timedelta64[D]")
    n_lines = r.integers(1, 8, n_ord)
    owner = np.repeat(np.arange(n_ord), n_lines)
    n_li = len(owner)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    partkey = r.integers(0, n_part, n_li)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * part_price[partkey], 2)
    disc = r.integers(0, 11, n_li) / 100.0
    tax = r.integers(0, 9, n_li) / 100.0
    ship = odate[owner] + r.integers(1, 122, n_li).astype("timedelta64[D]")
    closed = ship <= STATUS_CUT
    flag = np.where(closed, np.where(r.random(n_li) < 0.5, "R", "A"), "N")
    lineitem = pa.table({
        "l_orderkey": owner.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": np.where(closed, "F", "O"),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    total = np.round(np.bincount(owner, weights=ext * (1 - disc) * (1 + tax), minlength=n_ord), 2)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": total,
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    return orders, lineitem


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return paths


# -------------------------------------------------------- SQL query stream
#: Point / short-range key lookups: (template name, sql template, key table).
LOOKUPS = (
    ("lk_orders", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
     "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey = {k}", "orders"),
    ("lk_customer", "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
     "FROM customer WHERE c_custkey = {k}", "customer"),
    ("lk_part", "SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part "
     "WHERE p_partkey BETWEEN {k} AND {k} + 9 ORDER BY p_partkey", "part"),
    ("lk_lineitem", "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
     "l_discount, l_shipdate FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k} + 3 "
     "ORDER BY l_orderkey, l_linenumber", "orders"),
)

#: TPC-H-shaped analytic templates over the fixture's columns. Money is
#: rounded on both engines; every ORDER BY ... LIMIT is a total order.
ANALYTIC = {
    "q1": """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_discount), 4) AS avg_disc, count(*) AS n
FROM lineitem WHERE l_shipdate <= DATE '{d1}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3": """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d1}' AND l_shipdate > DATE '{d1}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
     JOIN nation ON s_nationkey = n_nationkey
     JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{region}' AND o_orderdate >= DATE '{y}-01-01'
      AND o_orderdate < DATE '{y1}-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y1}-01-01'
      AND l_discount BETWEEN {disc} - 0.01 AND {disc} + 0.01 AND l_quantity < {qty}""",
    "q10": """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d1}' + INTERVAL 90 DAY
      AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q12": """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y1}-01-01'
GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q14": """
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '{d1}' AND l_shipdate < DATE '{d1}' + INTERVAL 30 DAY""",
    "q19": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#{b1}' AND p_type IN ('SMALL', 'PROMO')
       AND l_quantity BETWEEN {q1} AND {q1} + 10 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#{b2}' AND p_type IN ('MEDIUM', 'STANDARD')
       AND l_quantity BETWEEN {q2} AND {q2} + 10 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#{b3}' AND p_type IN ('LARGE', 'ECONOMY')
       AND l_quantity BETWEEN {q3} AND {q3} + 10 AND p_size BETWEEN 1 AND 15)""",
}


@dataclass(frozen=True)
class Query:
    kind: str  # "lookup" | "analytic"
    name: str  # template name
    sql: str


def _day(r: np.random.Generator, lo: str = "1995-03-01", hi: str = "2001-05-01") -> str:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return str(a + int(r.integers(0, int((b - a) / np.timedelta64(1, "D")))))


def analytic_params(r: np.random.Generator) -> dict:
    y = int(r.integers(1995, 2001))
    return {
        "d1": _day(r), "y": y, "y1": y + 1,
        "seg": SEGMENTS[int(r.integers(0, 5))],
        "region": REGIONS[int(r.integers(0, 5))],
        "disc": f"{int(r.integers(2, 10)) / 100:.2f}",
        "qty": int(r.integers(24, 26)),
        "b1": int(r.integers(1, N_BRANDS + 1)), "b2": int(r.integers(1, N_BRANDS + 1)),
        "b3": int(r.integers(1, N_BRANDS + 1)),
        "q1": int(r.integers(1, 11)), "q2": int(r.integers(10, 21)),
        "q3": int(r.integers(20, 31)),
    }


def sql_round(r: np.random.Generator, rows: dict[str, int]) -> list[Query]:
    """One round: lookups and analytic queries alternate (half each), the
    templates in a fixed order with seeded parameters. The order is the
    same for every seed, so a run cut at any point holds the same mix of
    templates whatever the seed."""
    lookups = [
        Query("lookup", name, tmpl.format(k=int(r.integers(0, rows[table]))))
        for _ in range(2) for name, tmpl, table in LOOKUPS
    ]
    analytic = [
        Query("analytic", name, tmpl.format(**analytic_params(r)).strip())
        for name, tmpl in ANALYTIC.items()
    ]
    return [q for pair in zip(lookups, analytic) for q in pair]


def sql_stream(seed: int, rows: dict[str, int]):
    """Endless query stream of :func:`sql_round` rounds."""
    r = rng(seed, "sqlmix")
    while True:
        yield from sql_round(r, rows)


# ------------------------------------------------------------- LLM corpus
@dataclass
class Corpus:
    documents: pa.Table
    embeddings: pa.Table
    #: planted near/exact duplicate document pairs (id_a < id_b)
    dup_pairs: frozenset


def corpus(seed: int, n_docs: int, n_vecs: int, dup_share: float = 0.1) -> Corpus:
    """Documents sampled from the fixture vocabulary with a planted share
    of exact and near duplicates, plus embeddings with planted
    neighbours.

    Near duplicates append one word to a copy (3-word-shingle Jaccard
    (n-2)/(n-1) >= 0.9 for the >= 12-word bases used here); unrelated
    documents share few shingles (< 0.4), keeping the catalog's
    similarity gap so MinHash-LSH recall is exact.
    """
    r = rng(seed, "corpus")
    vocab = np.array(VOCAB)
    n_dups = int(n_docs * dup_share)
    n_base = n_docs - n_dups
    lengths = r.integers(12, 96, n_base)
    texts = [" ".join(vocab[r.integers(0, len(vocab), n)]) for n in lengths]
    pairs = set()
    originals = r.choice(n_base, size=n_dups, replace=False)
    for j, orig in enumerate(originals):
        t = texts[orig]
        if j % 2:
            t = f"{t} {vocab[int(r.integers(0, len(vocab)))]}"
        texts.append(t)
        pairs.add((int(orig), n_base + j))
    # interleave duplicates among originals by shuffling ids, keeping pairs
    perm = r.permutation(n_docs)
    texts = [texts[i] for i in np.argsort(perm)]
    pairs = frozenset(tuple(sorted((int(perm[a]), int(perm[b])))) for a, b in pairs)
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", r.integers(0, N_SOURCES, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: vec_id < 5 are queries; each gets 3 planted neighbours,
    # so its top of the ranking is well separated
    vecs = r.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    slots = r.choice(np.arange(5, n_vecs), size=15, replace=False).reshape(5, 3)
    for q in range(5):
        for rank, v in enumerate(slots[q]):
            noise = 0.2 + 0.15 * rank
            vecs[v] = vecs[q] + noise * r.standard_normal(EMB_DIM).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vecs).astype(np.int32),
    })
    return Corpus(documents, embeddings, pairs)


# ------------------------------------------------------ workload inputs
#: Scale factor of the ``sql_mix`` star schema.
SQL_MIX_SF = 0.05
#: ``llm_curation`` corpus: documents, embeddings, planted duplicate share.
N_DOCS, N_VECS, DUP_SHARE = 1000, 600, 0.1
#: The small corpus ``llm_curation`` warms up on.
N_WARM_DOCS, N_WARM_VECS = 40, 20


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write a workload's input files under ``out_dir``; returns what the
    workload needs to know about them (JSON-serialisable)."""
    if workload == "sql_mix":
        tables = tpch_tables(seed, SQL_MIX_SF)
        paths = write_tables(tables, os.path.join(out_dir, "tpch"))
        return {"paths": paths, "rows": {t: tables[t].num_rows for t in tables}}
    if workload == "llm_curation":
        c = corpus(seed, N_DOCS, N_VECS, DUP_SHARE)
        paths = write_tables({"documents": c.documents, "embeddings": c.embeddings},
                             os.path.join(out_dir, "corpus"))
        warm = corpus(seed + 1, N_WARM_DOCS, N_WARM_VECS)
        warm_dir = os.path.join(out_dir, "warm")
        write_tables({"documents": warm.documents, "embeddings": warm.embeddings}, warm_dir)
        return {"paths": paths, "warm_dir": warm_dir, "dup_pairs": sorted(c.dup_pairs)}
    raise ValueError(f"unknown workload {workload!r}")


def inputs(workload: str, seed: int, out_dir: str) -> dict:
    """:func:`write_inputs` in a child process, so that generating the
    inputs leaves nothing in the caller's memory (its peak resident set
    is a metric)."""
    meta = os.path.join(out_dir, "inputs.json")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), workload, str(seed), out_dir],
        check=True,
    )
    with open(meta) as fh:
        return json.load(fh)


if __name__ == "__main__":
    # python3 gen.py <workload> <seed> <out_dir>: write_inputs, and its
    # result to <out_dir>/inputs.json
    _workload, _seed, _out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    _meta = write_inputs(_workload, _seed, _out)
    with open(os.path.join(_out, "inputs.json"), "w") as fh:
        json.dump(_meta, fh)
