"""Seeded benchmark inputs: crawl documents and specimen-label tables.

Everything here is a pure function of ``seed`` and a size, so the same
seed gives byte-identical input files on every run.  The shapes follow
the fixture tables the engine reads (``documents``, ``orders``,
``customer``, ``nation``, ``region``); the benchmark writes its own copies
because it may read nothing outside its checkout.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# Word list and language mix of the synthetic fixture corpus.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter big stream group vector dup"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [44, 15, 15, 14, 13]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LABEL_BLOCKS_PER_ORDER = 7  # label_blocks_with_dims emits blocks 0..6


def documents(seed: int, n: int, first_id: int = 0) -> pa.Table:
    """``n`` documents (doc_id, text, lang) with 8-90 words each."""
    rng = random.Random(seed)
    ids = list(range(first_id, first_id + n))
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 90)))
        for _ in ids
    ]
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )


def write_label_tables(seed: int, orders: int, sf_dir: str) -> int:
    """TPC-H-shaped orders/customer/nation/region for ``orders`` label
    orders (every o_orderkey a multiple of 100, so each one is selected
    by the label fixture).  Returns the number of label blocks."""
    rng = random.Random(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust = max(10, orders // 2)
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        os.path.join(sf_dir, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "nation.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(
                    [rng.randrange(25) for _ in range(n_cust)], pa.int32()
                ),
            }
        ),
        os.path.join(sf_dir, "customer.parquet"),
    )
    keys = sorted(rng.sample(range(1, orders * 20), orders))
    epoch = datetime(1992, 1, 1)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([100 * k for k in keys], pa.int64()),
                "o_custkey": pa.array(
                    [rng.randrange(n_cust) for _ in keys], pa.int64()
                ),
                "o_orderdate": pa.array(
                    [epoch + timedelta(days=rng.randrange(2400)) for _ in keys],
                    pa.timestamp("us"),
                ),
            }
        ),
        os.path.join(sf_dir, "orders.parquet"),
    )
    return orders * LABEL_BLOCKS_PER_ORDER
