"""The benchmark's inputs: committed tables plus what the seed draws.

``data/sf0.01`` and ``data/sf0.001`` hold the repository's ``documents``
and ``lineitem`` tables at those scale factors, unchanged, so the
operators and the recipe see real traffic; nothing outside the checkout
is read. The seed picks the interactive sample's rows (and, in the
workloads, the literals each session types).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# full: the measured inputs; small: the self-test's sf0.001 inputs
SCALES = {
    "full": {"sf": "sf0.01", "lineitem_copies": 10, "sample": 1_000},
    "small": {"sf": "sf0.001", "lineitem_copies": 1, "sample": 200},
}
LINEITEM_COLUMNS = pq.read_schema(os.path.join(DATA, "sf0.001", "lineitem.parquet")).names


def table_dir(scale: str) -> str:
    return os.path.join(DATA, SCALES[scale]["sf"])


def rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def write_lineitem(path: str, scale: str) -> int:
    """The scale's lineitem table, repeated ``lineitem_copies`` times
    (sf0.01 ten times: 600k rows, the size of sf0.1 lineitem)."""
    t = pq.read_table(os.path.join(table_dir(scale), "lineitem.parquet"))
    t = pa.concat_tables([t] * SCALES[scale]["lineitem_copies"])
    pq.write_table(t, path, row_group_size=1 << 17)
    return t.num_rows


def write_csv_sample(path: str, scale: str, seed: int) -> int:
    """A seeded sample of the scale's lineitem rows, each rendered as
    one CSV line (column ``body``): the interactive design-time sample."""
    t = pq.read_table(os.path.join(table_dir(scale), "lineitem.parquet")).to_pandas()
    n = SCALES[scale]["sample"]
    pick = np.sort(np.random.default_rng([seed, 2]).choice(len(t), n, replace=False))
    lines = [",".join(str(v) for v in row) for row in t.iloc[pick].itertuples(index=False)]
    pq.write_table(pa.table({"body": lines}), path)
    return n
