"""Input tables of the batch workloads.

`data/sf0.01/` holds the project's deterministic test tables at scale
factor 0.01 (seed 42: the star schema, `events`, the 500-document
corpus and the embedding set), the same tables the lanes' oracle tests
run on, copied unchanged. `seed_copy` writes a run's own copy of them:
the seed picks each table's row order and how many parquet files it is
split into. Content never changes, so the oracle answers are the same
for every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def seed_copy(out_dir, seed):
    """Write each table as `<out_dir>/<name>.parquet/part-NNNNN.parquet`
    with a seed-chosen row order and file count. Returns
    ({table: rows}, total bytes written)."""
    rng = np.random.default_rng(seed)
    rows, total = {}, 0
    for name in TABLES:
        tab = pq.read_table(os.path.join(SOURCE, f"{name}.parquet"))
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        n_files = int(rng.integers(1, 4)) if tab.num_rows >= 100 else 1
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, tab.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            path = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(tab.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            total += os.path.getsize(path)
        rows[name] = tab.num_rows
    return rows, total
