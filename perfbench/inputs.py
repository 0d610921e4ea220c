"""Seeded input generators and their expected outputs.

Every workload's inputs are a pure function of (workload, seed, size).
They are generated once into ``perfbench/.cache/<workload>-<seed>-<size>/``
together with ``expected.json``, the reference output computed
independently of the program under test:

- ``etl_csv_groupsum``: the per-neighbourhood sums, accumulated in
  NumPy while the CSV is generated;
- ``semantic_dedup``: the registry's DuckDB oracle SQL run on the same
  files.

Files are fsynced before ``prepare`` returns, so no later timing pays
for write-back of freshly generated data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")

# The reference schema (resources/schema.json of the paper's pipeline,
# including its 'longtiude' spelling).
NYC_FIELDS = [
    {"name": "id", "type": "INTEGER"},
    {"name": "name", "type": "STRING"},
    {"name": "host_id", "type": "INTEGER"},
    {"name": "host_name", "type": "STRING"},
    {"name": "neighbourhood_group", "type": "STRING"},
    {"name": "neighbourhood", "type": "STRING"},
    {"name": "latitude", "type": "FLOAT"},
    {"name": "longtiude", "type": "FLOAT"},
    {"name": "room_type", "type": "STRING"},
    {"name": "price", "type": "INTEGER"},
    {"name": "minimum_nights", "type": "INTEGER"},
    {"name": "number_of_reviews", "type": "INTEGER"},
    {"name": "last_review", "type": "DATE"},
    {"name": "reviews_per_month", "type": "FLOAT"},
    {"name": "calculated_host_listings_count", "type": "INTEGER"},
    {"name": "availability_365", "type": "INTEGER"},
]
# The golden output of the reference run has 221 neighbourhood groups.
N_NEIGHBOURHOODS = 221

# Input sizes: on a 4-core box a warm job takes about 1.5 s (ETL) and
# 3 s (semantic), so a run times several jobs after its warm-up.
SIZES = {
    "etl_csv_groupsum": 200_000,  # CSV rows
    "semantic_dedup": 1_000,  # 64-dim vectors
}
SEMANTIC_K = 16
SEMANTIC_ITERS = 1
SEMANTIC_DIM = 64

_WORDS = [
    "alpha", "border", "candle", "delta", "engine", "forest", "garden",
    "harbor", "island", "jungle", "kettle", "lantern", "meadow", "needle",
    "orchard", "pepper", "quarry", "river", "saddle", "timber", "valley",
    "walnut", "yellow", "zephyr", "anchor", "basket", "canyon", "dragon",
    "ember", "falcon", "glacier", "hammer", "indigo", "jasper", "kingdom",
    "lizard", "marble", "nectar", "oyster", "parrot", "quiver", "rocket",
    "silver", "thunder", "umbrella", "violet", "willow", "yonder", "zenith",
    "bridge", "castle", "desert", "eagle", "feather", "goblet", "horizon",
]


def _fsync_tree(path: str) -> None:
    for root, _dirs, files in os.walk(path):
        for f in files:
            fd = os.open(os.path.join(root, f), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def input_hash(path: str) -> str:
    """SHA-256 over every input file (sorted by relative path)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f == "expected.json":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --- etl_csv_groupsum ---------------------------------------------------


def _neighbourhood_names() -> list[str]:
    names = []
    for i in range(N_NEIGHBOURHOODS):
        w = _WORDS[i % len(_WORDS)].capitalize()
        # Every 7th key carries a comma, so it is quoted in the CSV.
        names.append(f"{w} Heights, Block {i}" if i % 7 == 0 else f"{w} Park {i}")
    return names


def gen_etl(out_dir: str, seed: int, n_rows: int) -> dict:
    """An AB_NYC-shaped CSV: Zipf-skewed neighbourhoods, quoted commas
    in ``name`` and some keys, 1 % empty listing counts. Returns the
    expected sink contents."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    names = np.array(_neighbourhood_names(), dtype=object)
    weights = 1.0 / np.arange(1, N_NEIGHBOURHOODS + 1) ** 1.1
    key_idx = rng.choice(N_NEIGHBOURHOODS, size=n_rows, p=weights / weights.sum())
    key_idx = rng.permutation(N_NEIGHBOURHOODS)[key_idx]
    counts = rng.integers(1, 60, size=n_rows)
    null_count = rng.random(n_rows) < 0.01
    titles = np.array(
        [f"{a.capitalize()}, {b} room near the {c}" for a, b, c in zip(
            _WORDS, _WORDS[7:] + _WORDS[:7], _WORDS[13:] + _WORDS[:13])],
        dtype=object,
    )
    hosts = np.array([w.capitalize() for w in _WORDS], dtype=object)
    groups = np.array(["Brooklyn", "Manhattan", "Queens", "Bronx", "Staten Island"], dtype=object)
    rooms = np.array(["Private room", "Entire home/apt", "Shared room"], dtype=object)
    days = rng.integers(0, 3000, size=n_rows)
    last_review = (np.datetime64("2011-01-01") + days.astype("timedelta64[D]")).astype(str)
    no_review = rng.random(n_rows) < 0.2
    last_review = np.where(no_review, "", last_review)
    cnt = pd.array(counts, dtype="Int64")
    cnt[null_count] = pd.NA
    frame = pd.DataFrame(
        {
            "id": np.arange(n_rows, dtype=np.int64) + 2539,
            "name": titles[rng.integers(0, len(titles), size=n_rows)],
            "host_id": rng.integers(1_000, 300_000_000, size=n_rows),
            "host_name": hosts[rng.integers(0, len(hosts), size=n_rows)],
            "neighbourhood_group": groups[rng.integers(0, len(groups), size=n_rows)],
            "neighbourhood": names[key_idx],
            "latitude": np.round(40.5 + rng.random(n_rows) * 0.4, 5),
            "longtiude": np.round(-74.2 + rng.random(n_rows) * 0.5, 5),
            "room_type": rooms[rng.integers(0, len(rooms), size=n_rows)],
            "price": rng.integers(10, 1_000, size=n_rows),
            "minimum_nights": rng.integers(1, 30, size=n_rows),
            "number_of_reviews": rng.integers(0, 600, size=n_rows),
            "last_review": last_review,
            "reviews_per_month": np.round(rng.random(n_rows) * 5, 2),
            "calculated_host_listings_count": cnt,
            "availability_365": rng.integers(0, 366, size=n_rows),
        }
    )
    frame.to_csv(os.path.join(out_dir, "listings.csv"), index=False)
    valid = ~null_count
    sums = np.bincount(key_idx[valid], weights=counts[valid], minlength=N_NEIGHBOURHOODS)
    seen = np.bincount(key_idx[valid], minlength=N_NEIGHBOURHOODS)
    present = np.bincount(key_idx, minlength=N_NEIGHBOURHOODS)
    transform = {
        str(names[i]): (str(int(sums[i])) if seen[i] else None)
        for i in range(N_NEIGHBOURHOODS)
        if present[i]
    }
    return {"raw_rows": n_rows, "transform": transform}


# --- semantic_dedup -----------------------------------------------------


def gen_semantic(out_dir: str, seed: int, n_vecs: int) -> dict:
    """64-dim float32 vectors in ``SEMANTIC_K`` well-separated clusters
    of equal size (vector i belongs to cluster i % k), with 2 % planted
    near-duplicates (a copy of another vector of the same cluster plus
    1e-3 noise). The k-means seeds are the k lowest ids, one per
    cluster, so every seed gives the same cluster sizes and the same
    pair-verify work; the seed moves only the centres and the noise."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cloud_dataflow_batch_processing_spark.extensions.similarity import (
        semantic_dedup_sql,
    )

    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((SEMANTIC_K, SEMANTIC_DIM))
    cluster = np.arange(n_vecs) % SEMANTIC_K
    mat = centres[cluster] + 0.7 * rng.standard_normal((n_vecs, SEMANTIC_DIM))
    n_dup = n_vecs // 50
    src = rng.integers(0, n_vecs, size=n_dup)
    # A copy lands in the source's cluster and never on a k-means seed.
    dst = SEMANTIC_K + rng.integers(0, (n_vecs - SEMANTIC_K) // SEMANTIC_K, size=n_dup) * SEMANTIC_K
    dst += src % SEMANTIC_K
    mat[dst] = mat[src] + 1e-3 * rng.standard_normal((n_dup, SEMANTIC_DIM))
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(mat.astype(np.float32).tolist(), pa.list_(pa.float32())),
            }
        ),
        path,
    )
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        rows = con.execute(
            semantic_dedup_sql(k=SEMANTIC_K, iters=SEMANTIC_ITERS, dim=SEMANTIC_DIM, min_cosine=0.9)
        ).fetchall()
    finally:
        con.close()
    return {"clusters": sorted([int(x) for x in r] for r in rows), "vectors": n_vecs}


GENERATORS = {
    "etl_csv_groupsum": gen_etl,
    "semantic_dedup": gen_semantic,
}


def prepare(workload: str, seed: int, size: int | None = None, cache_dir: str = CACHE_DIR) -> str:
    """Return the cached input directory for (workload, seed, size),
    generating it and its expected output first if needed."""
    size = SIZES[workload] if size is None else size
    out = os.path.join(cache_dir, f"{workload}-{seed}-{size}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = GENERATORS[workload](tmp, seed, size)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    _fsync_tree(tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_expected(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "expected.json")) as fh:
        return json.load(fh)
