"""Seeded input generators. Every table is a pure function of the seed
and its size, written as parquet files inside the run directory during
set-up; the library only ever receives a DataFrame over those files.

Keys are integers drawn with numpy; a url is a one-to-one rendering of
its key, so exact answers (distinct counts, fetch counts, first
occurrences) are computed on the key arrays, independently of Spark.
"""

from __future__ import annotations

import os

import numpy as np

N_FILES = 8   # files per table: Spark reads one partition per file here


def url_str(k: int) -> str:
    """The url of key ``k``."""
    return f"https://s{k % 4099}.example.org/crawl/{k}.html"


def urls(keys: np.ndarray):
    """``url_str`` over a key array, as an Arrow string array."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = np.asarray(keys, dtype=np.int64)
    return pc.binary_join_element_wise(
        "https://s", pc.cast(pa.array(keys % 4099), pa.string()),
        ".example.org/crawl/", pc.cast(pa.array(keys), pa.string()), ".html",
        "")


def _write(path: str, n_files: int, **cols) -> None:
    """Write columns as ``n_files`` parquet files of consecutive rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def crawl_rows(path: str, seed: int, n_rows: int, n_keys: int,
               n_hot: int) -> np.ndarray:
    """Crawl re-fetch rows ``(url)``: 98% of rows draw a key uniformly
    from ``n_keys`` (about ``n_rows / n_keys`` fetches per key), 2% go to
    ``n_hot`` hot keys (keys ``0 .. n_hot-1``). Returns the fetch count
    of every key."""
    rng = np.random.default_rng([seed, 1])
    hot = rng.random(n_rows) < 0.02
    k = np.where(hot, rng.integers(0, n_hot, n_rows),
                 n_hot + rng.integers(0, n_keys, n_rows))
    _write(path, N_FILES, url=urls(k))
    return np.bincount(k, minlength=n_hot + n_keys)


def crawl_frontier(seen_path: str, frontier_path: str, seed: int,
                   n_keys: int, n_frontier: int) -> None:
    """Seen rows ``(url, k)``: every key of ``0 .. n_keys-1`` fetched once
    or twice. Frontier rows ``(url, k, n)``: keys drawn from the same
    space, each carrying ``n``, its fetch count in the seen rows (a
    group-by count over them)."""
    rng = np.random.default_rng([seed, 2])
    seen = np.repeat(np.arange(n_keys), 1 + rng.integers(0, 2, n_keys))
    _write(seen_path, N_FILES, url=urls(seen), k=seen)
    f = rng.integers(0, n_keys, n_frontier)
    n = np.bincount(seen, minlength=n_keys)[f]
    _write(frontier_path, N_FILES, url=urls(f), k=f, n=n)


def stream_files(path: str, seed: int, n_files: int, first_rows: int,
                 rows_per_file: int, new_per_file: int,
                 n_keys: int) -> list:
    """``n_files`` parquet files of urls, one file per micro-batch. The
    first holds ``first_rows`` urls drawn with repeats from keys
    ``0 .. n_keys-1``. Each later file holds ``rows_per_file`` urls:
    ``new_per_file`` keys never used before, and the rest repeats drawn
    from the first file's keys, in a random order. Every later batch
    then brings the same number of new keys. Returns each file's keys."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    os.makedirs(path, exist_ok=True)
    keys = [rng.integers(0, n_keys, first_rows)]
    seen = np.unique(keys[0])
    for i in range(1, n_files):
        fresh = n_keys + (i - 1) * new_per_file + np.arange(new_per_file)
        again = rng.choice(seen, rows_per_file - new_per_file)
        keys.append(rng.permutation(np.concatenate([fresh, again])))
    for i, k in enumerate(keys):
        pq.write_table(pa.table({"url": urls(k)}),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return keys
