"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical parquet. Inputs are built with numpy/pyarrow on the driver
(no Spark job), written as several parquet files so the scan splits
across cores, and handed to the program only as parquet paths.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tab2neo_spark.datagen import LANGS, VOCAB
from tab2neo_spark.extract.html import build_html

# url/doc-id space per seed: seed s owns ids [s * ID_STRIDE, (s+1) * ID_STRIDE)
ID_STRIDE = 10_000_000


def _write_parts(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, f"{path}/part-{i:03d}.parquet")


# -- pages (kg_build) ----------------------------------------------------------


def pages(seed: int, n: int, path: str, n_files: int, dup_share: float = 0.25,
          edits: int = 1, exact_every: int = 4) -> dict:
    """``n`` crawled pages ``(page_id, url, warc_ts, html, text, lang)``, one
    row per url; ``text`` is the page body the html wraps.

    Body words come from ``datagen.VOCAB``, which holds the gazetteer
    surfaces, so every page mentions entities. About a quarter of the pages
    sit on three hot domains (the skew ``datagen.synthetic_pages`` uses).
    A ``dup_share`` of the pages are near-duplicates: re-crawls of an
    original body under a new url with ``edits`` words replaced; every
    ``exact_every``-th copy is unedited (Jaccard 1.0), so it must join its
    original's cluster whatever the LSH draws. Returns the input properties
    and ``exact``: the (copy, original) page-id pairs."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB)
    n_dup = int(round(dup_share * n))
    n_orig = n - n_dup
    bodies = [list(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(20, 60, n_orig)]
    exact = []
    base = seed * ID_STRIDE
    for j in range(n_dup):
        src = int(rng.integers(0, n_orig))
        body = list(bodies[src])
        if j % exact_every:
            for pos in rng.choice(len(body), edits, replace=False):
                body[pos] = vocab[rng.integers(0, len(vocab))]
        else:
            exact.append((base + n_orig + j, base + src))
        bodies.append(body)
    order = rng.permutation(n)  # originals and copies interleave across files
    dom = rng.integers(0, 100, n)
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    ts = 1704067200 + rng.integers(0, 30 * 86400, n)
    ids, urls, htmls, texts = [], [], [], []
    for k, i in enumerate(order):
        d = dom[k]
        domain = "hot0" if d < 10 else "hot1" if d < 18 else "hot2" if d < 25 else f"src{d % 16}"
        page_id = base + int(i)
        url = f"https://{domain}.example.com/doc/{page_id}"
        text = " ".join(bodies[i])
        ids.append(page_id)
        urls.append(url)
        texts.append(text)
        htmls.append(build_html(url, f"doc {page_id}", text, str(langs[k])))
    table = pa.table({
        "page_id": pa.array(ids, pa.int64()),
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })
    _write_parts(table, path, n_files)
    return {"pages": n, "html_bytes": int(sum(len(h) for h in htmls)), "files": n_files,
            "dup_share": dup_share, "edited_copies": n_dup - len(exact),
            "exact_copies": len(exact), "exact": exact}


# -- tabular batches (kg_serve) ---------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NULL_PRIORITY_SHARE = 0.1

# one row per order, joined with its customer; column names are the class
# labels the refactor model maps them to
TABULAR_COLUMNS = ["Order", "Customer", "Priority"]


def customer_label(seed: int, c: int) -> str:
    return f"C{seed * ID_STRIDE + c}"


class Tabular:
    """TPC-H-shaped customer/orders key space and its seeded batches.

    The key space holds ``n_orders`` orders over ``n_customers`` customers.
    A seeded hash (a permutation keyed by the seed) orders the keys: the
    first ``base_rows`` form the pre-built store's batch, and batch ``b``
    takes ``overlap * batch_rows`` rows already in the base plus fresh rows
    from the next unused slice, so the share of offered rows already
    stored is fixed by construction."""

    def __init__(self, seed: int, n_orders: int, n_customers: int,
                 base_rows: int, batch_rows: int, overlap: float = 0.5):
        rng = np.random.default_rng([seed, 2])
        self.seed = seed
        self.order_keys = seed * ID_STRIDE + rng.permutation(n_orders)
        self.cust_of = rng.integers(0, n_customers, n_orders)
        # a share of orders carries no priority: no Priority node or edge
        self.priority = np.where(rng.random(n_orders) < NULL_PRIORITY_SHARE, -1,
                                 rng.integers(0, len(PRIORITIES), n_orders))
        self.base_rows = base_rows
        self.batch_rows = batch_rows
        self.n_old = int(round(overlap * batch_rows))
        self.overlap = overlap
        if base_rows + (batch_rows - self.n_old) * 64 > n_orders:
            raise ValueError("key space too small for 64 fresh batches")

    def frame(self, idx: np.ndarray) -> dict:
        return {
            "Order": [f"O{k}" for k in self.order_keys[idx]],
            "Customer": [customer_label(self.seed, c) for c in self.cust_of[idx]],
            "Priority": [PRIORITIES[p] if p >= 0 else None for p in self.priority[idx]],
        }

    def base_index(self) -> np.ndarray:
        return np.arange(self.base_rows)

    def batch_index(self, b: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 3, b])
        old = rng.choice(self.base_rows, self.n_old, replace=False)
        n_new = self.batch_rows - self.n_old
        start = self.base_rows + (b % 64) * n_new
        return np.concatenate([old, np.arange(start, start + n_new)])

    def write(self, idx: np.ndarray, path: str, n_files: int) -> None:
        _write_parts(pa.table(self.frame(idx), schema=pa.schema(
            [(c, pa.string()) for c in TABULAR_COLUMNS])), path, n_files)

    def prioritized_orders(self, idx: np.ndarray) -> set[tuple[str, str]]:
        """(order, priority) pairs of the orders that carry a priority."""
        f = self.frame(idx)
        return {(o, p) for o, p in zip(f["Order"], f["Priority"]) if p is not None}
