"""Seeded input tables, generated by the benchmark and written as parquet.

The engine receives only these files: its own generators are not used, so
a change to networkit_spark.generators or sources.pages cannot change what
the benchmark measures, and no Spark work is spent before the warm-up.
The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 8  # parquet files per table: the engine reads them as parallel splits


def _write(table: pa.Table, path: str):
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _url(i: int) -> str:
    return f"https://site{i % 97}.example/page{i}"


def write_pages(path: str, seed: int, n_pages: int, out_links: int):
    """pages(url, warc_ts, html, text, lang): page i links to out_links
    uniformly drawn pages (self-links dropped, repeats kept); text is the
    title, anchor texts and paragraph joined by newlines."""
    rng = np.random.default_rng(seed)
    targets = rng.integers(0, n_pages, (n_pages, out_links))
    words = rng.integers(0, 1000, n_pages)
    urls, html, text = [], [], []
    for i in range(n_pages):
        links = [int(t) for t in targets[i] if t != i]
        title = f"t{i}"
        para = f"filler words number {words[i]} for page {i}"
        anchors = "".join(f'<a href="{_url(t)}">anchor {t}</a>' for t in links)
        urls.append(_url(i))
        html.append(f"<html><head><title>{title}</title></head><body>{anchors}"
                    f"<p>{para}</p></body></html>".encode())
        text.append("\n".join([title] + [f"anchor {t}" for t in links] + [para]))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_pages)]
    ts = np.datetime64("2025-01-01T00:00:00", "us") + np.arange(n_pages) * np.timedelta64(1, "s")
    _write(pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs, pa.string()),
    }), path)


def rmat_arcs(seed: int, scale: int, edge_factor: int,
              a: float = 0.57, b: float = 0.19, c: float = 0.19
              ) -> tuple[np.ndarray, np.ndarray]:
    """R-MAT (Chakrabarti et al., SDM'04) over 2^scale ids, edge_factor x
    2^scale draws, self-loops and repeated arcs removed, sorted."""
    rng = np.random.default_rng(seed)
    m = edge_factor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for _ in range(scale):
        r = rng.random(m)
        src = 2 * src + (r >= a + b)
        dst = 2 * dst + (((r >= a) & (r < a + b)) | (r >= a + b + c))
    keep = src != dst
    key = np.unique((src[keep] << scale) | dst[keep])
    return key >> scale, key & ((1 << scale) - 1)


def write_arcs(path: str, src: np.ndarray, dst: np.ndarray):
    _write(pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}), path)
