"""Seeded input generators. The program under test only ever sees the
tables these write (parquet under the run's work dir).

- ``crawl``: a power-law crawl. Pages sit on hosts of 40 pages; each
  page links mostly inside its host (triangles, communities), the rest
  preferentially to a few hub pages (in-degree skew) or to pages never
  crawled (dangling vertices); every 20th host is an island of small
  stars. The hub exponent and the size are chosen so PageRank meets
  tol 1e-6 after the same number of iterations on each of 60 seeds tried
  (9, with the default three iterations per convergence check).
- ``storm``: a stack of dense gridded slices holding Gaussian blobs
  that are born, drift, merge, fork and die, on a faint noise floor.

URLs are fixed-width so Spark's ``xxhash64`` of every URL (the vertex
id ``edges.url_id`` assigns) can be recomputed here, vectorized, for
the oracles.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOST_PAGES = 40

# -- XXH64 (seed 42, Spark's xxhash64) over fixed-width byte rows ----------

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def xxh64_rows(rows: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of each row of a ``(n, L)`` uint8 array, as int64."""
    n, length = rows.shape
    rows = np.ascontiguousarray(rows)
    s = np.full(n, seed, dtype=np.uint64)
    pos = 0
    with np.errstate(over="ignore"):
        if length >= 32:
            v = [s + _P1 + _P2, s + _P2, s.copy(), s - _P1]
            while pos + 32 <= length:
                lanes = rows[:, pos : pos + 32].copy().view("<u8")
                v = [_round(v[i], lanes[:, i]) for i in range(4)]
                pos += 32
            h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for x in v:
                h = (h ^ _round(np.zeros_like(x), x)) * _P1 + _P4
        else:
            h = s + _P5
        h = h + np.uint64(length)
        while pos + 8 <= length:
            lane = rows[:, pos : pos + 8].copy().view("<u8")[:, 0]
            h = _rotl(h ^ _round(np.zeros_like(lane), lane), 27) * _P1 + _P4
            pos += 8
        if pos + 4 <= length:
            lane = rows[:, pos : pos + 4].copy().view("<u4")[:, 0].astype(np.uint64)
            h = _rotl(h ^ (lane * _P1), 23) * _P2 + _P3
            pos += 4
        while pos < length:
            h = _rotl(h ^ (rows[:, pos].astype(np.uint64) * _P5), 11) * _P1
            pos += 1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


# -- crawl -----------------------------------------------------------------


def _urls(n: int) -> np.ndarray:
    """Fixed-width URL bytes of pages 0..n-1, one row each."""
    ids = np.arange(n)
    text = [
        f"http://h{h:05d}.crawl.test/p{i:08d}"
        for h, i in zip(ids // HOST_PAGES, ids)
    ]
    return np.frombuffer("".join(text).encode(), dtype=np.uint8).reshape(n, -1)


def crawl_links(seed: int, n_pages: int):
    """``(src, dst, n_vertices)``: page-index link lists of a crawl of
    ``n_pages`` pages; targets ``>= n_pages`` are uncrawled pages."""
    rng = np.random.default_rng(seed)
    n_ext = n_pages // 4
    n_all = n_pages + n_ext
    # Pareto out-degrees (alpha 2.2, mean ~7.5, at most 200), 5% link-free
    deg = rng.pareto(2.2, n_pages) + 1.0
    deg = np.minimum(np.floor(deg * (8.0 / 1.83)), 200).astype(np.int64)
    deg[rng.random(n_pages) < 0.05] = 0
    src = np.repeat(np.arange(n_pages), deg)
    # every 20th host is an island: its pages link only to uncrawled
    # pages of their own and nobody links in, so the graph has many
    # small star components besides the giant one
    island = (src // HOST_PAGES) % 20 == 19
    linked = np.flatnonzero((np.arange(n_pages) // HOST_PAGES) % 20 != 19)
    kind = rng.random(len(src))
    # 60%: same host; 32%: preferential (u^1.7 favours a few hubs,
    # spread over hosts by a permutation); 8%: uncrawled pages
    host0 = (src // HOST_PAGES) * HOST_PAGES
    local = np.minimum(host0 + rng.integers(0, HOST_PAGES, len(src)), n_pages - 1)
    hubs = rng.permutation(linked)
    pref = hubs[np.floor(len(hubs) * rng.random(len(src)) ** 1.7).astype(np.int64)]
    ext = n_pages + np.floor(n_ext * rng.random(len(src)) ** 2).astype(np.int64)
    dst = np.where(kind < 0.60, local, np.where(kind < 0.92, pref, ext))
    dst[island] = n_all + np.arange(np.count_nonzero(island))
    n_all += np.count_nonzero(island)
    return src, dst, n_all


def write_crawl_pages(path: Path, seed: int, n_pages: int) -> None:
    """pages(url string, html binary): one row per crawled page."""
    src, dst, n_all = crawl_links(seed, n_pages)
    urls = _urls(n_all)
    width = urls.shape[1]
    url_str = [bytes(r).decode() for r in urls[:n_pages]]
    starts = np.searchsorted(src, np.arange(n_pages + 1))
    html = []
    for i in range(n_pages):
        links = "".join(
            f'<a href="{bytes(urls[t]).decode()}">l{k}</a>'
            for k, t in enumerate(dst[starts[i] : starts[i + 1]])
        )
        html.append(f"<html><p>page {i} of {width}</p>{links}</html>".encode())
    table = pa.table({"url": pa.array(url_str), "html": pa.array(html, pa.binary())})
    pq.write_table(table, str(path / "part-0.parquet"))


def crawl_edge_ids(seed: int, n_pages: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct ``(src, dst)`` vertex ids ``page_edges`` must produce:
    xxhash64 of both URLs, self-links dropped."""
    src, dst, n_all = crawl_links(seed, n_pages)
    ids = xxh64_rows(_urls(n_all))
    keep = src != dst
    pairs = np.unique(np.stack([ids[src[keep]], ids[dst[keep]]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


# -- storm stack -----------------------------------------------------------


def storm_grid(seed: int, n_slices: int, n_rows: int, n_cols: int) -> np.ndarray:
    """``(n_slices, n_rows, n_cols)`` float64 field of drifting blobs."""
    rng = np.random.default_rng(seed)
    area = n_rows * n_cols
    n_blobs = max(int(n_slices * area / 900), 4)
    birth = rng.integers(-4, n_slices, n_blobs)
    life = rng.integers(3, 12, n_blobs)
    r0 = rng.uniform(0, n_rows, n_blobs)
    c0 = rng.uniform(0, n_cols, n_blobs)
    vr = rng.normal(0, 0.8, n_blobs)
    vc = rng.normal(0, 1.5, n_blobs)
    sig = rng.uniform(1.6, 3.2, n_blobs)
    amp = rng.uniform(0.8, 1.6, n_blobs)
    rows = np.arange(n_rows)[:, None]
    cols = np.arange(n_cols)[None, :]
    out = np.empty((n_slices, n_rows, n_cols))
    for t in range(n_slices):
        field = rng.random((n_rows, n_cols)) * 0.12
        age = t - birth
        for b in np.flatnonzero((age >= 0) & (age < life)):
            # amplitude swells then fades, so blobs are born and die
            a = amp[b] * np.sin(np.pi * (age[b] + 0.5) / life[b])
            rr = r0[b] + vr[b] * age[b]
            cc = c0[b] + vc[b] * age[b]
            dr = rows - rr
            dc = (cols - cc + n_cols / 2) % n_cols - n_cols / 2  # periodic in col
            field = field + a * np.exp(-(dr * dr + dc * dc) / (2 * sig[b] ** 2))
        out[t] = field
    return out


def write_storm_grid(path: Path, grid: np.ndarray) -> None:
    """grid(slice_id int, row int, col int, value double), dense."""
    s, r, c = np.indices(grid.shape)
    pq.write_table(
        pa.table(
            {
                "slice_id": pa.array(s.ravel().astype(np.int32)),
                "row": pa.array(r.ravel().astype(np.int32)),
                "col": pa.array(c.ravel().astype(np.int32)),
                "value": pa.array(grid.ravel()),
            }
        ),
        str(path / "part-0.parquet"),
    )
