"""Seeded input generation for the benchmark workloads.

Every coordinate comes from the integer LCG formulas of
``hope_graph_builder_spark.synth.xy_fragments``, evaluated here in numpy
with the same IEEE operations (integer LCG, ``%``, ``/ 10.0``, ``sqrt``),
so the DuckDB oracle twins in ``hope_graph_builder_spark.oracle`` rebuild
the same rows from the ids alone.

Seed semantics: the seed picks ``base_id(seed)``, from which each
workload derives its contiguous id ranges; the data is a pure function of
the ids, so every position, hotspot membership (id % 10 == 0) and text
moves with the seed. Seeds are taken modulo ``SEED_SLOTS`` to keep
``4 * id * A1`` inside int64.

Inputs are written as parquet with pyarrow, outside the engine: the
engine only ever sees the generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb

SEED_SLOTS = 1000
ID_STRIDE = 2_000_003
PARQUET_PARTS = 8

WORDS = np.array(
    "noise road tram metro train street edge green view park tree canopy "
    "city harbour bridge river bus stop cycle lane walk path square market "
    "school library station airport forest lake shore island hill valley "
    "north south east west centre suburb block corner avenue boulevard".split()
)
LANGS = np.array(["en", "fi", "sv", "de"])
TEXT_WORDS = 48  # ~300 bytes of text per page


def base_id(seed: int) -> int:
    return 1 + (seed % SEED_SLOTS) * ID_STRIDE


def ids(start: int, n: int) -> np.ndarray:
    return np.arange(start, start + n, dtype=np.int64)


def _lcg(i: np.ndarray, a: int, c: int) -> np.ndarray:
    return (i * a + c) % synth.MOD


def xy(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of synth.xy_fragments x / y (10 % hotspot square)."""
    hot = i % 10 == 0
    h1, h2 = _lcg(i, synth.A1, synth.C1), _lcg(i, synth.A2, synth.C2)
    x = np.where(hot, synth.HOTSPOT + (h1 % 1000) / 10.0, 100.0 + (h1 % 998000) / 10.0)
    y = np.where(hot, synth.HOTSPOT + (h2 % 1000) / 10.0, 100.0 + (h2 % 998000) / 10.0)
    return x, y


def edges_table(i: np.ndarray) -> pa.Table:
    """Twin of synth.page_edges_dense: 2-vertex edges keyed by id."""
    x, y = xy(i)
    dx = (_lcg(i, synth.A3, synth.C3) % 201 - 100) / 2.0
    dy = (_lcg(i, synth.A4, synth.C4) % 201 - 100) / 2.0
    return pa.table({
        "edge_id": i, "x1": x, "y1": y, "x2": x + dx, "y2": y + dy,
        "length": np.sqrt(dx * dx + dy * dy),
    })


def gvi_points_table(doc_ids: np.ndarray) -> pa.Table:
    """Twin of synth.gvi_points: 4 GVI samples per document id."""
    g = (doc_ids[:, None] * 4 + np.arange(4, dtype=np.int64)).ravel()
    x, y = xy(g)
    raw = (_lcg(g, synth.A3, synth.C1) % 1001) / 10.0
    return pa.table({"gvi_id": g, "x": x, "y": y, "gvi_raw": raw})


def pages_table(i: np.ndarray) -> pa.Table:
    """Pages (url, warc_ts, html, text, lang) plus the page point
    (doc_id, x, y) that synth.page_points derives from the id."""
    x, y = xy(i)
    k = np.arange(TEXT_WORDS, dtype=np.int64)
    widx = _lcg(i[:, None] * TEXT_WORDS + k, synth.A3, synth.C3) % len(WORDS)
    words = WORDS[widx]
    text = [" ".join(row) for row in words]
    lang = LANGS[i % len(LANGS)]
    url = [f"https://example.org/{lg}/{d}" for lg, d in zip(lang, i)]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + i.astype("timedelta64[s]")
    return pa.table({
        "doc_id": i,
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array([t.encode() for t in text], pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "x": x,
        "y": y,
    })


def noise_polys_wkb_table() -> pa.Table:
    """The noise layer grid (synth._layer_grid_np) encoded as general
    WKB polygons with bbox columns — the shape pip_join_wkb takes."""
    g = synth._layer_grid_np()
    geom = [
        polygon_to_wkb(np.array([[a, b], [c, b], [c, d], [a, d]], dtype=np.float64))
        for a, b, c, d in zip(g.minx, g.miny, g.maxx, g.maxy)
    ]
    return pa.table({
        "layer": pa.array(g.layer.to_numpy(), pa.string()),
        "poly_id": g.poly_id.to_numpy(np.int64),
        "geom": pa.array(geom, pa.binary()),
        "minx": g.minx.to_numpy(np.float64), "miny": g.miny.to_numpy(np.float64),
        "maxx": g.maxx.to_numpy(np.float64), "maxy": g.maxy.to_numpy(np.float64),
        "db": g.db.to_numpy(np.int64),
    })


def rect_matches(px: np.ndarray, py: np.ndarray, grid) -> int:
    """Number of (point, rectangle) pairs with the point inside the
    rectangle, counted in numpy from the generated inputs alone. The
    boundary rule is the ray-cast refine's: half-open, ``min <= v < max``
    on both axes."""
    order = np.argsort(px, kind="stable")
    xs, ys = px[order], py[order]
    lo = np.searchsorted(xs, grid.minx.to_numpy(), "left")
    hi = np.searchsorted(xs, grid.maxx.to_numpy(), "left")
    total = 0
    for a, b, y0, y1 in zip(lo, hi, grid.miny.to_numpy(), grid.maxy.to_numpy()):
        v = ys[a:b]
        total += int(np.count_nonzero((v >= y0) & (v < y1)))
    return total


def write_parquet(table: pa.Table, path: str, parts: int = PARQUET_PARTS) -> int:
    """Write ``table`` as ``parts`` files under ``path``; returns bytes."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step), os.path.join(path, f"part-{p:03d}.parquet"))
    return tree_bytes(path)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tree_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )
