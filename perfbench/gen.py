"""Seeded benchmark inputs, derived from the fixtures in ``fixtures/``.

``generate(out_dir, seed)`` writes one ``sf_dir`` the engine reads exactly as
it reads the test data (``<table>.parquet`` per table), plus the listing
batches of the ingest DAG under ``listings/``.  Every transform keeps the
shape the queries depend on, so a new seed moves hashes, file layouts and
keys but not the amount or kind of work:

- documents: each word is replaced through a seeded permutation of the
  fixture vocabulary *within words of the same length*; the Gopher stop
  words stay fixed.  Character counts, word-length statistics, Gopher
  outcomes, n-gram structure and every pairwise Jaccard similarity survive,
  while MinHash/SimHash signatures change.
- embeddings: a seeded orthogonal rotation (cosine and L2 geometry kept).
- star schema and events: seeded row order, split evenly over
  ``STAR_FILES`` files per table.
- listings: three sources, ``DAYS`` daily batches with ``CHURN`` of each
  source's listings replaced per day, seeded POIs and zone tiles.

Only pyarrow and numpy are used, so generation needs no Spark session.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = Path(__file__).resolve().parent / "fixtures"
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
)
STAR_FILES = 4
# Gopher quality filter's stop-word set (operators/quality.py): permuting one
# of these would change which documents pass the filter.
KEEP_WORDS = frozenset(("the", "be", "to", "of", "and", "that", "have", "with"))
WORD = re.compile(r"[A-Za-z]+")

SOURCES = ("av", "omada", "royal_park")
DAYS = 2
CHURN = 0.10
LISTINGS_PER_SOURCE = 500
N_POIS = 2000
# planar box of plans/fixtures.py (origin -16 km, 32 km side); the listings
# pipeline maps lat/lon onto it as 1e-5 degree per metre
LAT0, LON0, SPAN_DEG = 53.4, -113.7, 0.32
GRID_ORIGIN, TILE_M, TILES = -16000.0, 4000.0, 8


def vocabulary_map(texts: list[str], rng: np.random.Generator) -> dict[str, str]:
    """Seeded bijection of the vocabulary onto itself that keeps word length
    and leaves ``KEEP_WORDS`` fixed; never the identity when a length class
    has two or more words."""
    words = sorted({w for t in texts for w in WORD.findall(t)} - KEEP_WORDS)
    classes: dict[int, list[str]] = {}
    for w in words:
        classes.setdefault(len(w), []).append(w)
    mapping: dict[str, str] = {}
    for _, cls in sorted(classes.items()):
        perm = [cls[i] for i in rng.permutation(len(cls))]
        mapping.update(zip(cls, perm))
    if all(k == v for k, v in mapping.items()):
        largest = max(classes.values(), key=len)
        if len(largest) > 1:
            mapping.update(zip(largest, largest[1:] + largest[:1]))
    return mapping


def _documents(rng: np.random.Generator) -> pa.Table:
    t = pq.read_table(FIXTURES / "documents.parquet")
    texts = t.column("text").to_pylist()
    mapping = vocabulary_map(texts, rng)
    out = [WORD.sub(lambda m: mapping.get(m.group(0), m.group(0)), s) for s in texts]
    return t.set_column(t.schema.get_field_index("text"), "text", pa.array(out, pa.string()))


def _embeddings(rng: np.random.Generator) -> pa.Table:
    t = pq.read_table(FIXTURES / "embeddings.parquet")
    col = t.column("embedding")
    vecs = np.array(col.to_pylist(), dtype=np.float64)
    q, r = np.linalg.qr(rng.standard_normal((vecs.shape[1], vecs.shape[1])))
    q *= np.sign(np.diag(r))  # Haar-distributed rotation
    rotated = (vecs @ q).astype(np.float32)
    arr = pa.array(list(rotated), type=col.type)
    return t.set_column(t.schema.get_field_index("embedding"), "embedding", arr)


def _write_split(t: pa.Table, path: Path, rng: np.random.Generator) -> None:
    """Seeded row order, split evenly over STAR_FILES part files."""
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    path.mkdir(parents=True)
    for i, idx in enumerate(np.array_split(np.arange(t.num_rows), STAR_FILES)):
        pq.write_table(t.take(pa.array(idx)), path / f"part-{i:05d}.parquet")


def _coords(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    lat = LAT0 + rng.random(n) * SPAN_DEG
    lon = LON0 + rng.random(n) * SPAN_DEG
    return [f"{v:.6f}" for v in lat], [f"{v:.6f}" for v in lon]


def _source_rows(source: str, ids: np.ndarray, attrs: dict) -> pa.Table:
    lat = [attrs["lat"][i] for i in ids]
    lon = [attrs["lon"][i] for i in ids]
    price = [str(int(attrs["price"][i])) for i in ids]
    flag = attrs["flag"][ids]
    if source == "av":
        return pa.table(
            {
                "name": [f"AV Property {i}" for i in ids],
                "city": ["Calgary" if f < 0.2 else "Edmonton" for f in flag],
                "status": [
                    "closed" if f > 0.9 else ("escrow" if f > 0.6 else "active")
                    for f in flag
                ],
                "location": [{"lat": a, "lng": b} for a, b in zip(lat, lon)],
                "external_url": [f"https://av.example/p/{i}" for i in ids],
                "image_path": [f"/img/{i}.jpg" for i in ids],
                "transaction": ["For Sale" if i % 2 == 0 else "For Lease" for i in ids],
                "address": [f"{100 + i} Jasper Ave" for i in ids],
                "price": price,
            }
        )
    if source == "omada":
        return pa.table(
            {
                "title": [{"rendered": f"Omada Listing {i}"} for i in ids],
                "address": [f"{100 + i} Whyte Ave" for i in ids],
                "city": ["Edmonton"] * len(ids),
                "status": ["draft" if f > 0.9 else "publish" for f in flag],
                "_listing_sqft_min": [str(500 + i % 900) if i % 3 != 2 else None for i in ids],
                "_listing_sqft_max": [str(900 + i % 900) if i % 3 == 0 else None for i in ids],
                "_listing_acre_min": [str(1 + i % 4) if i % 3 == 2 else None for i in ids],
                "_listing_acre_max": pa.nulls(len(ids), pa.string()),
                "transaction": [
                    ("Sale or Lease", "Sublease", "For Lease", "For Lease")[i % 4] for i in ids
                ],
                "latitude": lat,
                "longitude": lon,
            }
        )
    return pa.table(
        {
            "building": [f"RP Building {i}" for i in ids],
            "address": [f"{100 + i} 104 St NW" for i in ids],
            "city": ["Edmonton"] * len(ids),
            "latitude": lat,
            "longitude": lon,
            "transaction": ["For Lease"] * len(ids),
            "price": price,
        }
    )


def _listings(out: Path, rng: np.random.Generator, n: int) -> dict[str, int]:
    rows: dict[str, int] = {}
    step = int(round(n * CHURN))
    total = n + step * (DAYS - 1)
    for source in SOURCES:
        lat, lon = _coords(rng, total)
        attrs = {
            "lat": lat,
            "lon": lon,
            "price": 1000 + rng.integers(0, 4000, total),
            "flag": rng.random(total),
        }
        alive = np.arange(n)
        for day in range(DAYS):
            if day:
                dropped = rng.choice(len(alive), step, replace=False)
                born = np.arange(n + step * (day - 1), n + step * day)
                alive = np.concatenate([np.delete(alive, dropped), born])
            t = _source_rows(source, np.sort(alive), attrs)
            d = out / "listings" / f"day{day}"
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(t, d / f"{source}.parquet")
            rows["listings"] = rows.get("listings", 0) + t.num_rows
    kinds = rng.integers(0, 5, N_POIS)
    types = ("shop", "cafe", "school", "library", "place_of_worship")
    pois = pa.table(
        {
            "poi_id": pa.array(np.arange(N_POIS), pa.int64()),
            "kind": ["business" if k < 2 else "amenity" for k in kinds],
            "name": [f"{types[k]}-{i}" for i, k in enumerate(kinds)],
            "x": GRID_ORIGIN + rng.random(N_POIS) * TILE_M * TILES,
            "y": GRID_ORIGIN + rng.random(N_POIS) * TILE_M * TILES,
            "poi_type": [types[k] for k in kinds],
        }
    )
    pq.write_table(pois, out / "listings" / "pois.parquet")
    zones = {"zoning": [], "description": [], "ring": []}
    # two thirds of the tiles, so a third of the listings get no zone
    for tile in np.sort(rng.choice(TILES * TILES, TILES * TILES * 2 // 3, replace=False)):
        x0 = GRID_ORIGIN + (tile // TILES) * TILE_M
        y0 = GRID_ORIGIN + (tile % TILES) * TILE_M
        zones["zoning"].append(f"Z{tile:03d}")
        zones["description"].append(f"zone {tile} description")
        zones["ring"].append(
            [
                {"x": x0, "y": y0},
                {"x": x0 + TILE_M, "y": y0},
                {"x": x0 + TILE_M, "y": y0 + TILE_M},
                {"x": x0, "y": y0 + TILE_M},
            ]
        )
    pq.write_table(pa.table(zones), out / "listings" / "zones.parquet")
    rows["pois"] = N_POIS
    rows["zones"] = len(zones["zoning"])
    return rows


def generate(out_dir: str | os.PathLike, seed: int) -> dict[str, int]:
    """Write every input for ``seed`` under ``out_dir``; return row counts.

    The directory is built beside its final name and renamed into place, so
    a reader never sees a half-written input set; an existing complete
    directory is reused."""
    out = Path(out_dir)
    counts_file = out / "ROWS"
    if counts_file.exists():
        return {
            k: int(v)
            for k, v in (line.split() for line in counts_file.read_text().splitlines())
        }
    tmp = out.with_name(out.name + ".partial")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}
    for name in STAR_TABLES:
        t = pq.read_table(FIXTURES / f"{name}.parquet")
        _write_split(t, tmp / f"{name}.parquet", rng)
        rows[name] = t.num_rows
    for name, table in (("documents", _documents(rng)), ("embeddings", _embeddings(rng))):
        pq.write_table(table, tmp / f"{name}.parquet")
        rows[name] = table.num_rows
    rows.update(_listings(tmp, rng, LISTINGS_PER_SOURCE))
    (tmp / "ROWS").write_text("".join(f"{k} {v}\n" for k, v in rows.items()))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return rows
