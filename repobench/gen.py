"""Seeded input generators for the benchmark workloads.

Every generator takes the seed (through a ``numpy.random.Generator``)
and returns plain data: par text, page rows, point rows, polygon rings.
The library under test only ever sees these outputs.  Each generator
also returns what it knows about its output (status class per page,
hot cells), computed here with independent integer lattice arithmetic,
so the checks never ask the library what the right answer is.

Lattice arithmetic (JGD mesh, unit 5): a node's latitude index is
``a = 120 * lat`` and its longitude index ``b = 80 * (lon - 100)``,
both integers and multiples of 5.  The 8-digit meshcode is
``(a//80 * 100 + b//80) * 10^4 + ((a%80)//10 * 10 + (b%80)//10) * 100
+ (a%10 * 10 + b%10)``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STEP = 5  # unit-5 (SemiDynaEXE) lattice step, in 1/120 deg lat and 1/80 deg lon

# status classes of a generated page (kernel status codes; MALFORMED
# pages never reach the kernel: validate() quarantines them)
OK, OUT_OF_BOUNDS, PARAM_NOT_FOUND, MALFORMED = 0, 1, 2, -1
PAGE_SHARES = {OK: 0.86, PARAM_NOT_FOUND: 0.06, OUT_OF_BOUNDS: 0.04, MALFORMED: 0.04}

_WORDS = [
    "tokyo", "osaka", "kyoto", "mesh", "grid", "geodetic", "datum", "river",
    "station", "shrine", "park", "harbor", "東京", "大阪", "測地", "座標",
    "crawl", "page", "survey", "benchmark", "nagoya", "sapporo", "島", "山",
]


def meshcode(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Meshcode of lattice nodes (a, b) — see the module docstring."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    return ((a // 80 * 100 + b // 80) * 10_000
            + ((a % 80) // 10 * 10 + (b % 80) // 10) * 100
            + (a % 10 * 10 + b % 10))


class Lattice:
    """Node lattice over [lat0, lat1] x [lon0, lon1] with optional holes."""

    def __init__(self, lat0: float, lat1: float, lon0: float, lon1: float):
        self.a0, self.a1 = int(round(120 * lat0)), int(round(120 * lat1))
        self.b0, self.b1 = int(round(80 * (lon0 - 100))), int(round(80 * (lon1 - 100)))
        self.ni = (self.a1 - self.a0) // STEP + 1
        self.nj = (self.b1 - self.b0) // STEP + 1
        self.present = np.ones((self.ni, self.nj), dtype=bool)

    def punch_holes(self, rng: np.random.Generator, n_holes: int, share: float) -> None:
        """Remove nodes inside ``n_holes`` seeded elliptic "sea" patches
        whose areas add up to about ``share`` of the lattice."""
        ii, jj = np.meshgrid(np.arange(self.ni), np.arange(self.nj), indexing="ij")
        area = share * self.ni * self.nj / n_holes
        for _ in range(n_holes):
            ci, cj = rng.uniform(0, self.ni), rng.uniform(0, self.nj)
            aspect = rng.uniform(0.5, 2.0)
            ri = np.sqrt(area * aspect / np.pi)
            rj = np.sqrt(area / aspect / np.pi)
            self.present &= ((ii - ci) / ri) ** 2 + ((jj - cj) / rj) ** 2 > 1.0

    def nodes(self):
        """(a, b) index arrays of the present nodes."""
        i, j = np.nonzero(self.present)
        return self.a0 + i * STEP, self.b0 + j * STEP

    def cell_complete(self, i: np.ndarray, j: np.ndarray) -> np.ndarray:
        """True where all four corners of cell (i, j) are present."""
        p = self.present
        return p[i, j] & p[i + 1, j] & p[i, j + 1] & p[i + 1, j + 1]

    def sample_cells(self, rng: np.random.Generator, n: int, complete: bool):
        """``n`` random cells (i, j) whose corner set is complete (or not)."""
        out_i, out_j, have = [], [], 0
        while have < n:
            i = rng.integers(0, self.ni - 1, size=4 * n + 64)
            j = rng.integers(0, self.nj - 1, size=4 * n + 64)
            keep = self.cell_complete(i, j) == complete
            out_i.append(i[keep])
            out_j.append(j[keep])
            have += int(keep.sum())
        return np.concatenate(out_i)[:n], np.concatenate(out_j)[:n]

    def points_in_cells(self, rng: np.random.Generator, i: np.ndarray, j: np.ndarray):
        """One point per cell, kept 10% of a cell away from its edges, so
        a sub-arcsecond correction never moves it to another cell."""
        fy = rng.uniform(0.1, 0.9, size=i.shape[0])
        fx = rng.uniform(0.1, 0.9, size=i.shape[0])
        lat = (self.a0 + (i + fy) * STEP) / 120.0
        lon = 100.0 + (self.b0 + (j + fx) * STEP) / 80.0
        return lat, lon


def par_text(rng: np.random.Generator, lattice: Lattice) -> str:
    """SemiDynaEXE par text (16 header lines; meshcode at 0..8 and
    three 9-wide fields at 9, 19, 29) for the lattice's present nodes.
    Corrections are a smooth field (amplitude ~0.07", 0.1 m) plus
    node noise (5e-4", 5e-3 m): SemiDynaEXE magnitudes, where adjacent
    nodes differ by well under a thousandth of an arcsecond."""
    a, b = lattice.nodes()
    lat, lon = a / 120.0, 100.0 + b / 80.0
    dlat = 0.05 * np.sin(lat * 0.7) + 0.02 * np.cos(lon * 0.3) + rng.normal(0.0, 5e-4, a.size)
    dlon = 0.05 * np.cos(lon * 0.5) + 0.02 * np.sin(lat * 0.4) + rng.normal(0.0, 5e-4, a.size)
    dalt = 0.1 * np.sin(lat + lon) + rng.normal(0.0, 5e-3, a.size)
    header = ["JGD2011 SemiDynaEXE benchmark grid"] + ["#"] * 14 + ["MESHCODE dB(sec) dL(sec) dH(m)"]
    rows = [f"{c:08d} {x:9.5f} {y:9.5f} {z:9.5f}"
            for c, x, y, z in zip(meshcode(a, b).tolist(), dlat.tolist(),
                                  dlon.tolist(), dalt.tolist())]
    return "\n".join(header + rows) + "\n"


def nationwide_lattice(rng: np.random.Generator) -> Lattice:
    """24-46 N x 122-148 E (~2.2e5 unit-5 nodes) with ~8% sea holes."""
    lat = Lattice(24.0, 46.0, 122.0, 148.0)
    lat.punch_holes(rng, n_holes=40, share=0.08)
    return lat


def regional_lattice() -> Lattice:
    """34-36.5 N x 135-140.5 E: ~5.4e3 nodes, no holes."""
    return Lattice(34.0, 36.5, 135.0, 140.5)


def page_body(rng: np.random.Generator, n: int) -> list[str]:
    """Seeded body texts: 6..14 words, ASCII and Japanese, no markup."""
    lens = rng.integers(6, 15, size=n)
    words = rng.integers(0, len(_WORDS), size=int(lens.sum()))
    out, k = [], 0
    for ln in lens.tolist():
        out.append(" ".join(_WORDS[w] for w in words[k:k + ln].tolist()))
        k += ln
    return out


def pages(rng: np.random.Generator, lattice: Lattice, n: int, seed: int) -> dict:
    """Page rows (url, warc_ts, html, text, lang) plus the expected
    status class per url.  Classes and shares: PAGE_SHARES."""
    cls = rng.choice(list(PAGE_SHARES), size=n, p=list(PAGE_SHARES.values()))
    lat = np.zeros(n)
    lon = np.zeros(n)
    m = cls == OK
    lat[m], lon[m] = lattice.points_in_cells(rng, *lattice.sample_cells(rng, int(m.sum()), True))
    # parameter not found: half in cells touching a sea hole, half in the
    # mesh domain but outside the grid's coverage (15-20 N, 150-170 E)
    m = np.nonzero(cls == PARAM_NOT_FOUND)[0]
    hole, far = m[: m.size // 2], m[m.size // 2:]
    lat[hole], lon[hole] = lattice.points_in_cells(
        rng, *lattice.sample_cells(rng, hole.size, False))
    lat[far] = rng.uniform(15.0, 20.0, far.size)
    lon[far] = rng.uniform(150.0, 170.0, far.size)
    # out of the mesh domain, but a valid point (negative latitude)
    m = cls == OUT_OF_BOUNDS
    lat[m] = rng.uniform(-50.0, -1.0, int(m.sum()))
    lon[m] = rng.uniform(122.0, 148.0, int(m.sum()))
    # malformed geotags: unparsable, or a latitude beyond 90
    m = np.nonzero(cls == MALFORMED)[0]
    lat[m] = rng.uniform(91.0, 120.0, m.size)
    lon[m] = rng.uniform(122.0, 148.0, m.size)
    garbage = set(m[::2].tolist())

    text = page_body(rng, n)
    urls, html = [], []
    for i, (la, lo, body) in enumerate(zip(lat.tolist(), lon.tolist(), text)):
        urls.append(f"https://example.jp/s{seed}/p{i:09d}")
        geo = "unknown;unknown" if i in garbage else f"{la!r};{lo!r}"
        html.append(f'<html><head><meta name="geo.position" content="{geo}">'
                    f"</head><body>{body}</body></html>".encode())
    langs = np.array(["ja", "en", "ja", "ja", "es"])[rng.integers(0, 5, n)]
    return {
        "url": urls,
        "warc_ts": np.datetime64("2023-01-01T00:00:00", "us")
        + np.arange(n, dtype=np.int64) * np.timedelta64(1_000_003, "us"),
        "html": html,
        "text": text,
        "lang": langs.tolist(),
        "cls": cls,
        "lat": lat,
        "lon": lon,
    }


def write_pages(pg: dict, path: str, n_files: int) -> None:
    """Write the page table as ``n_files`` parquet files (so a scan has
    more than one split)."""
    n = len(pg["url"])
    table = pa.table({
        "url": pa.array(pg["url"], pa.string()),
        "warc_ts": pa.array(pg["warc_ts"], pa.timestamp("us")),
        "html": pa.array(pg["html"], pa.binary()),
        "text": pa.array(pg["text"], pa.string()),
        "lang": pa.array(pg["lang"], pa.string()),
    })
    write_split(table, path, n_files, n)


def write_split(table: pa.Table, path: str, n_files: int, n: int) -> None:
    import os

    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for k in range(n_files):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{k:03d}.parquet")


# prefecture_join: two dense 5-km cells (Tokyo- and Osaka-style) and the
# share of all points that lands in each
HOT_CENTERS = ((35.68, 139.76), (34.69, 135.50))
HOT_SHARES = (0.20, 0.15)


def hot_cells(lattice: Lattice):
    """(i, j) lattice cells holding the HOT_CENTERS."""
    return [((int(120 * la) - lattice.a0) // STEP, (int(80 * (lo - 100)) - lattice.b0) // STEP)
            for la, lo in HOT_CENTERS]


def points(rng: np.random.Generator, lattice: Lattice, n: int) -> dict:
    """(pkey, lat, lon) skewed into the hot cells; the rest uniform over
    the lattice's cells.  All cells are complete, so every point is OK."""
    n_hot = [int(s * n) for s in HOT_SHARES]
    n_rest = n - sum(n_hot)
    ci = [rng.integers(0, lattice.ni - 1, n_rest)]
    cj = [rng.integers(0, lattice.nj - 1, n_rest)]
    for (hi, hj), k in zip(hot_cells(lattice), n_hot):
        ci.append(np.full(k, hi))
        cj.append(np.full(k, hj))
    i, j = np.concatenate(ci), np.concatenate(cj)
    order = rng.permutation(n)
    lat, lon = lattice.points_in_cells(rng, i[order], j[order])
    return {"pkey": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}


# prefecture polygons: a POLY_ROWS x POLY_COLS tile layout, one star of
# POLY_VERTICES vertices per tile
POLY_ROWS, POLY_COLS, POLY_VERTICES = 2, 3, 8


def polygons(rng: np.random.Generator, lattice: Lattice) -> list[tuple[str, list[tuple[float, float]]]]:
    """Concave star-shaped "prefectures", one per tile of the
    POLY_ROWS x POLY_COLS layout over the lattice.  The tiles holding the
    hot cells centre their polygon on the hot cell.  Every polygon has
    POLY_VERTICES vertices on alternating outer and inner radii, so the
    edge count (and with it the cost of an exact containment test) is
    the same for every seed; the seed moves the vertices."""
    rows, cols, m = POLY_ROWS, POLY_COLS, POLY_VERTICES
    lat0, lat1 = lattice.a0 / 120.0, lattice.a1 / 120.0
    lon0, lon1 = 100 + lattice.b0 / 80.0, 100 + lattice.b1 / 80.0
    th, tw = (lat1 - lat0) / rows, (lon1 - lon0) / cols
    hot = {}
    for la, lo in HOT_CENTERS:
        a = (int(120 * la) // STEP) * STEP
        b = (int(80 * (lo - 100)) // STEP) * STEP
        hot[(int((la - lat0) / th), int((lo - lon0) / tw))] = (
            (a + STEP / 2) / 120.0, 100 + (b + STEP / 2) / 80.0)
    out = []
    for ti in range(rows):
        for tj in range(cols):
            cy, cx = hot.get((ti, tj), (lat0 + (ti + 0.5) * th, lon0 + (tj + 0.5) * tw))
            ang = (np.arange(m) + rng.uniform(-0.3, 0.3, m)) * (2 * np.pi / m)
            rad = np.where(np.arange(m) % 2 == 0, rng.uniform(0.8, 1.0, m),
                           rng.uniform(0.4, 0.6, m))
            ring = [(float(cy + 0.45 * th * r * np.sin(t)), float(cx + 0.45 * tw * r * np.cos(t)))
                    for r, t in zip(rad, ang)]
            out.append((f"pref_{len(out):02d}", ring))
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars) corpus with seeded
    near-duplicate families (a base text with one word swapped)."""
    base = page_body(rng, n)
    for k in range(0, n, 4):  # every 4th doc is a near-copy of an earlier one
        if k:
            src = base[int(rng.integers(0, k))].split(" ")
            src[int(rng.integers(0, len(src)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            base[k] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(base, pa.string()),
        "lang": pa.array(["ja"] * n, pa.string()),
        "source": pa.array([f"src{k % 20}" for k in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in base], pa.int64()),
    })


def crossing_inside(lat: np.ndarray, lon: np.ndarray, ring) -> np.ndarray:
    """Even-odd (crossing-number) containment, written independently of
    the library: edge (y1,x1)-(y2,x2) counts when it straddles the
    point's latitude and its crossing longitude is east of the point."""
    inside = np.zeros(lat.shape[0], dtype=bool)
    n = len(ring)
    for k in range(n):
        y1, x1 = ring[k]
        y2, x2 = ring[(k + 1) % n]
        if y1 == y2:
            continue
        straddle = (y1 > lat) != (y2 > lat)
        inside ^= straddle & (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
    return inside
