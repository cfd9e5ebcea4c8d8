"""Output checks, run outside the timed region.

Tiles workloads check the finished ``.mbtiles`` file:

- a digest of the ordered ``SELECT``s of ``images``, ``map`` and
  ``metadata`` (equal on every iteration of a run, and pinned at
  seed 0);
- every ``map.tile_id`` resolves to an image, and every image is used;
- every image is a PNG whose chunk CRCs hold, and a sample of them
  decodes to a canvas whose MD5 gives back its ``tile_id``;
- per-zoom tile counts equal an independent JVM count of the distinct
  tiles that hold a lit pixel, at each level of the pyramid.

``queries_mix`` checks row counts against values computed here,
without the library, and pins the rest at seed 0.
"""

from __future__ import annotations

import hashlib
import math
import sqlite3
import struct
import zlib
from typing import Dict, List

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PNG_SIG = b"\x89PNG\r\n\x1a\n"
DECODE_SAMPLE = 48
MAX_MERCATOR_LAT = 85.0511287798066


def _png_chunks(png: bytes):
    """Yield (tag, payload) for each chunk, checking every CRC."""
    if png[:8] != PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    while pos < len(png):
        if pos + 12 > len(png):
            raise ValueError("truncated PNG chunk")
        (length,) = struct.unpack(">I", png[pos:pos + 4])
        body = png[pos + 4:pos + 8 + length]
        (crc,) = struct.unpack(">I", png[pos + 8 + length:pos + 12 + length])
        if len(body) != length + 4 or zlib.crc32(body) != crc:
            raise ValueError("PNG chunk CRC mismatch")
        yield body[:4], body[4:]
        pos += 12 + length
        if body[:4] == b"IEND":
            return
    raise ValueError("PNG without IEND")


def decode_rgba(png: bytes) -> bytes:
    """Raw RGBA bytes of an 8-bit RGBA PNG (filters 0-2)."""
    idat, width, height = [], None, None
    for tag, payload in _png_chunks(png):
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB",
                                                        payload[:10])
            if (depth, ctype) != (8, 6):
                raise ValueError("not an 8-bit RGBA PNG")
        elif tag == b"IDAT":
            idat.append(payload)
    stride = width * 4
    rows = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    rows = rows.reshape(height, stride + 1)
    out = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for r in range(height):
        ftype, line = rows[r, 0], rows[r, 1:]
        if ftype == 0:
            cur = line.copy()
        elif ftype == 1:
            cur = np.cumsum(line.reshape(width, 4), axis=0,
                            dtype=np.uint64).astype(np.uint8).reshape(-1)
        elif ftype == 2:
            cur = line + prev
        else:
            raise ValueError(f"PNG filter {ftype} not handled")
        out[r] = cur
        prev = cur
    return out.tobytes()


def tile_id_of(raw: bytes) -> int:
    return int.from_bytes(hashlib.md5(raw).digest()[8:], "big",
                          signed=True)


def summarize_mbtiles(path: str) -> Dict:
    """Digest, counts and integrity figures of a written file."""
    conn = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        h = hashlib.sha256()
        n_images = png_bytes = bad_png = 0
        ids = []
        for tid, data in conn.execute(
                "SELECT tile_id, tile_data FROM images ORDER BY tile_id"):
            h.update(struct.pack("<qI", tid, len(data)))
            h.update(data)
            n_images += 1
            png_bytes += len(data)
            ids.append(tid)
            try:
                for _ in _png_chunks(data):
                    pass
            except ValueError:
                bad_png += 1
        per_zoom: Dict[int, int] = {}
        for row in conn.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_id "
                "FROM map ORDER BY 1, 2, 3"):
            h.update(struct.pack("<iqqq", *row))
            per_zoom[row[0]] = per_zoom.get(row[0], 0) + 1
        for name, value in conn.execute(
                "SELECT name, value FROM metadata ORDER BY name"):
            h.update(f"{name}\x00{value}\x00".encode())
        unresolved = conn.execute(
            "SELECT count(*) FROM map LEFT JOIN images USING (tile_id) "
            "WHERE images.tile_data IS NULL").fetchone()[0]
        unused = conn.execute(
            "SELECT count(*) FROM images WHERE tile_id NOT IN "
            "(SELECT tile_id FROM map)").fetchone()[0]
        step = max(1, n_images // DECODE_SAMPLE)
        bad_decode = 0
        for tid in ids[::step]:
            (data,) = conn.execute(
                "SELECT tile_data FROM images WHERE tile_id = ?",
                (tid,)).fetchone()
            try:
                if tile_id_of(decode_rgba(data)) != tid:
                    bad_decode += 1
            except (ValueError, zlib.error):
                bad_decode += 1
    finally:
        conn.close()
    return {"digest": h.hexdigest(), "tiles": sum(per_zoom.values()),
            "images": n_images, "png_bytes": png_bytes,
            "per_zoom": per_zoom, "unresolved": unresolved,
            "unused": unused, "bad_png": bad_png, "bad_decode": bad_decode}


def tiles_errors(summary: Dict, expected_per_zoom: Dict[int, int],
                 pinned: Dict = None) -> List[str]:
    """Everything wrong with a file summary; empty when it passes."""
    errs = []
    for key in ("unresolved", "unused", "bad_png", "bad_decode"):
        if summary[key]:
            errs.append(f"{key}={summary[key]}")
    if summary["per_zoom"] != expected_per_zoom:
        errs.append(f"per-zoom tiles {summary['per_zoom']} != "
                    f"lit ancestors {expected_per_zoom}")
    for key, want in (pinned or {}).items():
        if summary[key] != want:
            errs.append(f"{key}={summary[key]} != pinned {want}")
    return errs


def _lon_lat(url):
    """The pages' geocode (FIXTURES.md section 1), written here again."""
    lon = (F.conv(F.substring(F.md5(url), 1, 8), 16, 10).cast("long")
           / F.lit(2.0 ** 32) * F.lit(360.0) - F.lit(180.0))
    lat = (F.conv(F.substring(F.md5(url), 9, 8), 16, 10).cast("long")
           / F.lit(2.0 ** 32) * F.lit(170.1022) - F.lit(85.0511))
    return lon, lat


def lit_pixels(pages: DataFrame, z: int) -> DataFrame:
    """Distinct lit (tile x, tile y, pixel x, pixel y) at zoom ``z``
    (slippy y, top row 0), from the Web-Mercator formulas."""
    n = float(1 << z)
    lon, lat = _lon_lat(F.col("url"))
    lat = F.least(F.greatest(lat, F.lit(-MAX_MERCATOR_LAT)),
                  F.lit(MAX_MERCATOR_LAT))
    fx = (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
    rad = F.radians(lat)
    fy = ((F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
           / F.lit(math.pi)) / F.lit(2.0) * F.lit(n))
    tx = F.least(F.greatest(F.floor(fx), F.lit(0)), F.lit(n - 1))
    ty = F.least(F.greatest(F.floor(fy), F.lit(0)), F.lit(n - 1))
    px = F.least(F.greatest(F.floor((fx - tx) * 256), F.lit(0)), F.lit(255))
    py = F.least(F.greatest(F.floor((fy - ty) * 256), F.lit(0)), F.lit(255))
    return pages.select(tx.cast("long").alias("tx"),
                        ty.cast("long").alias("ty"),
                        px.cast("int").alias("px"),
                        py.cast("int").alias("py")).distinct()


def lit_ancestor_counts(pages: DataFrame, z: int) -> Dict:
    """Per-zoom count of distinct tiles above a lit pixel, plus the
    number of distinct lit pixels (the burn histogram's row count)."""
    pix = lit_pixels(pages, z)
    tiles = pix.select("tx", "ty").distinct().toPandas()
    n_pixels = pix.count()
    tx = tiles["tx"].to_numpy(np.int64)
    ty = tiles["ty"].to_numpy(np.int64)
    per_zoom = {}
    for level in range(z, -1, -1):
        shift = z - level
        keys = (tx >> shift) * (1 << level) + (ty >> shift)
        per_zoom[level] = int(np.unique(keys).size)
    return {"per_zoom": per_zoom, "pixels": int(n_pixels)}


def en_points(first: int, n: int) -> np.ndarray:
    """(lon, lat) of the ``lang='en'`` pages among row ids
    ``first .. first + n - 1``, from the FIXTURES.md section 1 rules."""
    out = []
    for i in range(first, first + n):
        d = hashlib.md5(f"https://site{i % 100}.example/{i:08d}"
                        .encode()).hexdigest()
        if int(d[:2], 16) % 5 == 0:  # lang index 0 is 'en'
            out.append((int(d[0:8], 16) / 2.0 ** 32 * 360.0 - 180.0,
                        int(d[8:16], 16) / 2.0 ** 32 * 170.1022 - 85.0511))
    return np.array(out).reshape(-1, 2)


def pip_pairs(points: np.ndarray, polygons) -> int:
    """Brute-force even-odd test of every point against every polygon."""
    total = 0
    x, y = points[:, 0], points[:, 1]
    for _, xs, ys in polygons:
        xs, ys = np.asarray(xs), np.asarray(ys)
        inside = np.zeros(len(x), bool)
        for i in range(len(xs)):
            x0, y0 = xs[i - 1], ys[i - 1]
            x1, y1 = xs[i], ys[i]
            crosses = (y0 > y) != (y1 > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
            inside ^= crosses & (x < xi)
        total += int(inside.sum())
    return total
