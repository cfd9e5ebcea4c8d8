"""Sparse relational pyramid: the burn->pyramid chain without moving
pixel buffers between stages.

The density raster a burn produces is sparse (lit pixels only), and
the 2x2 box downsample is a *linear* operator per channel — so the
whole pyramid can be derived relationally on a sparse pixel relation

    pixels(z, gx, gy, r, g, b, a)     -- global pixel coords, y-down

where one level down is

    parent(gx>>1, gy>>1).channel = (sum(children channel) + 2) >> 2

(missing children contribute 0 = transparent, exactly the
tms_align-embed semantics).

One kernel, ``_phase_kernel``, paints, MD5-hashes and PNG-encodes
every tile: it renders a band of levels [top..bottom] in one pass,
shrinking the sparse rows in-task between levels.  The distributed
phase passes run it under ``mapInPandas``; the pyramid apex (levels
<= ``_DRIVER_APEX``) runs the same closure in-process on the driver.
256x256 buffers exist only inside the kernel, so tile payloads never
cross an exchange while rendering: the phase shuffles carry ~40-byte
sparse pixel rows.  The canonical payload per hash is chosen by
``pyramid.canonical_images``, the helper the buffer pipeline's
``dedup_tiles`` shares.

Equivalence to the generic buffer pipeline (operators.pyramid) is
asserted in tests: identical tile ids and payloads level by level.
This is the engine's scale path for burns (SURVEY.md §4 physical
sketch, re-planned); the buffer pipeline remains for dense rasters
(fixtures, warp outputs) where sparsity doesn't hold.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from typing import Dict, Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import signed_low64
from ..grid import TILE_SIDE
from .pyramid import canonical_images

_PROF = os.environ.get("SPARK_GRAFT_PROFILE")


def _prof(tag: str, t0: float) -> float:
    """Driver-wall profiler (SPARK_GRAFT_PROFILE=1 -> stderr, =path ->
    append to file): one line per driver-blocking step, used to locate
    the serial floor S."""
    t1 = time.time()
    if _PROF:
        line = f"PROF {tag} {t1 - t0:.2f}"
        if _PROF == "1":
            print(line, file=sys.stderr, flush=True)
        else:
            with open(_PROF, "a") as fh:
                fh.write(line + "\n")
    return t1


# --- md5 zero-prefix states (round 6) ---------------------------------------
# The A1 contract hashes the FULL 256 KB canvas per unique tile, and the
# kernel profile (BENCH/profile_kernel.py) put md5 at ~48% of phase-kernel
# W.  A burn tile is mostly all-zero rows; md5 state after r zero rows is
# tile-independent, so 257 cached states (one 256 KB zero pass, built once
# per worker process) let each tile skip straight to its first lit row.
# Digests are bit-identical to hashlib.md5(raw) by construction (same byte
# stream through the same compression function).
_ROW_BYTES = TILE_SIDE * 4
_MD5_ZSTATES = None


def _md5_sparse(raw, first_row: int):
    """md5 of the full canvas ``raw`` (flat memoryview), resuming from
    the cached state after ``first_row`` all-zero rows."""
    global _MD5_ZSTATES
    if _MD5_ZSTATES is None:
        zrow = bytes(_ROW_BYTES)
        states = [hashlib.md5()]
        for _ in range(TILE_SIDE):
            h = states[-1].copy()
            h.update(zrow)
            states.append(h)
        _MD5_ZSTATES = states
    h = _MD5_ZSTATES[first_row].copy()
    h.update(raw[first_row * _ROW_BYTES:])
    return h


# Arrow input batch for PIXEL kernels: the session default (256 rows,
# sized for 262KB tile buffers) hands a pixel kernel ~10KB frames —
# a z12 task concatenates ~20k of them, measured 182->159s on the
# phase pass when raised to 64k rows (~2.6MB of 40B pixel rows).
_PIXEL_ARROW_BATCH = 65536
_ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


class _pixel_batch_conf:
    """Scoped raise of the Arrow input batch size for the eager pixel
    -kernel materializations inside this module; restores the session
    default (which bounds TILE-buffer batches) on exit."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get(_ARROW_BATCH_KEY, None)
        self.spark.conf.set(_ARROW_BATCH_KEY, str(_PIXEL_ARROW_BATCH))

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set(_ARROW_BATCH_KEY, self.old)
        else:
            # conf.get(key, None) is None when the session never set
            # the key explicitly — unset, or the raised pixel batch
            # size would leak onto 262KB tile-buffer kernels
            self.spark.conf.unset(_ARROW_BATCH_KEY)
        return False
RENDERED_SCHEMA = ("z int, x bigint, y bigint, tile_id bigint, "
                   "tile_hex string, tile_data binary")


def heat_pixels(hist: DataFrame, z: int) -> DataFrame:
    """Burn histogram -> sparse RGBA pixels at native z.

    hist: (z, x(TMS), y(TMS), ppx, ppy, w).  The heat ramp is the
    SQL form of burn._heat_rgba: white with
    alpha = max(1, min(255, floor(32*log2(1+w))))."""
    n = 1 << z
    alpha = F.greatest(
        F.least(F.lit(255),
                F.floor(F.lit(32.0) * F.log2(F.lit(1.0) + F.col("w")))),
        F.lit(1)).cast("int")
    # global pixel coords are y-down: convert TMS tile y back
    gy = (F.lit(n - 1) - F.col("y")) * TILE_SIDE + F.col("ppy")
    gx = F.col("x") * TILE_SIDE + F.col("ppx")
    return hist.select(
        F.lit(z).cast("int").alias("z"),
        gx.cast("long").alias("gx"), gy.cast("long").alias("gy"),
        F.lit(255).alias("r"), F.lit(255).alias("g"),
        F.lit(255).alias("b"), alpha.alias("a"))


# phased-kernel output: rendered tile rows (kind=0) union next-phase
# sparse pixel rows (kind=1) in one nullable schema
PHASE_SCHEMA = ("kind int, z int, x bigint, y bigint, tile_id bigint, "
                "tile_hex string, tile_data binary, "
                "gx bigint, gy bigint, r int, g int, b int, a int")

_KEY_SHIFT = np.int64(1) << 32


def _null_ints(n: int, dtype) -> pd.arrays.IntegerArray:
    """All-null pandas nullable-int column of length n, built from a
    mask (no per-element Python work)."""
    return pd.arrays.IntegerArray(np.zeros(n, dtype=dtype),
                                  np.ones(n, dtype=bool))


def _tile_chunk(o_z, o_x, o_y, o_id, o_hex, o_data) -> pd.DataFrame:
    """kind=0 rows of PHASE_SCHEMA from per-column lists (pixel
    columns all-null)."""
    n = len(o_z)
    return pd.DataFrame({
        "kind": np.zeros(n, dtype=np.int32),
        "z": np.asarray(o_z, dtype=np.int32),
        "x": np.asarray(o_x, dtype=np.int64),
        "y": np.asarray(o_y, dtype=np.int64),
        "tile_id": np.asarray(o_id, dtype=np.int64),
        "tile_hex": o_hex,
        "tile_data": o_data,
        "gx": _null_ints(n, np.int64),
        "gy": _null_ints(n, np.int64),
        "r": _null_ints(n, np.int32),
        "g": _null_ints(n, np.int32),
        "b": _null_ints(n, np.int32),
        "a": _null_ints(n, np.int32)})


def _pixel_chunk(gx: np.ndarray, gy: np.ndarray, ch) -> pd.DataFrame:
    """kind=1 rows of PHASE_SCHEMA straight from the shrunk sparse
    arrays (tile columns all-null) — no per-row Python loop."""
    m = len(gx)
    none_obj = np.full(m, None, dtype=object)
    return pd.DataFrame({
        "kind": np.ones(m, dtype=np.int32),
        "z": _null_ints(m, np.int32),
        "x": _null_ints(m, np.int64),
        "y": _null_ints(m, np.int64),
        "tile_id": _null_ints(m, np.int64),
        "tile_hex": none_obj,
        "tile_data": none_obj,
        "gx": gx.astype(np.int64),
        "gy": gy.astype(np.int64),
        "r": ch[0].astype(np.int32),
        "g": ch[1].astype(np.int32),
        "b": ch[2].astype(np.int32),
        "a": ch[3].astype(np.int32)})


def _shrink_sparse(gx, gy, ch):
    """One 2x2 box level on sparse arrays: group by (gx>>1, gy>>1),
    per-channel (sum + 2) >> 2 (missing children contribute 0),
    bit-identical to the buffer pipeline's canvas shrink because box
    blocks never cross tile boundaries."""
    key = (gx >> 1) * _KEY_SHIFT + (gy >> 1)
    order = np.argsort(key, kind="stable")
    key = key[order]
    uniq, starts = np.unique(key, return_index=True)
    out_ch = []
    for c in ch:
        sums = np.add.reduceat(c[order].astype(np.int64), starts)
        out_ch.append(((sums + 2) >> 2).astype(np.int64))
    return uniq // _KEY_SHIFT, uniq % _KEY_SHIFT, out_ch


def pyramid_phase_rendered(pixels: DataFrame, top: int, bottom: int,
                           renderer, emit_pixels: bool,
                           parallelism: Optional[int] = None,
                           out_chunk: int = 1024) -> DataFrame:
    """Render levels [top..bottom] in ONE kernel pass.

    Input: sparse pixels at level ``top``.  Partitioning by the
    level-``bottom`` ancestor tile guarantees all four children of any
    parent tile >= bottom are co-located, so the kernel can loop:
    paint+hash+encode every tile of the current level, then 2x2-shrink
    the sparse rows in-task and recurse — one shuffle and one plan for
    ``top - bottom + 1`` levels instead of one per level (the per-level
    chain's serial Catalyst/scheduling cost dominated the 4-vs-16-core
    scaling gap).  With emit_pixels the kernel also outputs the
    level-(bottom-1) sparse rows that seed the next phase."""
    shift = 8 + (top - bottom)          # log2(TILE_SIDE) + level gap
    keyed = pixels.select(
        "gx", "gy", "r", "g", "b", "a",
        F.shiftright("gx", shift).alias("_ax"),
        F.shiftright("gy", shift).alias("_ay"))
    sc = pixels.sparkSession.sparkContext
    # 4 partitions/core (round 6; was 2): a single wave (1/core) pays
    # the full task-duration spread as wall time, and with the round-6
    # kernel at ~6-8 s/task the spread is a bigger FRACTION of the
    # task than it was at r05 task sizes — interleaved A/B at z10
    # measured 64/128/256 partitions at 21.0/19.4/18.5 s; four waves
    # keep the tail small while per-task fixed cost (one
    # concat+lexsort) stays amortized over >=10k pixel rows/task at
    # bench scale and above.  Never more partitions than distinct
    # ancestor keys (4^bottom): the surplus partitions are provably
    # empty and each still costs a task launch + python round trip
    # (the apex-adjacent pass has only 64 keys).
    p = parallelism or 4 * sc.defaultParallelism
    if bottom < 16:
        p = min(p, 4 ** bottom)
    keyed = keyed.repartition(p, "_ax", "_ay")
    kernel = _phase_kernel(top, bottom, renderer, emit_pixels,
                           out_chunk)
    return keyed.mapInPandas(kernel, schema=PHASE_SCHEMA)


def _phase_kernel(top: int, bottom: int, renderer, emit_pixels: bool,
                  out_chunk: int = 1024):
    """Build the multi-level paint+hash+encode kernel closure: the only
    code that renders sparse tiles.  It maps an iterator of pixel
    frames (gx, gy, r, g, b, a at level ``top``) to PHASE_SCHEMA
    frames, so it runs both under ``mapInPandas`` and in-process on
    the driver apex (module level so BENCH/profile_kernel.py profiles
    the REAL kernel)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = (parts[0] if len(parts) == 1
               else pd.concat(parts, ignore_index=True))
        gx = pdf["gx"].to_numpy(np.int64)
        gy = pdf["gy"].to_numpy(np.int64)
        ch = [pdf[c].to_numpy().astype(np.int64)
              for c in ("r", "g", "b", "a")]

        # per-column accumulators (round 6: the per-tile dict building
        # + row-wise _chunk re-read was ~10% of kernel W in the
        # BENCH/profile_kernel.py decomposition)
        o_z: list = []
        o_x: list = []
        o_y: list = []
        o_id: list = []
        o_hex: list = []
        o_data: list = []
        canvas = np.zeros((TILE_SIDE, TILE_SIDE, 4), dtype=np.uint8)
        # content-addressed render cache: a burn's tiles average ~1-2
        # sparse pixels, so payload-identical tiles are rampant; a
        # hit skips paint+md5+encode — ~0.75 MB of memory traffic per
        # tile, the SHARED resource that showed up as the
        # mode-independent serial floor S at z12 (PLANS.md §9).  The
        # sort below includes (ly, lx) so within-tile pixel order is
        # canonical and duplicate content always builds the same key.
        cache: Dict[bytes, Tuple[int, str, bytes]] = {}
        for lvl in range(top, bottom - 1, -1):
            n = 1 << lvl
            tx_all, ty_all = gx >> 8, gy >> 8
            lx_all = (gx & 255).astype(np.uint8)
            ly_all = (gy & 255).astype(np.uint8)
            ch_u8 = [c.astype(np.uint8) for c in ch]
            order = np.lexsort((lx_all, ly_all, ty_all, tx_all))
            key = tx_all[order] * _KEY_SHIFT + ty_all[order]
            _, starts = np.unique(key, return_index=True)
            bounds = np.append(starts, len(key))
            for i in range(len(starts)):
                idx = order[starts[i]:bounds[i + 1]]
                t_x, t_y = int(tx_all[idx[0]]), int(ty_all[idx[0]])
                lx = lx_all[idx]
                ly = ly_all[idx]
                ck = (lx.tobytes() + ly.tobytes()
                      + b"".join(c[idx].tobytes() for c in ch_u8))
                hit = cache.get(ck)
                if hit is None:
                    for c in range(4):
                        canvas[ly, lx, c] = ch_u8[c][idx]
                    raw = canvas.reshape(-1).data   # zero-copy view
                    # ly is (ly, lx)-sorted, so ly[0] is the first lit
                    # row: md5 resumes from the cached zero-prefix
                    # state (bit-identical digest, ~40% less hashing)
                    hx = _md5_sparse(raw, int(ly[0])).hexdigest()
                    # ly (sorted, possibly duplicated) is a valid
                    # lit_hint — the encoder content-verifies rows, and
                    # duplicate indices are idempotent; skipping the
                    # per-tile np.unique saved ~3% kernel W
                    hit = (signed_low64(int(hx, 16)), hx,
                           renderer.render(raw, lit_hint=ly))
                    canvas[ly, lx] = 0      # clear only lit pixels
                    if len(cache) >= 200_000:
                        cache.clear()       # bound task memory
                    cache[ck] = hit
                o_z.append(lvl)
                o_x.append(t_x)
                o_y.append(n - 1 - t_y)
                o_id.append(hit[0])
                o_hex.append(hit[1])
                o_data.append(hit[2])
                if len(o_z) >= out_chunk:
                    yield _tile_chunk(o_z, o_x, o_y, o_id, o_hex,
                                      o_data)
                    o_z, o_x, o_y = [], [], []
                    o_id, o_hex, o_data = [], [], []
            if lvl > bottom or emit_pixels:
                gx, gy, ch = _shrink_sparse(gx, gy, ch)
        if o_z:
            yield _tile_chunk(o_z, o_x, o_y, o_id, o_hex, o_data)
        if emit_pixels and len(gx):
            # vectorized pixel emission: one frame straight from the
            # shrunk arrays (bounded by the level-(bottom-1) relation)
            yield _pixel_chunk(gx, gy, ch)

    return kernel


# pyramid levels <= this render on the driver: a level-L sparse
# relation has at most (256*2^L)^2 rows whatever the input size
# (<= 1.05M rows, ~40 MB at L=2), so collecting it is O(1) in data
# scale, while rendering those levels distributed is all fixed
# overhead (tiny exchanges, python-worker round trips) and no work
_DRIVER_APEX = 2

_RENDERED_COLS = ["z", "x", "y", "tile_id", "tile_hex", "tile_data"]


def _render_apex_driver(spark: SparkSession, pixels: DataFrame,
                        top: int, bottom: int, renderer) -> DataFrame:
    """Render pyramid levels [top..bottom] (top <= _DRIVER_APEX) on the
    driver: one collect, then the phase kernel in-process."""
    pdf = pixels.select("gx", "gy", "r", "g", "b", "a").toPandas()
    kernel = _phase_kernel(top, bottom, renderer, emit_pixels=False)
    chunks = list(kernel(iter([pdf])))
    apex = (pd.concat(chunks, ignore_index=True) if chunks
            else _tile_chunk([], [], [], [], [], []))
    # Arrow path (round 6): createDataFrame(list) plans a Python RDD
    # whose evaluation launches one pickle-deserializing Python worker
    # per default-parallelism slice — measured 32 near-idle tasks /
    # ~1.7 s of wall for ~21 apex rows.  A pandas frame with exact
    # dtypes goes through Arrow: the driver serializes one record
    # batch and the scan is a single JVM task.
    return spark.createDataFrame(apex[_RENDERED_COLS],
                                 schema=RENDERED_SCHEMA)


def sparse_pyramid_rendered(spark: SparkSession, hist: DataFrame,
                            z: int, renderer,
                            min_resolution: int = 0,
                            phase_depth: int = 5,
                            broadcast_canon: Optional[bool] = None
                            ) -> Tuple[DataFrame, DataFrame]:
    """Full fused pipeline: histogram -> phased multi-level kernels ->
    driver apex -> (images, map).

    Levels above ``_DRIVER_APEX`` render in ceil(levels/phase_depth)
    multi-level kernel passes (one shuffle + one plan per pass instead
    of per level — the per-level chain's serial Catalyst/scheduling
    cost dominated 4-vs-16-core scaling).  A pass keyed by its bottom
    ancestor has 4^bottom groups, so stopping the passes at level
    _DRIVER_APEX + 1 = 3 keeps every pass at >= 64 keys.  Each pass
    is eagerly checkpointed once: that one materialization feeds the
    rendered union and the next pass's seed pixels.

    The levels <= _DRIVER_APEX are finished ON THE DRIVER by the same
    kernel (see _render_apex_driver), seeded by the last pass's
    emitted pixels.

    images: (tile_id, tile_data encoded, tile_hex), canonical row =
    min (z, x, y) per hash, chosen by pyramid.canonical_images (the
    helper dedup_tiles shares) with the (z, x, y) key packed into one
    BIGINT when z <= 29; map: (zoom_level, tile_column, tile_row,
    tile_id).  Dup tiles cost one wasted encode each — the trade for
    never shuffling payloads; use the buffer pipeline when the dup
    ratio is high (constant oceans etc.).

    broadcast_canon=None (default) lets canonical_images pick: it
    checkpoints the narrow canon relation and broadcasts it while it
    fits the 128 MB canon cap, otherwise it takes the min_by aggregate
    (payloads shuffle once, nothing is collected to the driver).  Pass
    True/False to force a path."""
    pixels = heat_pixels(hist, z)
    apex_top = min(max(_DRIVER_APEX, min_resolution - 1), z)
    rendered_parts = []
    top = z
    t_prof = time.time()
    while top > apex_top:
        bottom = max(min_resolution, apex_top + 1,
                     top - phase_depth + 1)
        emit = bottom > min_resolution
        out = pyramid_phase_rendered(pixels, top, bottom, renderer,
                                     emit_pixels=emit)
        # one materialization feeds the rendered union and (when
        # pixels are emitted) the next pass/driver apex.  The final
        # phase (emit=False, bottom == min_resolution) needs it just
        # as much: un-checkpointed, the fused paint+hash+encode
        # kernel re-executes for every downstream consumer (canon
        # build, images join, the caller's map action)
        with _pixel_batch_conf(spark):
            out = out.localCheckpoint(eager=True)
        t_prof = _prof(f"phase_ckpt[{top}..{bottom}]", t_prof)
        if emit:
            pixels = out.where(F.col("kind") == 1).select(
                F.lit(bottom - 1).cast("int").alias("z"),
                "gx", "gy", "r", "g", "b", "a")
        rendered_parts.append(out.where(F.col("kind") == 0).select(
            *_RENDERED_COLS))
        top = bottom - 1

    if top >= min_resolution:
        rendered_parts.append(_render_apex_driver(
            spark, pixels, top, min_resolution, renderer))
        t_prof = _prof(f"driver_apex[{top}..{min_resolution}]", t_prof)

    rendered = rendered_parts[0]
    for part in rendered_parts[1:]:
        rendered = rendered.unionByName(part)

    map_df = rendered.select(
        F.col("z").alias("zoom_level"),
        F.col("x").alias("tile_column"),
        F.col("y").alias("tile_row"), "tile_id")
    images = canonical_images(rendered, "tile_data", packed=z <= 29,
                              broadcast_canon=broadcast_canon)
    _prof("canonical_images", t_prof)
    return images, map_df
