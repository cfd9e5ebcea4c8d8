"""Sparse relational pyramid: equivalence with the buffer pipeline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal2mbtiles_spark.grid import whole_world_raster_meta
from gdal2mbtiles_spark.operators.burn import (burn_points,
                                               pixel_histogram)
from gdal2mbtiles_spark.operators import pyramid
from gdal2mbtiles_spark.operators.pyramid import (canonical_images,
                                                  dedup_tiles,
                                                  pyramid_tiles,
                                                  render_images,
                                                  union_levels)
from gdal2mbtiles_spark.operators.sparse import (_shrink_sparse,
                                                 heat_pixels,
                                                 sparse_pyramid_rendered)
from gdal2mbtiles_spark.renderers import PngRenderer, decode_png_rgba
from gdal2mbtiles_spark.sources.pages import synth_pages, with_geo

Z = 4
N = 3000


@pytest.fixture(scope="module")
def hist(spark):
    pages = with_geo(synth_pages(spark, N), tile_z=Z)
    return pixel_histogram(pages, z=Z).persist()


def _rows(df):
    return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                        else v for v in row) for row in df.collect())


def test_sparse_equals_buffer_pipeline(spark, hist):
    # buffer path: burn -> pyramid -> dedup (raw) -> render
    tiles = hist.sparkSession  # noqa (fixture ordering)
    from gdal2mbtiles_spark.operators.burn import scatter_tiles
    buf_tiles = scatter_tiles(hist)
    meta = whole_world_raster_meta(256 * (1 << Z), 256 * (1 << Z))
    levels = pyramid_tiles(spark, buf_tiles, meta, min_resolution=0)
    b_images, b_map = dedup_tiles(spark, union_levels(levels))
    b_map_rows = {(r["zoom_level"], r["tile_column"], r["tile_row"],
                   r["tile_id"]) for r in b_map.collect()}
    b_hexes = {r["tile_hex"] for r in b_images.collect()}

    # sparse fused path
    s_images, s_map = sparse_pyramid_rendered(
        spark, hist, Z, PngRenderer(compression=1), min_resolution=0)
    s_map_rows = {(r["zoom_level"], r["tile_column"], r["tile_row"],
                   r["tile_id"]) for r in s_map.collect()}
    s_img = {r["tile_hex"]: bytes(r["tile_data"])
             for r in s_images.collect()}

    assert s_map_rows == b_map_rows          # identical tile content
    assert set(s_img) == b_hexes             # identical distinct images
    # payloads are valid PNGs decoding to 256x256 RGBA
    arr = decode_png_rgba(next(iter(s_img.values())))
    assert arr.shape == (256, 256, 4)


def test_multi_phase_equals_single_phase(spark, hist):
    # at z=6 phase_depth=2 forces the emit_pixels bridge (passes
    # [6..5], [4..3]); results must be identical to one deep pass
    # [6..3].  Both finish [2..0] on the driver apex.
    one = sparse_pyramid_rendered(spark, hist, 6,
                                  PngRenderer(compression=1),
                                  min_resolution=0, phase_depth=16)
    many = sparse_pyramid_rendered(spark, hist, 6,
                                   PngRenderer(compression=1),
                                   min_resolution=0, phase_depth=2)
    for a, b in zip(one, many):
        assert _rows(a) == _rows(b)


def test_canon_paths_identical(spark, hist):
    # force the broadcast-join canon and the min_by-aggregate canon
    # (the at-scale fallback when the distinct-image relation would
    # not fit a broadcast): identical (images, map) rows
    a = sparse_pyramid_rendered(spark, hist, Z,
                                PngRenderer(compression=1),
                                min_resolution=0, broadcast_canon=True)
    b = sparse_pyramid_rendered(spark, hist, Z,
                                PngRenderer(compression=1),
                                min_resolution=0, broadcast_canon=False)
    for da, db in zip(a, b):
        assert _rows(da) == _rows(db)


def test_canon_auto_select_falls_back_under_tiny_threshold(
        spark, hist, monkeypatch):
    # shrink the shared canon cap so even one canon row exceeds it:
    # auto must take the min_by aggregate (the at-scale plan) and
    # match the broadcast output exactly
    want_imgs, _ = sparse_pyramid_rendered(
        spark, hist, Z, PngRenderer(compression=1), min_resolution=0,
        broadcast_canon=True)
    assert "min_by" not in want_imgs._jdf.queryExecution().analyzed(
        ).toString()
    monkeypatch.setattr(pyramid, "_CANON_BC_CAP", 64)
    auto_imgs, _ = sparse_pyramid_rendered(
        spark, hist, Z, PngRenderer(compression=1), min_resolution=0)
    assert "min_by" in auto_imgs._jdf.queryExecution().analyzed(
        ).toString()
    assert _rows(auto_imgs) == _rows(want_imgs)


def test_canon_auto_select_small_broadcasts(spark, hist):
    # at test scale the distinct-image count is tiny: auto (None) must
    # pick the broadcast plan and match the forced-broadcast output
    auto_imgs, _ = sparse_pyramid_rendered(
        spark, hist, Z, PngRenderer(compression=1), min_resolution=0)
    assert "min_by" not in auto_imgs._jdf.queryExecution().analyzed(
        ).toString()
    forced_imgs, _ = sparse_pyramid_rendered(
        spark, hist, Z, PngRenderer(compression=1), min_resolution=0,
        broadcast_canon=True)
    assert ({r["tile_hex"] for r in auto_imgs.collect()}
            == {r["tile_hex"] for r in forced_imgs.collect()})


def _shrink_rows(rows):
    gx, gy, *ch = (np.array(c, dtype=np.int64) for c in zip(*rows))
    px, py, out = _shrink_sparse(gx, gy, ch)
    return [(int(x), int(y), *(int(c[i]) for c in out))
            for i, (x, y) in enumerate(zip(px, py))]


def test_shrink_sparse_box_semantics():
    # 4 children of one parent pixel with known alphas
    out = _shrink_rows([(10, 10, 255, 255, 255, 100),
                        (11, 10, 255, 255, 255, 50),
                        (10, 11, 255, 255, 255, 25),
                        (11, 11, 255, 255, 255, 11)])
    assert len(out) == 1
    gx, gy, r, _g, _b, a = out[0]
    assert (gx, gy) == (5, 5)
    assert a == (100 + 50 + 25 + 11 + 2) // 4
    assert r == (255 * 4 + 2) // 4  # saturated white stays 255

    # partial parent: 1 lit child only -> other three contribute 0
    (_, _, r2, _g, _b, a2), = _shrink_rows([(20, 20, 255, 255, 255, 200)])
    assert a2 == (200 + 2) // 4
    assert r2 == (255 + 2) // 4


def test_canonical_images_picks_min_zxy_owner(spark, monkeypatch):
    """Every packed/struct x broadcast/min_by combination must return
    the payload of the min-(z, x, y) tile per tile_id.  Owners carry
    DIFFERENT payloads, with ties on z and on (z, x), so a wrong owner
    or a mis-ordered key packing picks a wrong payload."""
    rows = [  # (z, x, y, tile_id, payload)
        (3, 0, 0, 1, b"z-larger"),
        (2, 3, 0, 1, b"x-larger"),
        (2, 1, 3, 1, b"y-larger"),
        (2, 1, 2, 1, b"owner-1"),
        (4, 9, 1, 2, b"owner-2"),
        (5, 7, 7, 3, b"y-larger"),
        (5, 7, 6, 3, b"owner-3"),
        (5, 8, 0, 3, b"x-larger"),
        (29, (1 << 29) - 1, 0, 4, b"x-larger"),
        (29, 0, (1 << 29) - 1, 4, b"owner-4"),
    ]
    tiles = spark.createDataFrame(
        [(z, x, y, tid, f"hex{tid}", bytearray(p))
         for z, x, y, tid, p in rows],
        "z int, x bigint, y bigint, tile_id bigint, tile_hex string, "
        "payload binary")
    want = [(t, bytes(f"owner-{t}", "ascii"), f"hex{t}")
            for t in range(1, 5)]
    for packed in (True, False):
        for bc in (True, False):
            got = canonical_images(tiles, "payload", packed=packed,
                                   broadcast_canon=bc)
            assert _rows(got.select("tile_id", "tile_data",
                                    "tile_hex")) == want, (packed, bc)
            plan = got._jdf.queryExecution().analyzed().toString()
            assert ("min_by" in plan) == (not bc), (packed, bc)
    # auto mode: broadcasts under the cap, min_by past it
    for cap, uses_min_by in ((pyramid._CANON_BC_CAP, False), (64, True)):
        monkeypatch.setattr(pyramid, "_CANON_BC_CAP", cap)
        got = canonical_images(tiles, "payload", packed=True)
        plan = got._jdf.queryExecution().analyzed().toString()
        assert ("min_by" in plan) == uses_min_by
        assert _rows(got.select("tile_id", "tile_data",
                                "tile_hex")) == want


def test_pixel_batch_conf_restores_unset_key(spark):
    """__exit__ must UNSET the Arrow batch key when the session never
    set it explicitly (conf.get(key, None) -> None), not leak the
    raised pixel batch size onto tile-buffer kernels."""
    from gdal2mbtiles_spark.operators.sparse import (_ARROW_BATCH_KEY,
                                                     _pixel_batch_conf)
    orig = spark.conf.get(_ARROW_BATCH_KEY, None)
    try:
        spark.conf.unset(_ARROW_BATCH_KEY)
        with _pixel_batch_conf(spark):
            assert spark.conf.get(_ARROW_BATCH_KEY) == "65536"
        assert spark.conf.get(_ARROW_BATCH_KEY, None) is None
        # and the set-restore path still round-trips
        spark.conf.set(_ARROW_BATCH_KEY, "256")
        with _pixel_batch_conf(spark):
            assert spark.conf.get(_ARROW_BATCH_KEY) == "65536"
        assert spark.conf.get(_ARROW_BATCH_KEY, None) == "256"
    finally:
        if orig is None:
            spark.conf.unset(_ARROW_BATCH_KEY)
        else:
            spark.conf.set(_ARROW_BATCH_KEY, orig)


def test_min_resolution_final_phase_is_materialized(spark, hist):
    """min_resolution == the final phase's bottom makes that phase
    emit=False; it must still be checkpointed (otherwise the fused
    kernel re-executes per consumer) and the unused apex seed must
    not be materialized.  Output parity with the full pyramid's
    matching levels is the correctness half."""
    from gdal2mbtiles_spark.operators.sparse import \
        sparse_pyramid_rendered
    images, map_df = sparse_pyramid_rendered(
        spark, hist, 6, PngRenderer(compression=1), min_resolution=5)
    # consumers read checkpointed blocks — no pandas kernel in the
    # executed plan of either output
    for df in (images, map_df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, plan[:2000]
    got = {(r["zoom_level"], r["tile_column"], r["tile_row"],
            r["tile_id"]) for r in map_df.collect()}
    assert {z for z, *_ in got} == {5, 6}
    _full_images, full_map = sparse_pyramid_rendered(
        spark, hist, 6, PngRenderer(compression=1), min_resolution=0)
    want = {(r["zoom_level"], r["tile_column"], r["tile_row"],
             r["tile_id"])
            for r in full_map.collect() if r["zoom_level"] >= 5}
    assert got == want
