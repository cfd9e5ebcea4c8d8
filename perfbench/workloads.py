"""The benchmark's workloads: inputs, one iteration, and its checks.

Each iteration calls the library only through its public functions,
and wraps every call in a tracer span named after the library module.
"""

from __future__ import annotations

import os
import sqlite3
import traceback
from typing import Callable, Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from gdal2mbtiles_spark.functions import text as T
from gdal2mbtiles_spark.mbtiles import write_mbtiles
from gdal2mbtiles_spark.operators import dedup as D
from gdal2mbtiles_spark.operators import similarity as S
from gdal2mbtiles_spark.operators.burn import pixel_histogram
from gdal2mbtiles_spark.operators.sparse import sparse_pyramid_rendered
from gdal2mbtiles_spark.operators.spatial import (knn_join,
                                                  point_in_polygon_join)
from gdal2mbtiles_spark.renderers import PngRenderer
from gdal2mbtiles_spark.sources.iceberg import IcebergTable
from gdal2mbtiles_spark.sources.pages import with_geo
from gdal2mbtiles_spark.sources.pages_table import load_pages
from gdal2mbtiles_spark.sources.vectors import (make_polygons,
                                                polygons_df,
                                                query_points_df)

from . import checks, inputs
from .trace import MB, Tracer

TILE_RAW_BYTES = 256 * 256 * 4
# page urls zero-pad the row id to 8 digits; keep every id below 1e8
MAX_ROW_ID = 10 ** 8
METADATA = {"name": "perfbench", "type": "overlay", "version": "1.0",
            "description": "pages burn density", "format": "png"}

# Per workload and scale: inputs, and the seed-0 outputs pinned on the
# code the benchmark was defined on.  "bench" is what BENCHMARK.json
# runs; "gate" is the tiny size the benchmark's own tests use.
CONFIGS: Dict[str, Dict[str, dict]] = {
    "tiles_z12_sparse": {
        "gate": {"zoom": 10, "pages": 300, "pinned": {}},
        "bench": {"zoom": 12, "pages": 4_000, "pinned": {
            "tiles": 26_721, "images": 19_214, "png_bytes": 24_473_132,
            "digest": "fb7e03bf8e89e02c9e3aa69c0d35eab6"
                      "ea3d4e27cf92cf093d7439068c9403c7"}},
    },
    "queries_mix": {
        "gate": {"pages": 3_000, "docs": 120, "embeddings": 200,
                 "polygons": 50, "queries": 200, "pinned": {}},
        "bench": {"pages": 20_000, "docs": 800, "embeddings": 800,
                  "polygons": 50, "queries": 200, "pinned": {
                      "point_in_polygon_join": 59, "knn_join": 1_062,
                      "minhash_lsh_pairs": 183, "simhash_pairs": 3_423,
                      "exact_dedup": 767, "ann_topk_matmul": 200,
                      "ann_topk_ivf": 200, "quality_score": 800,
                      "lang_id": 800, "token_counts": 800}},
    },
}


def first_row(seed: int, n: int) -> int:
    """Seed -> first page row id, wrapped so every id stays < 1e8."""
    return (seed % (MAX_ROW_ID // n)) * n


class Op:
    """One checked call: its output count and what was wrong with it."""

    def __init__(self, name: str):
        self.name = name
        self.value: Optional[int] = None
        self.errors: List[str] = []
        self.detail: Dict = {}


def run_op(ops: List[Op], name: str, fn: Callable[[], int]) -> None:
    """Run ``fn``, keeping its result; a raised error fails the op."""
    op = Op(name)
    ops.append(op)
    try:
        op.value = fn()
    except Exception as exc:  # the run goes on; the op counts as failed
        traceback.print_exc()
        op.errors.append(f"raised {type(exc).__name__}: {exc}")


class Workload:
    def __init__(self, name: str, scale: str, seed: int, workdir: str,
                 cores: int):
        self.cfg = CONFIGS[name][scale]
        self.seed = seed
        self.workdir = workdir
        self.cores = cores
        self.table = os.path.join(workdir, "pages")
        self.first = first_row(seed, self.cfg["pages"])
        self.pinned = self.cfg["pinned"] if seed == 0 else {}

    def prepare(self, spark: SparkSession) -> None:
        inputs.write_pages(spark, self.table, self.first, self.cfg["pages"])

    def scan(self, spark: SparkSession, traced: bool, **kw):
        """``load_pages``, which only plans the scan.  On a traced
        iteration the scan is also materialized on its own, so that its
        jobs and tasks count for ``sources.pages_table`` rather than for
        the layer that reads the pages."""
        pages = load_pages(spark, self.table, **kw)
        return pages.localCheckpoint(eager=True) if traced else pages


class Tiles(Workload):
    """pages table -> burn histogram -> sparse pyramid -> .mbtiles."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.out = os.path.join(self.workdir, "out.mbtiles")
        self.expected = None
        self.first_digest = None
        self.last = None

    def open(self, spark: SparkSession) -> None:
        load_pages(spark, self.table, columns=["url"]).count()

    def iterate(self, spark: SparkSession, tracer: Tracer,
                traced: bool) -> List[Op]:
        z = self.cfg["zoom"]
        ops: List[Op] = []

        def pipeline() -> int:
            with tracer.span("sources.pages_table", "load_pages"):
                pages = self.scan(spark, traced, columns=["url"])
            with tracer.span("operators.burn", "pixel_histogram"):
                hist = pixel_histogram(with_geo(pages, tile_z=z), z=z)
                if traced:
                    # its own materialization, so burn gets its own span
                    hist = hist.localCheckpoint(eager=True)
            with tracer.span("operators.sparse", "sparse_pyramid_rendered"):
                images, map_df = sparse_pyramid_rendered(
                    spark, hist, z, PngRenderer(compression=1),
                    min_resolution=0)
            with tracer.span("mbtiles", "write_mbtiles"):
                write_mbtiles(self.out, images, map_df, METADATA).close()
            return 1

        run_op(ops, "pages_to_mbtiles", pipeline)
        return ops

    def check(self, spark: SparkSession, ops: List[Op]) -> None:
        op = ops[0]
        if op.errors:
            return
        if self.expected is None:
            self.expected = checks.lit_ancestor_counts(
                load_pages(spark, self.table, columns=["url"]),
                self.cfg["zoom"])
        try:
            summary = checks.summarize_mbtiles(self.out)
        except sqlite3.Error as exc:
            op.errors.append(f"unreadable .mbtiles: {exc}")
            return
        op.errors += checks.tiles_errors(summary, self.expected["per_zoom"],
                                         self.pinned)
        if self.first_digest is None:
            self.first_digest = summary["digest"]
        elif summary["digest"] != self.first_digest:
            op.errors.append("digest differs from the first iteration")
        summary["file_bytes"] = os.path.getsize(self.out)
        op.detail = summary
        self.last = summary

    def counts(self) -> Dict[str, float]:
        s, e = self.last or {}, self.expected or {}
        tiles, images = s.get("tiles", 0), s.get("images", 0)
        png = s.get("png_bytes", 0)
        _, stats = IcebergTable(self.table).plan_files()
        return {
            "sources.pages_table.files_planned": stats.files_planned,
            "sources.pages_table.files_total": stats.files_total,
            "operators.burn.pixel_rows": e.get("pixels", 0),
            "operators.burn.combine_ratio":
                self.cfg["pages"] / e["pixels"] if e.get("pixels") else 0,
            "operators.sparse.tiles": tiles,
            "operators.sparse.images": images,
            "operators.sparse.images_per_tile":
                images / tiles if tiles else 0,
            "renderers.png_mb": png / MB,
            "renderers.raw_mb": tiles * TILE_RAW_BYTES / MB,
            "mbtiles.rows": tiles + images,
            "mbtiles.file_mb": s.get("file_bytes", 0) / MB,
            "mbtiles.file_bytes_per_png_byte":
                s.get("file_bytes", 0) / png if png else 0,
        }


class Mix(Workload):
    """One closed-loop client running the spatial, dedup, ANN and text
    queries, each forced with ``count()`` as bench.py forces it."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.docs_path = os.path.join(self.workdir, "documents.parquet")
        self.emb_path = os.path.join(self.workdir, "embeddings.parquet")
        self.expected: Optional[Dict[str, int]] = None
        self.first_counts: Optional[Dict[str, int]] = None
        self.last: Dict[str, int] = {}

    def prepare(self, spark: SparkSession) -> None:
        super().prepare(spark)
        inputs.write_documents(self.docs_path, self.seed, self.cfg["docs"])
        inputs.write_embeddings(self.emb_path, self.seed,
                                self.cfg["embeddings"])

    def open(self, spark: SparkSession) -> None:
        parts = 2 * self.cores
        self.docs = spark.read.parquet(self.docs_path).repartition(
            parts).persist()
        self.emb = spark.read.parquet(self.emb_path).repartition(
            parts).persist()
        self.docs.count()
        self.emb.count()
        self.polys = polygons_df(spark, self.cfg["polygons"])
        self.queries = query_points_df(spark, self.cfg["queries"])
        load_pages(spark, self.table, columns=["url"]).count()

    def iterate(self, spark: SparkSession, tracer: Tracer,
                traced: bool) -> List[Op]:
        ops: List[Op] = []

        def pages(**kw):
            with tracer.span("sources.pages_table", "load_pages"):
                return with_geo(self.scan(spark, traced, **kw))

        def call_op(layer: str, name: str, fn: Callable[[], int]):
            def call():
                with tracer.span(layer, name):
                    return fn()
            run_op(ops, name, call)

        docs, emb = self.docs, self.emb
        call_op("operators.spatial", "point_in_polygon_join",
                  lambda: point_in_polygon_join(pages(lang="en"),
                                                self.polys).count())
        call_op("operators.spatial", "knn_join",
                  lambda: knn_join(pages(columns=["url"]), self.queries,
                                   res=6).count())
        call_op("operators.dedup", "minhash_lsh_pairs",
                  lambda: D.minhash_lsh_pairs(docs).count())
        call_op("operators.dedup", "simhash_pairs",
                  lambda: D.simhash_pairs(docs).count())
        call_op("operators.dedup", "exact_dedup",
                  lambda: D.exact_dedup(docs.union(docs)).count())
        call_op("operators.similarity", "ann_topk_matmul",
                  lambda: S.ann_topk_matmul(emb).count())
        call_op("operators.similarity", "ann_topk_ivf",
                  lambda: S.ann_topk_ivf(emb).count())
        call_op("functions.text", "quality_score",
                  lambda: T.quality_score(docs).count())
        call_op("functions.text", "lang_id",
                  lambda: T.lang_id(docs).count())
        call_op("functions.text", "token_counts",
                  lambda: T.token_counts(docs).count())
        return ops

    def _expected(self) -> Dict[str, int]:
        """Counts known without the library's operators."""
        texts = pq.read_table(self.docs_path, columns=["text"]).column(0)
        n_docs = self.cfg["docs"]
        return {
            "point_in_polygon_join": checks.pip_pairs(
                checks.en_points(self.first, self.cfg["pages"]),
                make_polygons(self.cfg["polygons"])),
            "knn_join": sum((1, 5, 10)[q % 3]
                            for q in range(self.cfg["queries"])),
            "exact_dedup": len(set(texts.to_pylist())),
            "ann_topk_matmul": 20 * 10,
            "ann_topk_ivf": 20 * 10,
            "quality_score": n_docs,
            "lang_id": n_docs,
            "token_counts": n_docs,
        }

    def check(self, spark: SparkSession, ops: List[Op]) -> None:
        if self.expected is None:
            self.expected = self._expected()
        counts = {op.name: op.value for op in ops if not op.errors}
        if self.first_counts is None:
            self.first_counts = counts
        for op in ops:
            if op.errors:
                continue
            for label, want in (("expected", self.expected.get(op.name)),
                                ("pinned", self.pinned.get(op.name)),
                                ("first iteration",
                                 self.first_counts.get(op.name))):
                if want is not None and op.value != want:
                    op.errors.append(f"{op.name}={op.value} != "
                                     f"{label} {want}")
        self.last = counts

    def counts(self) -> Dict[str, float]:
        _, stats = IcebergTable(self.table).plan_files(
            filters={"lang": "en"})
        c = self.last
        return {
            "sources.pages_table.files_planned": stats.files_planned,
            "sources.pages_table.files_total": stats.files_total,
            "operators.spatial.pip_rows": c.get("point_in_polygon_join", 0),
            "operators.spatial.knn_rows": c.get("knn_join", 0),
            "operators.dedup.pairs": (c.get("minhash_lsh_pairs", 0)
                                      + c.get("simhash_pairs", 0)),
            "operators.similarity.rows": (c.get("ann_topk_matmul", 0)
                                          + c.get("ann_topk_ivf", 0)),
            "functions.text.rows": (c.get("quality_score", 0)
                                    + c.get("lang_id", 0)
                                    + c.get("token_counts", 0)),
        }


WORKLOADS = {"tiles_z12_sparse": Tiles, "queries_mix": Mix}


