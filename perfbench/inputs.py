"""Seeded benchmark inputs.

Every input is a pure function of the workload seed, so the same seed
gives the same files:

- ``pages``: a native Iceberg v2 pages table written with the library's
  public column functions (``page_url_col`` / ``page_text_col`` /
  ``page_lang_col``) and ``write_iceberg_pages``.  The seed sets the
  first row id (see ``workloads.first_row``); seed 0 starts at row 0,
  which is exactly ``synth_pages(n)``.
- ``documents`` / ``embeddings``: Parquet files shaped like the
  repository's ``documents`` / ``embeddings`` test tables, drawn with
  NumPy from the seed.  A share of the documents are exact or
  one-token-edited copies of earlier ones, so the dedup operators
  find real pairs; embeddings cluster around ``N_LABELS`` centroids,
  so the IVF quantizer has structure to find.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal2mbtiles_spark.functions.text import STOPWORDS
from gdal2mbtiles_spark.operators.similarity import DIM
from gdal2mbtiles_spark.sources.pages import (EPOCH_2025, page_lang_col,
                                              page_text_col, page_url_col)
from gdal2mbtiles_spark.sources.pages_table import write_iceberg_pages

WORDS = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table "
         "stream merge data join vector customer tile pixel zoom").split()
DOC_LANGS = ("en", "fr", "de", "es", "pt", "zh")
N_LABELS = 10
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.10


def pages_df(spark: SparkSession, first: int, n: int) -> DataFrame:
    """``n`` pages with row ids ``first .. first + n - 1``."""
    idx = F.col("id")
    url = page_url_col(idx)
    text = page_text_col(url)
    return spark.range(first, first + n).select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(EPOCH_2025) + idx).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text,
                          F.lit("</body></html>")), "utf-8").alias("html"),
        text.alias("text"),
        page_lang_col(url).alias("lang"))


def write_pages(spark: SparkSession, path: str, first: int, n: int) -> None:
    write_iceberg_pages(pages_df(spark, first, n), path)


def _doc_texts(rng: np.random.Generator, n: int, langs: np.ndarray):
    texts = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(i))])
            continue
        if i > 0 and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(i))].split(" ")
            toks[int(rng.integers(len(toks)))] = WORDS[
                int(rng.integers(len(WORDS)))]
            texts.append(" ".join(toks))
            continue
        stop = STOPWORDS.get(str(langs[i]), STOPWORDS["en"])
        vocab = WORDS + stop
        k = int(rng.integers(8, 90))
        texts.append(" ".join(vocab[j]
                              for j in rng.integers(len(vocab), size=k)))
    return texts


def write_documents(path: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 1])
    langs = np.array(DOC_LANGS)[rng.integers(len(DOC_LANGS), size=n)]
    texts = _doc_texts(rng, n, langs)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def write_embeddings(path: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 2])
    centroids = rng.normal(size=(N_LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(N_LABELS, size=n).astype(np.int32)
    vecs = (centroids[labels]
            + rng.normal(scale=0.35 / np.sqrt(DIM), size=(n, DIM))
            ).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), path)
