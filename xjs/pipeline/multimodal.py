"""Multimodal columns: images/audio/video as opaque ``binary`` with
typed metadata, processed through Arrow-batched ``mapInPandas``.

The decode step itself (PIL/ffmpeg/torchaudio) is STUBBED — those
libraries aren't in this container — but everything Spark-side is
real and tested: the schema contract, the Arrow batch shape, the
iterator-of-DataFrames UDF signature, partition-preserving execution,
and a deterministic fake "feature extractor" whose output is also
expressible in SQL, so the whole pandas-UDF path has an exact DuckDB
oracle (proving bytes survive the Arrow round-trip).

At scale: mapInPandas streams Arrow batches (no per-row Python); batch
size is controlled by spark.sql.execution.arrow.maxRecordsPerBatch;
binary payloads stay columnar end-to-end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

META_SCHEMA = (
    "url string, n_bytes int, magic string, feat0 int, feat1 int, feat2 int"
)


def decode_image(data: bytes):
    """Real decode would go here (PIL.Image.open).  Not available in
    this container — the plumbing around this stub is the deliverable."""
    raise NotImplementedError(
        "image decode requires PIL/opencv, not present in this environment"
    )


def _extract_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Vectorized metadata extraction over Arrow batches of (url, html).

    The 'features' are deterministic byte-level functions (length,
    first byte, last byte) computed with pandas vector ops — the same
    values the DuckDB oracle computes in SQL — standing in for a real
    decode + featurize, with identical batch mechanics."""
    for pdf in batches:
        blobs = pdf["html"]
        mask = blobs.notna()
        n_bytes = blobs.map(lambda b: len(b) if b is not None else 0)
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "n_bytes": n_bytes.astype("int32"),
                "magic": blobs.map(
                    lambda b: b[:6].decode("ascii", "replace") if b is not None else None
                ),
                "feat0": (n_bytes % 256).astype("int32"),
                "feat1": blobs.map(lambda b: b[0] if b else 0).astype("int32"),
                "feat2": blobs.map(lambda b: b[-1] if b else 0).astype("int32"),
            }
        )


def multimodal_meta(df: DataFrame) -> DataFrame:
    """(url, n_bytes, magic, feat0..2) via mapInPandas over the binary
    column — the Arrow round-trip under test."""
    return df.select("url", "html").mapInPandas(_extract_meta, META_SCHEMA)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xjs.sources.webpages import webpages

    return multimodal_meta(webpages(spark, sf_dir))


def oracle_multimodal_meta_sql(cte: str) -> str:
    # html_str is ASCII by construction, so char ops == byte ops
    return f"""
WITH {cte}
SELECT url,
       CAST(COALESCE(strlen(html_str), 0) AS INTEGER) AS n_bytes,
       CASE WHEN html_str IS NULL THEN NULL ELSE substring(html_str, 1, 6) END AS magic,
       CAST(COALESCE(strlen(html_str), 0) % 256 AS INTEGER) AS feat0,
       CAST(CASE WHEN html_str IS NULL OR html_str = '' THEN 0
                 ELSE ascii(substring(html_str, 1, 1)) END AS INTEGER) AS feat1,
       CAST(CASE WHEN html_str IS NULL OR html_str = '' THEN 0
                 ELSE ascii(substring(html_str, -1, 1)) END AS INTEGER) AS feat2
FROM webpages
"""


RESIZE_SCHEMA = "url string, width int, height int, pixels binary"


def resize_images(df: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Image-resize plumbing: (url, width, height, pixels binary) via
    mapInPandas.  A real implementation would decode + resample here
    (PIL.Image.resize); the container has no image libs, so the raster
    is a deterministic fake — the source bytes truncated or zero-padded
    to exactly width*height — which keeps every Spark-side property
    real and testable: binary-in/binary-out Arrow batches, fixed-size
    output buffers, NULL propagation, narrow partition-preserving
    execution."""
    target = width * height

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_raster(b):
            if b is None:
                return None
            return bytes(b[:target]).ljust(target, b"\x00")

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "width": width,
                    "height": height,
                    "pixels": pdf["html"].map(fake_raster),
                }
            )

    return df.select("url", "html").mapInPandas(resize, RESIZE_SCHEMA)
