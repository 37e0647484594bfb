"""Driver-gate image-payload queries (BASELINE.json input_hint table).

Oracle-able queries derive from pure arithmetic on `documents` (the
image table's parent): metadata projection and spatial kNN over image
centroids with caption payload (caption equality is part of the value
hash — the gate's byte-for-byte caption check). Pixel-dependent queries
(phash dedup, decode stats) are oracled through a precomputed fixture
parquet (scripts/gen_phash_fixture.py): their outputs are pure functions
of the caption text, materialized once and joined by the DuckDB oracle
on caption_md5. Drift between the fixture and the live kernels fails
tests/test_images.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import images as im
from ..grid import Grid
from ..index import SpatialIndex
from ..queries.knn import knn_join

GRID_G = 8
IMG_QUERY_FILTER = "doc_id % 37 = 5"

_IMG_CACHE: dict = {}


def get_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    if key not in _IMG_CACHE:
        _IMG_CACHE[key] = im.synth_images(spark, sf_dir).cache()
    return _IMG_CACHE[key]


# -------------------------------------------------------------- metadata

def q_image_meta(spark, sf_dir) -> DataFrame:
    """Schema/metadata projection of the synthesized image table; w, h
    and centroid derive arithmetically from doc_id -> exact oracle."""
    imgs = get_images(spark, sf_dir)
    return imgs.select(
        "image_id", "w", "h", "fmt",
        F.length("caption").alias("caption_len"),
        F.md5("caption").alias("caption_md5"),
        "cx", "cy")


SQL_IMAGE_META = f"""
SELECT printf('img-%012d', doc_id) AS image_id,
       CAST({im.W_SQL} AS INT) AS w, CAST({im.H_SQL} AS INT) AS h,
       CASE WHEN doc_id % 2 = 0 THEN 'raw' ELSE 'rawz' END AS fmt,
       CAST(length(text) AS INT) AS caption_len,
       md5(text) AS caption_md5,
       {im.CX_SQL} AS cx, {im.CY_SQL} AS cy
FROM documents"""


# ------------------------------------------------------------ spatial kNN

def q_image_knn(spark, sf_dir) -> DataFrame:
    """kNN k=5 over image centroids through the two-level index, with
    the neighbor's caption hash as payload (caption byte-equality rides
    the value hash)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("_img_docs")
    ikey = (id(spark), sf_dir, "imgidx")
    if ikey not in _IMG_CACHE:
        pts = spark.sql(
            f"SELECT doc_id AS pid, {im.CX_SQL} AS x, {im.CY_SQL} AS y "
            f"FROM _img_docs")
        _IMG_CACHE[ikey] = SpatialIndex.build(spark, pts, grid=Grid(GRID_G))
    idx = _IMG_CACHE[ikey]
    q = spark.sql(
        f"SELECT doc_id AS qid, {im.CX_SQL} AS x, {im.CY_SQL} AS y "
        f"FROM _img_docs WHERE {IMG_QUERY_FILTER}")
    out = knn_join(idx, q, 5)
    caps = docs.select(F.col("doc_id").alias("nid"),
                       F.md5("text").alias("caption_md5"))
    return (out.join(caps, "nid")
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq", "caption_md5"))


SQL_IMAGE_KNN = f"""
WITH pts AS (SELECT doc_id AS pid, {im.CX_SQL} AS x, {im.CY_SQL} AS y,
                    md5(text) AS caption_md5
             FROM documents),
q AS (SELECT pid AS qid, x AS qx, y AS qy FROM pts
      WHERE {IMG_QUERY_FILTER.replace('doc_id', 'pid')}),
d AS (SELECT q.qid, p.pid AS nid,
             (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
             AS dist_sq, p.caption_md5
      FROM q CROSS JOIN pts p),
r AS (SELECT qid, nid, dist_sq, caption_md5,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq, caption_md5
FROM r WHERE rank <= 5"""


# ----------------------------------------------------- pixel-dependent

def q_image_phash_dedup(spark, sf_dir) -> DataFrame:
    """Near-duplicate images by phash Hamming <= 7 (multi-index join).

    Oracled exactly: phash is a pure function of the caption text
    (images.py content_seed/render_pixels/phash64), precomputed once
    into fixtures_data/image_phash.parquet (scripts/gen_phash_fixture.py)
    keyed by caption_md5, so DuckDB reproduces the join by brute-force
    popcount over the fixture values."""
    return im.phash_pairs(get_images(spark, sf_dir), 7)


_PHASH_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "fixtures_data",
    "image_phash.parquet")

SQL_IMAGE_PHASH_DEDUP = f"""
WITH ph AS (
  SELECT printf('img-%012d', d.doc_id) AS image_id, f.phash
  FROM documents d
  JOIN read_parquet('{_PHASH_FIXTURE}') f
    ON md5(d.text) = f.caption_md5
)
SELECT a.image_id AS ia, b.image_id AS ib,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 7"""


IMG_SPATIAL_R = 100_000
IMG_SPATIAL_HAMMING = 26


def q_image_spatial_phash(spark, sf_dir) -> DataFrame:
    """Axes-A+B cross gate: image pairs spatially within IMG_SPATIAL_R
    (centroid domain) AND perceptually within IMG_SPATIAL_HAMMING
    phash bits — images.spatial_phash_pairs (distance_join blocking +
    JVM popcount verify). Oracled via the phash fixture + the exact
    centroid arithmetic."""
    return im.spatial_phash_pairs(get_images(spark, sf_dir),
                                  IMG_SPATIAL_R, IMG_SPATIAL_HAMMING,
                                  grid=Grid(GRID_G))


SQL_IMAGE_SPATIAL_PHASH = f"""
WITH ph AS (
  SELECT printf('img-%012d', d.doc_id) AS image_id,
         {im.CX_SQL} AS cx, {im.CY_SQL} AS cy, f.phash
  FROM documents d
  JOIN read_parquet('{_PHASH_FIXTURE}') f
    ON md5(d.text) = f.caption_md5
)
SELECT a.image_id AS ia, b.image_id AS ib,
       (a.cx - b.cx) * (a.cx - b.cx)
     + (a.cy - b.cy) * (a.cy - b.cy) AS dist_sq,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.image_id < b.image_id
WHERE (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy)
      <= {IMG_SPATIAL_R}::BIGINT * {IMG_SPATIAL_R}::BIGINT
  AND bit_count(xor(a.phash, b.phash)) <= {IMG_SPATIAL_HAMMING}"""


def q_image_decode_stats(spark, sf_dir) -> DataFrame:
    """Decode + feature extraction over every image (round-trip PSNR is
    re-asserted >= 40 dB inside the query).

    Oracled exactly: phash_check and mean_lum_c are pure functions of
    the caption (both codecs are lossless, so the PSNR filter keeps
    every row and phash_check == stored phash); the fixture parquet
    carries both precomputed per caption_md5."""
    feats = im.decode_features(get_images(spark, sf_dir))
    return (feats.filter(F.col("psnr_db") >= 40.0)
            .select("image_id", "phash_check",
                    F.floor(F.col("mean_lum") * 100).cast("long")
                    .alias("mean_lum_c")))


SQL_IMAGE_DECODE_STATS = f"""
SELECT printf('img-%012d', d.doc_id) AS image_id,
       f.phash AS phash_check, f.mean_lum_c
FROM documents d
JOIN read_parquet('{_PHASH_FIXTURE}') f ON md5(d.text) = f.caption_md5"""


QUERIES = {
    "image_meta": q_image_meta,
    "image_knn": q_image_knn,
    "image_phash_dedup": q_image_phash_dedup,
    "image_spatial_phash": q_image_spatial_phash,
    "image_decode_stats": q_image_decode_stats,
}

ORACLES = {
    "image_meta": SQL_IMAGE_META,
    "image_knn": SQL_IMAGE_KNN,
    "image_phash_dedup": SQL_IMAGE_PHASH_DEDUP,
    "image_spatial_phash": SQL_IMAGE_SPATIAL_PHASH,
    # decode values are pure functions of the caption text -> oracled
    # via the precomputed phash fixture (scripts/gen_phash_fixture.py)
    "image_decode_stats": SQL_IMAGE_DECODE_STATS,
}
