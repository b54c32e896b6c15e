"""Seeded input generators.

The seed shapes only the inputs: URL tokens, the host and source mix,
and (for the crawl world) sizes within a narrow band. Workload
fractions — in-batch duplicates, already-seen rows, the hot-host
share, robots-denied rows — are parameters of the generators, never
knobs of the program under test.

Every unique row has its own priority tuple (line_no = uid mod 1e5,
page_no = uid div 1e5), so the schedule is a total order and its
output is exactly reproducible.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_crawler_spark.functions.hashing import bucket_col
from python_crawler_spark.plans.crawl import crawl_delay_col
from python_crawler_spark.sources.worldgen import WorldSpec
from python_crawler_spark.streaming.frontier_stream import STREAM_SCHEMA

N_BUCKETS = 64
SOURCES = ["weixin", "chuansongmen", "tianyan"]
# uid residue (mod 100) whose URL is robots-denied: chuansong.me /n/<d>13
DENY_RESIDUE = 37
MAX_UNIQUE = 5_000_000  # keeps (line_no, page_no) unique per uid


@dataclass(frozen=True)
class FrontierShape:
    """Workload fractions of a generated frontier batch."""

    n: int                   # input rows
    dup_frac: float = 0.10   # rows that repeat an earlier row's URL
    seen_pct: int = 5        # % of unique URLs already in the seen set
    hot_frac: float = 0.5    # share of URLs on the one hot host
    history_frac: float = 0.1  # extra seen keys absent from this batch

    @property
    def unique(self) -> int:
        return self.n - int(self.n * self.dup_frac)


def _mix(seed: int, tag: str, col) -> F.Column:
    return F.xxhash64(F.lit(f"{seed}\x1f{tag}"), col)


def _count_residues(n: int, residues: set[int]) -> int:
    """How many u in [0, n) have u % 100 in ``residues``."""
    full, part = divmod(n, 100)
    return sum(full + (1 if r < part else 0) for r in residues)


def _seen_residues(shape: FrontierShape) -> set[int]:
    return {r for r in range(shape.seen_pct) if r != DENY_RESIDUE}


def expected_scheduled(shape: FrontierShape) -> int:
    """Rows the pass must schedule: unique URLs minus the already-seen
    and the robots-denied ones (disjoint by construction)."""
    u = shape.unique
    return u - _count_residues(u, _seen_residues(shape)) - _count_residues(u, {DENY_RESIDUE})


def expected_streamed(shape: FrontierShape, n_files: int, drained: int) -> int:
    """Rows a stream must schedule after draining the first ``drained``
    of the ``n_files`` files ``write_stream_files`` wrote: their unique
    URLs minus the already-seen ones. The stream path has no robots
    gate."""
    u = min(shape.unique, drained * -(-shape.unique // n_files))
    return u - _count_residues(u, _seen_residues(shape))


def url_col(seed: int, hot_frac: float) -> F.Column:
    u = F.col("uid")
    hot = F.pmod(_mix(seed, "host", u), F.lit(1000)) < F.lit(int(hot_frac * 1000))
    host = F.when(hot, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), F.pmod(_mix(seed, "cold", u), F.lit(1000)).cast("string"),
                 F.lit(".example.com"))
    )
    token = F.lower(F.hex(_mix(seed, "tok", u)))
    return F.when(
        u % 100 == DENY_RESIDUE,
        F.concat(F.lit("http://chuansong.me/n/"), u.cast("string"), F.lit("13")),
    ).otherwise(F.concat(F.lit("http://"), host, F.lit("/"), token, F.lit("/"), u.cast("string")))


def frontier_cols(seed: int, hot_frac: float) -> list[F.Column]:
    """FRONTIER_SCHEMA columns for rows carrying a ``uid`` column."""
    u = F.col("uid")
    src = F.element_at(
        F.array(*[F.lit(s) for s in SOURCES]),
        (F.pmod(_mix(seed, "src", u), F.lit(len(SOURCES))) + 1).cast("int"),
    )
    url = url_col(seed, hot_frac)
    stage = F.lit(2)
    return [
        url.alias("url"),
        src.alias("source"),
        F.lit("bench").alias("name"),
        (u % 100000).cast("int").alias("seed_id"),
        (u % 100000).cast("int").alias("line_no"),
        stage.alias("stage"),
        ((u / 100000).cast("long") % 50).cast("int").alias("page_no"),
        (u % 12).cast("int").alias("link_idx"),
        F.lit(0).alias("attempt"),
        F.lit(1).alias("depth"),
        F.lit("").alias("title"),
        F.lit("").alias("summary"),
        F.lit("").alias("cover"),
        crawl_delay_col(src, stage, url).alias("crawl_delay"),
        F.lit(False).alias("render"),
        F.lit(0).alias("ua_id"),
        F.lit(0).alias("proxy_id"),
    ]


def frontier(spark: SparkSession, shape: FrontierShape, seed: int) -> DataFrame:
    """``shape.n`` frontier rows generated on executors; the last
    ``n - unique`` rows repeat uids 0.. (exact in-batch duplicates)."""
    if shape.unique > MAX_UNIQUE:
        raise ValueError(f"at most {MAX_UNIQUE} unique URLs")
    rows = spark.range(0, shape.n).select((F.col("id") % shape.unique).alias("uid"))
    return rows.select(*frontier_cols(seed, shape.hot_frac))


def seen_set(spark: SparkSession, shape: FrontierShape, seed: int) -> DataFrame:
    """The historical seen set: ``seen_pct`` % of the batch's unique
    URLs (never a denied one) plus ``history_frac`` x unique keys the
    batch does not contain."""
    u = shape.unique
    extra = int(u * shape.history_frac)
    res = sorted(_seen_residues(shape))
    ids = spark.range(0, u + extra).withColumnRenamed("id", "uid")
    ids = ids.filter((F.col("uid") >= u) | (F.col("uid") % 100).isin(res))
    url = url_col(seed, shape.hot_frac)
    return ids.select(
        F.xxhash64(url).alias("key_hash"), url.alias("url"), url.alias("dedup_key"),
        F.lit(0).alias("round"),
    ).withColumn("bucket", bucket_col(F.col("key_hash"), N_BUCKETS))


def write_stream_files(
    spark: SparkSession, shape: FrontierShape, seed: int, n_files: int, drop_dir: str,
) -> None:
    """Write the frontier as ``n_files`` parquet files in priority
    order: file i holds a contiguous uid range (line_no = uid, since
    unique < 1e5), and each file's mtime is later than the previous
    one's, so the file source reads them in order and no file arrives
    below an earlier epoch's watermark. A duplicate row lands in the
    same file as its original, because the stream's seen set is fixed
    at query start. Spark generates the rows; Arrow splits and writes
    them, which costs far less than a partitioned Spark write."""
    if shape.unique >= 100_000:
        raise ValueError("stream inputs keep line_no == uid: unique < 100000")
    per = -(-shape.unique // n_files)
    dups = shape.n - shape.unique
    # a duplicate of uid u is row unique + j with u = j * step, spread
    # over the whole range so every file carries its share
    step = max(1, shape.unique // max(dups, 1))
    uids = spark.range(0, shape.n).select(
        F.when(F.col("id") < shape.unique, F.col("id"))
        .otherwise((F.col("id") - shape.unique) * step % shape.unique).alias("uid")
    )
    table = uids.select(
        *frontier_cols(seed, shape.hot_frac),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_at"),
        (F.col("uid") / per).cast("int").alias("_file"),
    ).toArrow().sort_by([("_file", "ascending"), ("line_no", "ascending")])
    bounds = np.searchsorted(table["_file"].to_numpy(), np.arange(n_files + 1))
    table = table.drop_columns(["_file"])
    os.makedirs(drop_dir, exist_ok=True)
    t = 1_700_000_000
    for i in range(n_files):
        dst = os.path.join(drop_dir, f"f{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), dst)
        os.utime(dst, (t + i, t + i))
    assert spark.read.schema(STREAM_SCHEMA).parquet(drop_dir).count() == shape.n


def world_spec(seed: int) -> WorldSpec:
    """A worldgen world of ~550 fetched pages over 3 rounds; the seed
    moves the tianyan seed count within +-3%."""
    return WorldSpec(
        n_tianyan_seeds=117 + seed % 7,
        weixin_articles_per_account=25,
        csm_max_page_cap=2,
        csm_links_per_page=4,
        imgs_per_article_max=2,
    )
