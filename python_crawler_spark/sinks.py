"""Output-sink seam (SURVEY K1/K2): one dispatch point between the
sandbox's parquet analogs and the reference's real connector targets.

The reference writes articles to MySQL with hand-built INSERT strings
(weixin_public.py:245-255) and company docs to MongoDB
(tianyan_extractor.py:28-30). In Spark both become a declarative
``df.write`` whose format is CONFIG, not code — the same seam pattern
as sources.tables.SnapshotStore (parquet now, Iceberg in prod) and
functions.images.decode_image (one decoder per wire format, chosen by
signature).

  SinkTarget("parquet", path=...)                      # sandbox/tests
  SinkTarget("jdbc", url=..., table=..., options=...)  # MySQL analog
  SinkTarget("mongo", uri=..., collection=...)         # needs the
      mongo-spark connector jar on the cluster classpath

The 13-column articles schema (tb_news_resource) and nested companies
schema are identical across targets — column-exactness is tested in
tests/test_crawl_e2e.py; this module only routes the write. SQL-string
escaping (reference X14, weixin_public.py:507-508) is obsolete here:
JDBC writes are parameterized by the driver, never spliced.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class SinkTarget:
    kind: str  # parquet | jdbc | mongo
    path: str | None = None
    url: str | None = None
    table: str | None = None
    uri: str | None = None
    collection: str | None = None
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)


def write_table(df: DataFrame, target: SinkTarget) -> None:
    """Route one output table to its configured sink."""
    if target.kind == "parquet":
        if not target.path:
            raise ValueError("parquet sink requires path")
        df.write.mode(target.mode).options(**target.options).parquet(target.path)
    elif target.kind == "jdbc":
        if not (target.url and target.table):
            raise ValueError("jdbc sink requires url and table")
        (
            df.write.mode(target.mode)
            .format("jdbc")
            .option("url", target.url)
            .option("dbtable", target.table)
            .options(**target.options)
            .save()
        )
    elif target.kind == "mongo":
        if not (target.uri and target.collection):
            raise ValueError("mongo sink requires uri and collection")
        (
            df.write.mode(target.mode)
            .format("mongodb")
            .option("connection.uri", target.uri)
            .option("collection", target.collection)
            .options(**target.options)
            .save()
        )
    else:
        raise ValueError(f"unknown sink kind: {target.kind}")


def write_articles(df: DataFrame, target: SinkTarget) -> None:
    """K1: the tb_news_resource sink (13 columns + lineage)."""
    write_table(df, target)


def write_companies(df: DataFrame, target: SinkTarget) -> None:
    """K2: the nested company-document sink."""
    write_table(df, target)
