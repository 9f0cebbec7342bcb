"""Binary-payload columns: the oracle-checked ``media_bytes_stats`` query.
It only measures payload lengths and decodes nothing."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def media_bytes_stats(spark, sf_dir: str) -> DataFrame:
    """Oracle-checked multimodal-column query: treat each document's utf-8
    bytes as an opaque binary payload (the media analog over real testdata),
    tag a deterministic kind, and aggregate typed metadata per kind —
    count, total/max payload bytes. The payload is only length-inspected;
    nothing decodes it."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return (
        docs.select(kind.alias("kind"), F.octet_length(payload).alias("nbytes"))
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("nbytes").alias("total_bytes"),
            F.max("nbytes").alias("max_bytes"),
        )
        .orderBy("kind")
    )


MEDIA_BYTES_STATS_SQL = """
SELECT kind,
       count(*) AS n_media,
       CAST(sum(nbytes) AS BIGINT) AS total_bytes,
       max(nbytes) AS max_bytes
FROM (
  SELECT (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         octet_length(encode(text)) AS nbytes
  FROM documents
)
GROUP BY kind
ORDER BY kind
"""
