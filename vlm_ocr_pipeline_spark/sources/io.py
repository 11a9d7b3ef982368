"""Auxiliary sinks/sources (SURVEY §2.1 S9-S13 analogs).

The primary sink is the parquet/Iceberg-style stage table written by
CheckpointedRun; these are the debug/export formats the reference
emits as JSON files, re-expressed as distributed writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_stage_text_json(text_df: DataFrame, path: str) -> None:
    """Per-page JSON export (S9 analog of json/page_N.json): one JSON
    object per line keyed by (url, warc_ts)."""
    text_df.drop("_lineage").write.mode("overwrite").json(path)


def write_blocks_json(blocks_df: DataFrame, path: str) -> None:
    """Blocks debug sink (S12 analog): blocks array serialized to JSON
    with the xywh list format the reference uses on disk
    (block.py:276 — internal xyxy flattened to [x, y, w, h])."""
    out = blocks_df.withColumn(
        "blocks_xywh",
        F.transform(
            "blocks",
            lambda b: F.struct(
                b["type"].alias("type"),
                F.array(
                    b["x0"], b["y0"], b["x1"] - b["x0"], b["y1"] - b["y0"]
                ).alias("xywh"),
                b["detection_confidence"].alias("detection_confidence"),
                b["order"].alias("order"),
                b["text"].alias("text"),
            ),
        ),
    ).drop("blocks", "_lineage")
    out.write.mode("overwrite").json(path)


def read_stage_text_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def write_run_summary(summary_df: DataFrame, path: str) -> None:
    """Run summary sink (S11 analog of summary.json)."""
    summary_df.coalesce(1).write.mode("overwrite").json(path)
