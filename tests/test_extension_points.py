"""Extension-point surfaces (§2.9): registries, combo validation, SQL
functions, JSON sinks, layoutreader sorter, input fingerprint."""

import shutil
import tempfile

import numpy as np
import pyspark.sql.functions as F
import pytest

from vlm_ocr_pipeline_spark.functions import layoutreader
from vlm_ocr_pipeline_spark.operators import stages
from vlm_ocr_pipeline_spark.sources import datagen, io as srcio


# ---- layoutreader kernel -------------------------------------------------
def test_line_height_median_and_fallback():
    blocks = [
        {"type": "text", "x0": 0, "y0": 0, "x1": 10, "y1": 10},
        {"type": "text", "x0": 0, "y0": 20, "x1": 10, "y1": 34},
        {"type": "image", "x0": 0, "y0": 40, "x1": 10, "y1": 140},
    ]
    assert layoutreader.estimate_line_height(blocks) == 12.0
    assert layoutreader.estimate_line_height(
        [{"type": "image", "x0": 0, "y0": 0, "x1": 1, "y1": 1}]
    ) == 10.0


def test_tall_text_blocks_split_into_lines():
    blocks = [
        {"type": "text", "x0": 0, "y0": 0, "x1": 10, "y1": 10},   # 1 line
        {"type": "text", "x0": 0, "y0": 20, "x1": 10, "y1": 60},  # h=40 > 2*lh
    ]
    lh = layoutreader.estimate_line_height(blocks)  # median(10, 40) = 25 -> not split
    lines = layoutreader.split_blocks_into_lines(blocks, 10.0)
    counts = {}
    for _, idx in lines:
        counts[idx] = counts.get(idx, 0) + 1
    assert counts == {0: 1, 1: 4}  # 40/10 = 4 lines


def test_layoutreader_order_median_rule():
    blocks = [
        {"type": "text", "x0": 0, "y0": 50, "x1": 100, "y1": 60},
        {"type": "text", "x0": 0, "y0": 0, "x1": 100, "y1": 10},
    ]
    ranks = layoutreader.layoutreader_order(blocks)
    assert ranks.tolist() == [1, 0]


def test_layoutreader_via_registry_sorter():
    blocks = [
        {"type": "text", "x0": 0, "y0": 50, "x1": 100, "y1": 60, "text": "b"},
        {"type": "text", "x0": 0, "y0": 0, "x1": 100, "y1": 10, "text": "a"},
    ]
    out = stages.order_blocks(blocks, "pdf", sorter="layoutreader")
    assert [b["text"] for b in out] == ["a", "b"]


# ---- registries + combo validation ----------------------------------------
def test_detector_registry_and_combos():
    assert set(stages.DETECTORS) >= {"dom", "pdf-spans"}
    stages.validate_combo("dom", "preserve-detector-order")
    stages.validate_combo("pdf-spans", "mineru-xycut")
    with pytest.raises(ValueError):
        stages.validate_combo("dom", "mineru-xycut")


def test_register_custom_sorter():
    def reversed_sorter(blocks):
        for rank, b in enumerate(reversed(blocks)):
            b["order"] = rank
        return sorted(blocks, key=lambda b: b["order"])

    stages.register_sorter("reversed", reversed_sorter)
    try:
        blocks = [{"type": "text", "x0": 0, "y0": 0, "x1": 1, "y1": 1, "text": "a"},
                  {"type": "text", "x0": 0, "y0": 5, "x1": 1, "y1": 6, "text": "b"}]
        out = stages.order_blocks(blocks, "pdf", sorter="reversed")
        assert [b["text"] for b in out] == ["b", "a"]
    finally:
        del stages.SORTERS["reversed"]


# ---- SQL function surface -------------------------------------------------
def test_sql_registered_extraction(spark):
    from vlm_ocr_pipeline_spark.plans.sqlfuncs import register_sql_functions

    register_sql_functions(spark)
    pages = datagen.synth_pages(spark, 20, partitions=2)
    pages.createOrReplaceTempView("pages_sql_test")
    got = spark.sql(
        "SELECT url, extract_plaintext(html) AS pt, sniff_kind(html) AS k "
        "FROM pages_sql_test"
    )
    joined = got.join(pages.select("url", F.col("text").alias("e")), "url")
    assert joined.filter(F.col("pt") != F.col("e")).count() == 0
    kinds = {r["k"] for r in got.select("k").distinct().collect()}
    assert kinds == {"html", "pdf"}


# ---- JSON sinks -------------------------------------------------------------
def test_json_sinks_roundtrip(spark):
    base = tempfile.mkdtemp(prefix="sink_")
    try:
        from vlm_ocr_pipeline_spark.plans.pipeline import extract

        pages = datagen.synth_pages(spark, 10, partitions=1)
        text = extract(pages)
        srcio.write_stage_text_json(text, f"{base}/text_json")
        back = srcio.read_stage_text_json(spark, f"{base}/text_json")
        assert back.count() == 10
        assert "rendered_plaintext" in back.columns
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_blocks_json_xywh_format(spark):
    base = tempfile.mkdtemp(prefix="sinkb_")
    try:
        from vlm_ocr_pipeline_spark import schema
        from vlm_ocr_pipeline_spark.operators.stages import detect_batch, with_lineage

        pages = datagen.synth_pages(spark, 5, partitions=1)
        out_schema = schema.blocks_stage_schema()
        blocks = pages.select("url", "warc_ts", "html").mapInPandas(
            with_lineage(detect_batch, "detect", "t", out_schema),
            schema=out_schema,
        ).filter(F.col("_lineage").isNull())
        srcio.write_blocks_json(blocks, f"{base}/blocks_json")
        back = spark.read.json(f"{base}/blocks_json")
        row = back.select(F.explode("blocks_xywh").alias("b")).first()
        assert len(row["b"]["xywh"]) == 4  # serialized as xywh list
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---- input fingerprint ------------------------------------------------------
def test_resume_rejects_changed_input_schema(spark):
    from vlm_ocr_pipeline_spark.plans.pipeline import CheckpointedRun

    wd = tempfile.mkdtemp(prefix="fp_")
    try:
        pages = datagen.synth_pages(spark, 10, partitions=1)
        CheckpointedRun(spark, wd, run_id="a").run(pages)
        mutated = pages.withColumn("extra", F.lit(1))
        with pytest.raises(ValueError, match="fingerprint"):
            CheckpointedRun(spark, wd, run_id="b").run(mutated)
    finally:
        shutil.rmtree(wd, ignore_errors=True)
