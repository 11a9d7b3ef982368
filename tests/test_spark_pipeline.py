"""Spark-level pipeline tests: fused extract, checkpoint/resume,
lineage, salting, Arrow batch behavior."""

import os
import shutil
import tempfile

import pandas as pd
import pyspark.sql.functions as F
import pytest

from vlm_ocr_pipeline_spark.plans.pipeline import (
    CheckpointedRun,
    extract,
    salted_repartition,
    split_lineage,
)
from vlm_ocr_pipeline_spark.sources import datagen


@pytest.fixture(scope="module")
def pages(spark):
    return datagen.synth_pages(spark, 120, partitions=4).cache()


def test_fused_extract_byte_identical(spark, pages):
    out = extract(pages)
    joined = out.join(pages.select("url", F.col("text").alias("expected")), "url")
    assert joined.filter(F.col("rendered_plaintext") != F.col("expected")).count() == 0
    assert out.count() == 120


def test_extract_statuses(spark, pages):
    out = extract(pages)
    # empty pages (expected text "") must be 'incomplete', rest 'complete'
    n_empty = pages.filter(F.col("text") == "").count()
    assert out.filter(F.col("status") == "incomplete").count() == n_empty
    assert out.filter(F.col("status") == "complete").count() == 120 - n_empty
    assert n_empty > 0  # corpus includes empty pages by design


def test_lineage_rows_cover_partitions(spark, pages):
    out = extract(pages.repartition(4), keep_lineage=True)
    data, lineage = split_lineage(out)
    lin = lineage.toPandas()
    assert lin["docs_in"].sum() == 120
    assert lin["docs_in"].sum() == lin["docs_out"].sum()
    assert set(lin["stage"]) == {"extract_fused"}
    assert (lin["wall_clock_ms"] >= 0).all()


def test_checkpoint_resume_processes_only_missing(spark, pages):
    wd = tempfile.mkdtemp(prefix="ckpt_test_")
    try:
        half = pages.filter(F.xxhash64("url") % 2 == 0)
        n_half = half.count()
        r1 = CheckpointedRun(spark, wd, run_id="r1")
        assert r1.run(half).count() == n_half

        r2 = CheckpointedRun(spark, wd, run_id="r2")
        full = r2.run(pages)
        assert full.count() == 120
        lin = r2.lineage().toPandas()
        r2_in = lin[(lin.run_id == "r2") & (lin.stage == "stage_detect")]["docs_in"].sum()
        assert r2_in == 120 - n_half  # resume skipped the done half
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_checkpoint_rerun_is_idempotent(spark, pages):
    wd = tempfile.mkdtemp(prefix="ckpt_idem_")
    try:
        CheckpointedRun(spark, wd, run_id="a").run(pages)
        out = CheckpointedRun(spark, wd, run_id="b").run(pages)
        assert out.count() == 120  # no duplicate keys appended
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_salted_repartition_spreads_hot_domain(spark, pages):
    # ~30% of pages share hot.example.com; after salting no partition
    # should hold more than a fair-share multiple
    df = salted_repartition(pages, 8)
    sizes = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()["count"]
    )
    assert len(sizes) <= 8
    assert sizes.max() <= 3 * (120 / 8)


@pytest.mark.parametrize("renderer", ["both", "markdown", "plaintext"])
def test_staged_run_matches_fused_extract(spark, pages, renderer):
    """CheckpointedRun's three checkpointed stages give the same rows as
    the fused single pass, column for column (processed_at is a wall
    clock and differs by design)."""
    wd = tempfile.mkdtemp(prefix="ckpt_vs_fused_")
    try:
        staged = CheckpointedRun(spark, wd, run_id="s").run(pages, renderer=renderer)
        fused = extract(pages, renderer=renderer)
        cols = [c for c in fused.columns if c != "processed_at"]
        assert staged.columns == fused.columns
        got, want = (
            df.select(cols).toPandas().sort_values("url").reset_index(drop=True)
            for df in (staged, fused)
        )
        # the corpus covers both payload kinds and empty pages
        assert len(want) == 120 and set(want["kind"]) == {"html", "pdf"}
        assert (want["status"] == "incomplete").any()
        pd.testing.assert_frame_equal(got, want)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_status_summary_aggregation(spark, pages):
    wd = tempfile.mkdtemp(prefix="ckpt_sum_")
    try:
        run = CheckpointedRun(spark, wd, run_id="s")
        text = run.run(pages)
        summary = run.status_summary(text).toPandas()
        assert summary["n_pages"].sum() == 120
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_dedup_aware_extract_matches_plain(spark, pages):
    from vlm_ocr_pipeline_spark.plans.pipeline import extract_dedup_aware

    # duplicate ~half the pages under new urls (mirror domain)
    mirror = pages.withColumn(
        "url", F.concat(F.lit("https://mirror.example.net/"), F.md5("url"))
    ).filter(F.xxhash64("text") % 2 == 0)
    corpus = pages.unionByName(mirror)
    n = corpus.count()
    out = extract_dedup_aware(corpus)
    assert out.count() == n
    joined = out.join(corpus.select("url", F.col("text").alias("e")), "url")
    assert joined.filter(F.col("rendered_plaintext") != F.col("e")).count() == 0
    # lineage-level evidence the parse ran once per distinct payload
    from vlm_ocr_pipeline_spark.plans.pipeline import extract as plain_extract

    assert out.select("content_hash").distinct().count() == 120


def test_single_renderer_mode(spark, pages):
    md = extract(pages.limit(20), renderer="markdown")
    assert "rendered" in md.columns and "rendered_markdown" not in md.columns
    pt = extract(pages.limit(20), renderer="plaintext")
    joined = pt.join(pages.select("url", F.col("text").alias("e")), "url")
    assert joined.filter(F.col("rendered") != F.col("e")).count() == 0


def test_figure_crop_sink_roundtrip(spark, tmp_path):
    """S14: crops written to parquet round-trip — each crop equals the
    payload's byte span, image_path follows the reference naming scheme
    (images/page_<num>_block_<idx>_<type>.png), and the description
    matches the block's alt text."""
    import re

    from vlm_ocr_pipeline_spark.operators.figures import extract_figure_crops
    from vlm_ocr_pipeline_spark.sources import datagen

    pages = datagen.synth_pages(spark, 120, partitions=4).cache()
    path = str(tmp_path / "figure_crops")
    extract_figure_crops(pages).write.parquet(path)
    crops = spark.read.parquet(path)
    rows = crops.join(pages.select("url", "html"), "url").collect()
    # figures exist on html pages with idx % 7 == 3 — must be non-empty
    assert len(rows) > 0
    for r in rows:
        assert bytes(r.crop) == bytes(r.html)[r.byte_start : r.byte_end]
        assert bytes(r.crop).lower().startswith(b"<img")
        assert re.fullmatch(
            rf"images/page_0_block_{r.block_idx}_image\.png", r.image_path
        )
        assert r.description and r.description.startswith("chart of ")


def test_figure_crop_alt_alignment_skips_suppressed_imgs(spark):
    """An <img> inside a region the detector suppresses (noscript) must
    not steal the byte span of the real captioned figure that follows
    it — pairing aligns on normalized alt text."""
    import pandas as pd

    from vlm_ocr_pipeline_spark.operators.figures import figure_crop_batch

    html = (
        b"<body><noscript><img src='tracker.gif'></noscript>"
        b"<p>real paragraph content long enough to stay here ok</p>"
        b"<img src='figure.png' alt='chart of sales'></body>"
    )
    pdf = pd.DataFrame(
        {"url": ["https://x/1"], "warc_ts": [pd.Timestamp("2025-01-01")],
         "html": [html]}
    )
    out = figure_crop_batch(pdf)
    figs = out[out["description"] == "chart of sales"]
    assert len(figs) == 1
    crop = bytes(figs.iloc[0]["crop"])
    assert b"figure.png" in crop and b"tracker" not in crop
    s, e = int(figs.iloc[0]["byte_start"]), int(figs.iloc[0]["byte_end"])
    assert html[s:e] == crop


def test_prepare_corpus_incremental_dedup_store(spark, tmp_path, corpus_job):
    """--dedup-store: run 1 seeds the bucket state; run 2 on the SAME
    input dedups against it and keeps (almost) nothing — the
    continuous-crawl mode.  Runs IN-PROCESS on the session fixture
    (main(argv, spark=...)) — the subprocess form booted a JVM per run."""
    import pytest

    store = str(tmp_path / "store")

    def run(n):
        return corpus_job(
            "--input", str(tmp_path / f"in{n}"),
            "--output", str(tmp_path / f"out{n}"),
            "--synthesize", "120", "--tokens-per-shard", "5000",
            "--dedup-store", store,
        )

    r1 = run(1)
    assert r1["dedup_store_mode"] == "seeded"
    assert r1["corpus_rows"] > 0
    r2 = run(2)
    # identical synthetic input -> every batch-2 doc collides with the
    # seeded store
    assert r2["dedup_store_mode"] == "incremental"
    assert r2["after_neardup_dedup"] == 0
    assert r2["corpus_rows"] == 0

    # a store is bound to its LSH params: mismatched bands must
    # hard-fail (different-param buckets never collide — the dedup
    # would silently be a no-op)
    with pytest.raises(Exception, match="seeded with"):
        corpus_job(
            "--input", str(tmp_path / "in1"),
            "--output", str(tmp_path / "out3"),
            "--tokens-per-shard", "5000",
            "--dedup-store", store, "--lsh-bands", "2",
        )


def test_prepare_corpus_job_end_to_end(spark, tmp_path, corpus_job):
    """jobs/prepare_corpus.py: the composed extract -> quality -> dedup
    -> split -> shard chain and its report invariants (in-process on
    the session fixture; the CLI surface itself is covered by the
    spark-submit demo in scripts/submit_local.sh and the subprocess
    run in test_frontier.py)."""
    import json
    import os

    import pandas as pd

    eval_path = str(tmp_path / "eval.parquet")
    pd.DataFrame(
        {"doc_id": [1], "text": [" ".join("zq" * 3 for _ in range(20))]}
    ).to_parquet(eval_path)
    ref_path = str(tmp_path / "quality_ref.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "text": [
                f"reference prose document {i} describing measured results "
                "in complete sentences with ordinary vocabulary"
                for i in range(6)
            ],
        }
    ).to_parquet(ref_path)
    robots_path = str(tmp_path / "robots.parquet")
    pd.DataFrame(
        {
            "host": ["hot.example.com"],
            # wildcard rule on a path no synthetic page uses: exercises
            # the RFC 9309 path through the driver without changing the
            # count invariants below
            "body": ["User-agent: *\nDisallow: /private/*\n"],
        }
    ).to_parquet(robots_path)
    report = corpus_job(
        "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
        "--synthesize", "300", "--tokens-per-shard", "5000",
        "--test-fraction", "0.1",
        # exercise the optional stages: a non-matching blocklist
        # resolved through the bundled PSL, robots compliance,
        # substring-level span scrub, deterministic epoch order,
        # a generous perplexity ceiling, disjoint-eval
        # decontamination, and BPE-budgeted shards
        "--blocklist", "blocked.example.net", "--psl", "builtin",
        "--robots", robots_path,
        "--scrub-span-ngram", "8", "--epoch-seed", "e1",
        "--quality-reference", ref_path, "--min-p-good", "1e-9",
        "--max-bits-per-byte", "7.9",
        "--decontaminate-against", eval_path,
        "--bpe-merges", "30",
    )
    assert report["pages_in"] == 300
    assert report["blocklist_domains"] == 1
    assert report["robots_hosts"] == 1
    assert report["bpe_merges"] == 30
    merges = json.load(open(os.path.join(str(tmp_path / "out"), "bpe_merges.json")))
    assert len(merges) == 30 and all(len(p) == 2 for p in merges)
    assert (
        report["pages_in"] >= report["after_quality_gate"]
        >= report["after_classifier_gate"]
        >= report["after_perplexity_gate"]
        >= report["after_decontamination"]
        >= report["after_exact_dedup"] >= report["after_span_scrub"]
        >= report["after_neardup_dedup"]
        == report["corpus_rows"] > 0
    )
    # the eval set is vocabulary-disjoint: decontamination drops nothing
    assert report["after_decontamination"] == report["after_perplexity_gate"]
    assert 0 < report["n_test"] < report["corpus_rows"]
    assert report["n_shards"] >= 1
