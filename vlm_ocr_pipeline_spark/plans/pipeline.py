"""Extraction pipeline DAG assembly.

Two execution modes over the same stage functions:

- :func:`extract` — FUSED: detect→order→correct→render in ONE
  mapInPandas pass (one Arrow round-trip total).  Lazy, composable,
  what benchmarks and downstream queries use.
- :class:`CheckpointedRun` — STAGED: one mapInPandas per stage with a
  parquet checkpoint table after each, anti-join resume on
  ``(url, warc_ts)`` (the reference's per-stage JSON checkpoints +
  progress file, pipeline/checkpoint/progress.py:230-260 /
  serializer.py:252-317, re-expressed as idempotent table appends —
  SURVEY §3.4).

Skew: ``salted_repartition`` spreads hot host-domains across partitions
by hashing the full key — a contiguous crawl of one domain lands in one
input file but never in one task (north_rule requirement; SURVEY §4.4).
The salt is physical only: the logical key stays (url, warc_ts).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import schema
from ..operators import stages


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition by the full-width xxhash64 of the document key so a
    skewed host-domain can never pin a single task: hashing the FULL
    key (url + warc_ts, not the domain) spreads a hot domain's pages
    uniformly across all partitions while keeping placement
    key-deterministic.

    Note: do NOT pre-bucket the hash (e.g. pmod(hash, k)) before
    repartitioning — a small bucket domain re-hashes unevenly into the
    partitioner and manufactures skew (observed 18x max/min row
    imbalance with 512 buckets into 64 partitions)."""
    return df.repartition(num_partitions, F.xxhash64("url", "warc_ts"))


def split_lineage(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Separate data rows from per-partition lineage marker rows."""
    data = df.filter(F.col("_lineage").isNull()).drop("_lineage")
    lineage = df.filter(F.col("_lineage").isNotNull()).select("_lineage.*")
    return data, lineage


def extract(
    pages: DataFrame,
    run_id: str = "adhoc",
    repartition_to: int | None = None,
    keep_lineage: bool = False,
    renderer: str = "both",
) -> DataFrame:
    """Fused extraction: pages -> stage_text rows, lazily.

    Column pruning: only (url, warc_ts, html) are read — the payload
    column never travels past this stage (SURVEY §4.2).
    ``renderer``: "markdown"/"plaintext" emit a single ``rendered``
    column (~25% fewer output bytes — bandwidth matters at scale);
    "both" keeps the two explicit columns.
    """
    import functools

    src = pages.select("url", "warc_ts", "html")
    if repartition_to:
        src = salted_repartition(src, repartition_to)
    out_schema = schema.text_stage_schema(renderer)
    fn = stages.with_lineage(
        functools.partial(stages.fused_extract_batch, renderer=renderer),
        "extract_fused", run_id, out_schema,
    )
    out = src.mapInPandas(fn, schema=out_schema)
    if keep_lineage:
        return out
    return out.filter(F.col("_lineage").isNull()).drop("_lineage")


def extract_pdf_font_markdown(pages: DataFrame, run_id: str = "adhoc") -> DataFrame:
    """Fused PDF extraction with pymupdf4llm-style font-size header
    levels (the reference's third markdown renderer).  Same zero-shuffle
    shape as :func:`extract`: scan -> one mapInPandas -> columns."""
    src = pages.select("url", "warc_ts", "html")
    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("rendered_markdown", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("_lineage", schema.LINEAGE_STRUCT),
        ]
    )
    fn = stages.with_lineage(
        stages.font_markdown_batch, "extract_font_md", run_id, out_schema
    )
    out = src.mapInPandas(fn, schema=out_schema)
    return out.filter(F.col("_lineage").isNull()).drop("_lineage")


def extract_dedup_aware(pages: DataFrame, run_id: str = "adhoc") -> DataFrame:
    """Content-hash-memoized extraction: parse each DISTINCT payload
    once, then broadcast-free join results back to every (url, warc_ts).

    Real crawls carry 20-40% exact-duplicate payloads (mirrors,
    trailing-slash variants, recrawls) — this is the distributed analog
    of the reference's image-hash recognition cache
    (pipeline/recognition/cache.py:37-52), except it actually has call
    sites.  Cost: one shuffle on the 16-byte content hash (tiny rows),
    in exchange for parsing only distinct payloads.
    """
    hashed = pages.select(
        "url", "warc_ts", F.md5("html").alias("content_hash"), "html"
    )
    distinct_payloads = hashed.select("content_hash", "html").dropDuplicates(
        ["content_hash"]
    )
    # reuse the fused stage over the distinct set, keyed by the hash
    as_pages = distinct_payloads.select(
        F.col("content_hash").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
    )
    extracted = (
        extract(as_pages, run_id=run_id)
        .withColumnRenamed("url", "content_hash")
        .drop("warc_ts")
    )
    return hashed.drop("html").join(extracted, "content_hash")


class CheckpointedRun:
    """Staged run with resumable parquet checkpoint tables.

    Layout under ``workdir``::

        stage_detect/   stage_order/   stage_text/   lineage/

    Each invocation processes only keys absent from the stage's table
    (left_anti on (url, warc_ts)) and appends — re-running after a crash
    is idempotent, matching the reference's resume contract.
    """

    STAGES = ("stage_detect", "stage_order", "stage_text")

    def __init__(self, spark: SparkSession, workdir: str, run_id: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id or uuid.uuid4().hex[:12]

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _done_keys(self, name: str) -> DataFrame | None:
        path = self._path(name)
        if not os.path.isdir(path):  # local-fs stand-in for catalog lookup
            return None
        try:
            return self.spark.read.parquet(path).select(*schema.KEY_COLS)
        except Exception:
            return None

    def _run_stage(
        self, name: str, src: DataFrame, fn, out_schema
    ) -> DataFrame:
        """Anti-join todo, mapInPandas, append (data + lineage), return
        the stage's full table."""
        done = self._done_keys(name)
        todo = src
        if done is not None:
            todo = src.join(done, on=schema.KEY_COLS, how="left_anti")
        wrapped = stages.with_lineage(fn, name, self.run_id, out_schema)
        result = todo.mapInPandas(wrapped, schema=out_schema)
        # one write materializes both the stage rows and lineage markers
        result.write.mode("append").parquet(self._path(name))
        full = self.spark.read.parquet(self._path(name))
        data, lineage = split_lineage(full)
        lineage.filter(F.col("run_id") == self.run_id).write.mode("append").parquet(
            self._path("lineage")
        )
        return data

    def _check_input_fingerprint(self, pages: DataFrame) -> None:
        """Input validation on resume (reference progress.py:262-283):
        the source schema must match what the checkpoints were built
        from; a changed schema invalidates the workdir."""
        import json

        fp = {"schema": pages.schema.simpleString()}
        path = os.path.join(self.workdir, "input_fingerprint.json")
        if os.path.exists(path):
            with open(path) as f:
                prev = json.load(f)
            if prev != fp:
                raise ValueError(
                    f"input fingerprint changed since checkpoints were "
                    f"written: {prev} != {fp}; use a fresh workdir"
                )
        else:
            os.makedirs(self.workdir, exist_ok=True)
            with open(path, "w") as f:
                json.dump(fp, f)

    def run(
        self,
        pages: DataFrame,
        repartition_to: int | None = None,
        renderer: str = "both",
    ) -> DataFrame:
        import functools

        self._check_input_fingerprint(pages)
        src = pages.select("url", "warc_ts", "html")
        if repartition_to:
            src = salted_repartition(src, repartition_to)
        detected = self._run_stage(
            "stage_detect", src, stages.detect_batch, schema.blocks_stage_schema()
        )
        ordered = self._run_stage(
            "stage_order", detected, stages.order_batch, schema.blocks_stage_schema()
        )
        text = self._run_stage(
            "stage_text",
            ordered,
            functools.partial(stages.finish_batch, renderer=renderer),
            schema.text_stage_schema(renderer),
        )
        return text

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self._path("lineage"))

    def status_summary(self, text_df: DataFrame) -> DataFrame:
        """Run summary aggregation (reference output_stage.py:122-199):
        page counts per status + completion rate."""
        return text_df.groupBy("status").agg(
            F.count("*").alias("n_pages"),
            F.avg("n_blocks").alias("avg_blocks"),
        )
