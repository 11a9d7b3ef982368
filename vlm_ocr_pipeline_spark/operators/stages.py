"""Extraction pipeline stages as pandas batch functions + mapInPandas
wrappers with per-partition lineage.

Stage contract (mirrors the reference's staged batch processor,
pipeline/batch/processor.py:19-110, re-expressed columnar):

- each stage is a ``pd.DataFrame -> pd.DataFrame`` function applied per
  Arrow batch inside ``mapInPandas`` — heavy per-partition state is
  initialized once per task, the Spark analog of "load model once per
  stage" (reference pipeline/__init__.py:186-253);
- per-row failures become ``status`` values, never exceptions
  (reference batch/types.py:77-80 mark_failed + processor.py:218
  filters);
- every stage emits ONE lineage row per partition (partition id, docs
  in/out, bytes in, wall-clock) carried in a ``_lineage`` struct column
  and split off downstream (SURVEY §4.14) — no driver collect.

Note on "no per-row Python": rows cross the JVM/Python boundary only as
Arrow record batches (mapInPandas); the per-document parse loop inside a
batch is inherent to parsing (each document is one parse unit) and runs
entirely in-process over the batch.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from datetime import datetime, timezone
from typing import Any

import pandas as pd
from pyspark.sql.types import StructType

from ..functions import (
    charset,
    correction,
    dedup_blocks,
    html_extract,
    ordering,
    pdf_extract,
)

import numpy as np

PandasStage = Callable[[pd.DataFrame], pd.DataFrame]

_BLOCK_FIELDS = (
    "type", "x0", "y0", "x1", "y1", "detection_confidence", "order",
    "column_index", "text", "corrected_text", "correction_ratio",
    "description", "image_path",
)


def _norm_block(b: dict[str, Any]) -> dict[str, Any]:
    """Fill every BLOCK_STRUCT field so Arrow struct conversion is total."""
    return {f: b.get(f) for f in _BLOCK_FIELDS}


def sniff_kind(payload: bytes | None) -> str:
    """Payload dispatch: the wrapper-scan analog (SURVEY S1/S3)."""
    if payload is None:
        return "empty"
    if payload[:4] == pdf_extract.PDF_MAGIC:
        return "pdf"
    return "html"


# ---------------------------------------------------------------- detect
def detect_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Stage 1+2 analog (input load + layout detection): binary payload
    -> blocks in the unified model.

    HTML pages get DOM-order ``order`` assigned at detect time (the
    PP-DocLayoutV2 contract); PDF pages leave ``order`` None for the
    ordering stage (XY-cut).
    """
    urls = pdf["url"].to_numpy()
    tss = pdf["warc_ts"].to_numpy()
    payloads = pdf["html"].to_numpy()
    kinds, titles, blocks_col, n_blocks, statuses = [], [], [], [], []
    for payload in payloads:
        kind = sniff_kind(payload)
        title = None
        blocks: list[dict[str, Any]] = []
        status = "detected"
        try:
            if kind == "pdf":
                blocks, title = _detect_pdf(payload)
            elif kind == "html":
                blocks, title = _detect_html(payload)
            else:
                status = "failed:empty_payload"
        except Exception as e:  # defensive: parse failures are row status
            status = f"failed:{type(e).__name__}"
            blocks = []
        kinds.append(kind)
        titles.append(title)
        blocks_col.append([_norm_block(b) for b in blocks])
        n_blocks.append(len(blocks))
        statuses.append(status)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": tss,
            "kind": kinds,
            "page_title": titles,
            "blocks": blocks_col,
            "n_blocks": n_blocks,
            "status": statuses,
        }
    )


# ----------------------------------------------------------------- order
# non-content types stripped between detect and render: the boilerplate
# drop (SURVEY P5 — markdown renders these as "" anyway; filtering here
# keeps the plaintext renderer faithful to the reference while still
# excluding boilerplate from extracted text)
_NON_CONTENT_TYPES = {"discarded", "abandon", "header", "footer", "page_number"}


def _boxes_of(blocks: list[dict[str, Any]]) -> np.ndarray:
    return np.array(
        [[b["x0"], b["y0"], b["x1"], b["y1"]] for b in blocks], dtype=np.int64
    )


def _sort_xycut(blocks: list[dict[str, Any]]) -> list[dict[str, Any]]:
    perm = ordering.xy_cut_order(_boxes_of(blocks))
    ordered = [blocks[i] for i in perm]
    for rank, b in enumerate(ordered):
        b["order"] = rank
    # blocks the projection split dropped (degenerate coords) keep order=None
    placed = set(perm.tolist())
    leftovers = [blocks[i] for i in range(len(blocks)) if i not in placed]
    return ordered + leftovers


def _sort_fallback(blocks: list[dict[str, Any]]) -> list[dict[str, Any]]:
    perm = ordering.fallback_order(_boxes_of(blocks))
    ordered = [blocks[i] for i in perm]
    for rank, b in enumerate(ordered):
        b["order"] = rank
    return ordered


def _sort_preserve(blocks: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Keep detector-assigned order; unranked blocks (order=None) go
    LAST in their original sequence — the reference convention shared by
    every renderer sort (io/output/markdown/pymupdf4llm.py:241-246 and
    rank_sort here at functions/rendering.py)."""
    ranked = [b for b in blocks if b.get("order") is not None]
    unranked = [b for b in blocks if b.get("order") is None]
    ranked.sort(key=lambda b: b["order"])
    blocks = ranked + unranked
    for rank, b in enumerate(blocks):
        b["order"] = rank
    return blocks


def _sort_multicolumn(blocks: list[dict[str, Any]]) -> list[dict[str, Any]]:
    from ..functions import columns as col_kernel

    boxes = _boxes_of(blocks)
    page_width = int(boxes[:, 2].max()) if len(boxes) else 0
    ranks, col_idx = col_kernel.multicolumn_order(boxes, page_width)
    for b, r, c in zip(blocks, ranks, col_idx):
        b["order"] = int(r)
        b["column_index"] = int(c)
    return sorted(blocks, key=lambda b: b["order"])


def _sort_layoutreader(blocks: list[dict[str, Any]]) -> list[dict[str, Any]]:
    from ..functions import layoutreader

    ranks = layoutreader.layoutreader_order(blocks)
    for b, r in zip(blocks, ranks):
        b["order"] = int(r)
    return sorted(blocks, key=lambda b: b["order"])


# Sorter registry — the §2.9 extension-point surface (reference:
# pipeline/layout/ordering/registry.py:23-157).  register_sorter() adds
# custom entries; stage config picks by name, "auto" dispatches on kind.
SORTERS: dict[str, Callable[[list[dict[str, Any]]], list[dict[str, Any]]]] = {
    "mineru-xycut": _sort_xycut,
    "fallback": _sort_fallback,
    "preserve-detector-order": _sort_preserve,
    "multicolumn": _sort_multicolumn,
    "layoutreader": _sort_layoutreader,
}

# Detector registry: payload-kind front-ends (reference detector
# registry, pipeline/layout/detection/registry.py:23-174).  A detector
# takes the raw payload and returns (blocks, page_title).
def _detect_html(payload: bytes) -> tuple[list[dict[str, Any]], str | None]:
    # charset ladder, not utf-8/replace: a windows-1251 or Shift_JIS page
    # decodes byte-exactly instead of becoming U+FFFD soup (charset.py)
    page = html_extract.extract_html_page(charset.decode_payload(payload)[0])
    return page["blocks"], page["title"]


def _detect_pdf(payload: bytes) -> tuple[list[dict[str, Any]], str | None]:
    return pdf_extract.spans_to_blocks(pdf_extract.extract_pdf_spans(payload)), None


DETECTORS: dict[str, Callable[[bytes], tuple[list[dict[str, Any]], str | None]]] = {
    "dom": _detect_html,
    "pdf-spans": _detect_pdf,
}

# detector x sorter compatibility (reference combination validation,
# pipeline/layout/ordering/__init__.py:64-106): DOM blocks carry
# synthetic geometry, so geometric sorters other than order-preserve
# are invalid for them
VALID_COMBOS: dict[str, set[str]] = {
    "dom": {"preserve-detector-order", "fallback", "auto"},
    "pdf-spans": {"mineru-xycut", "multicolumn", "layoutreader", "fallback", "auto"},
}


def validate_combo(detector: str, sorter: str) -> None:
    allowed = VALID_COMBOS.get(detector)
    if allowed is not None and sorter not in allowed:
        raise ValueError(
            f"sorter {sorter!r} is not valid for detector {detector!r}; "
            f"allowed: {sorted(allowed)}"
        )


def register_sorter(name: str, fn: Callable) -> None:
    SORTERS[name] = fn


def register_detector(name: str, fn: Callable) -> None:
    DETECTORS[name] = fn


def order_blocks(
    blocks: list[dict[str, Any]], kind: str, sorter: str = "auto"
) -> list[dict[str, Any]]:
    """Overlap dedup + boilerplate drop + reading order for one document."""
    blocks = [b for b in blocks if b.get("type") not in _NON_CONTENT_TYPES]
    if not blocks:
        return blocks
    surviving = dedup_blocks.apply_overlap_dedup_order(
        _boxes_of(blocks), [b["type"] for b in blocks]
    )
    blocks = [blocks[i] for i in surviving]
    if sorter == "auto":
        if kind == "html" or all(b.get("order") is not None for b in blocks):
            return _sort_preserve(blocks)
        return _sort_xycut(blocks)
    return SORTERS[sorter](blocks)


def order_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["blocks"] = [
        order_blocks(list(blocks), kind)
        for blocks, kind in zip(out["blocks"], out["kind"])
    ]
    out["n_blocks"] = [len(b) for b in out["blocks"]]
    out["status"] = np.where(
        out["status"].str.startswith("failed"), out["status"], "ordered"
    )
    return out


# ---------------------------------------------------------- correct+render
def _correct_blocks(blocks: list[dict[str, Any]], kind: str) -> None:
    """In-place block correction: PDF blocks get span-merge
    (de-hyphenation etc.), HTML blocks the reference's identity copy
    (block_correction_stage.py:42-47)."""
    for b in blocks:
        t = b.get("text")
        if t is None:
            continue
        if kind == "pdf":
            b["corrected_text"] = correction.span_merge_correct(t)
        else:
            b["corrected_text"] = correction.copy_correct(t)
        # ratio is a PAGE-level metric in the reference (block correction
        # is a copy, block_correction_stage.py:42-47); per-block difflib
        # would double pipeline CPU for no fixture surface
        b["correction_ratio"] = None


def finish_batch(pdf: pd.DataFrame, renderer: str = "both") -> pd.DataFrame:
    """Stages 5-7 analog: block correction, page composition, rendering,
    page status.

    ``renderer``: "markdown" | "plaintext" emit one ``rendered`` column
    (the reference's RenderingStage config); "both" emits the two
    explicit columns (compat default)."""
    from ..functions import rendering

    raw_texts, corrected_texts, ratios, mds, pts, statuses, n_blocks = (
        [], [], [], [], [], [], []
    )
    want_md = renderer in ("both", "markdown")
    want_pt = renderer in ("both", "plaintext")
    processed_at = datetime.now(timezone.utc).replace(tzinfo=None)
    for blocks, kind, status in zip(pdf["blocks"], pdf["kind"], pdf["status"]):
        blocks = list(blocks)
        _correct_blocks(blocks, kind)
        raw = rendering.compose_page_text(blocks)
        if kind == "pdf":
            corrected_view = [
                {**b, "text": b.get("corrected_text") or b.get("text")}
                for b in blocks
            ]
            corrected = rendering.compose_page_text(corrected_view)
        else:
            # non-PDF correction is the reference's identity copy
            # (copy_correct), so the corrected composition IS raw —
            # skip the per-block dict copies and the second compose
            # (and correction_ratio's identical-string guard hits)
            corrected = raw
        md = rendering.render_markdown(blocks) if want_md else None
        pt = rendering.render_plaintext(blocks) if want_pt else None
        primary = pt if want_pt else md
        if status.startswith("failed"):
            st = "partial"  # failed -> partial (output_stage.py:213-219)
        elif not blocks or not primary:
            st = "incomplete"
        else:
            st = "complete"
        raw_texts.append(raw)
        corrected_texts.append(corrected)
        ratios.append(correction.correction_ratio(raw, corrected))
        mds.append(md)
        pts.append(pt)
        statuses.append(st)
        n_blocks.append(len(blocks))
    out = {
        "url": pdf["url"].to_numpy(),
        "warc_ts": pdf["warc_ts"].to_numpy(),
        "kind": pdf["kind"].to_numpy(),
        "raw_text": raw_texts,
        "corrected_text": corrected_texts,
        "correction_ratio": ratios,
    }
    if renderer == "both":
        out["rendered_markdown"] = mds
        out["rendered_plaintext"] = pts
    elif renderer == "markdown":
        out["rendered"] = mds
    else:
        out["rendered"] = pts
    out.update(
        {
            "n_blocks": n_blocks,
            "status": statuses,
            "processed_at": [processed_at] * len(pdf),
        }
    )
    return pd.DataFrame(out)


def fused_extract_batch(pdf: pd.DataFrame, renderer: str = "both") -> pd.DataFrame:
    """detect -> order -> finish composed in one pass (no intermediate
    Arrow round-trips) — the fast path when checkpoints are disabled."""
    return finish_batch(order_batch(detect_batch(pdf)), renderer)


def font_markdown_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """PDF-path pymupdf4llm-style extraction: spans + blocks + IoU-match
    font-size header levels, fused in one pass (the spans never cross a
    stage boundary — the third renderer needs them at render time,
    reference io/output/markdown/pymupdf4llm.py:191-267)."""
    from ..functions import rendering

    urls = pdf["url"].to_numpy()
    tss = pdf["warc_ts"].to_numpy()
    mds, statuses = [], []
    for payload in pdf["html"]:
        try:
            spans = pdf_extract.extract_pdf_spans(payload)
            blocks = order_blocks(pdf_extract.spans_to_blocks(spans), "pdf")
            _correct_blocks(blocks, "pdf")
            mds.append(rendering.render_markdown_pymupdf4llm(blocks, spans))
            statuses.append("complete" if blocks else "incomplete")
        except Exception as e:
            mds.append(None)
            statuses.append(f"failed:{type(e).__name__}")
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "rendered_markdown": mds, "status": statuses}
    )


# ------------------------------------------------------- lineage wrapper
def with_lineage(
    fn: PandasStage, stage: str, run_id: str, out_schema: StructType
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Wrap a pandas stage for mapInPandas over ``out_schema`` (the
    stage's columns plus ``_lineage``): per-partition init happens here
    (once per task), and a single lineage row is appended after the last
    batch."""
    out_columns = [f.name for f in out_schema.fields if f.name != "_lineage"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        t0 = time.monotonic()
        docs_in = docs_out = bytes_in = 0
        for pdf in batches:
            docs_in += len(pdf)
            if "html" in pdf.columns:
                bytes_in += int(
                    sum(len(v) for v in pdf["html"] if v is not None)
                )
            out = fn(pdf)
            docs_out += len(out)
            out["_lineage"] = None
            yield out
        lin = {
            "run_id": run_id,
            "stage": stage,
            "partition_id": pid,
            "docs_in": docs_in,
            "docs_out": docs_out,
            "bytes_in": bytes_in,
            "wall_clock_ms": int((time.monotonic() - t0) * 1000),
            "ts": datetime.now(timezone.utc).replace(tzinfo=None),
        }
        marker = pd.DataFrame({c: [None] for c in out_columns})
        marker["_lineage"] = [lin]
        yield marker

    return gen
