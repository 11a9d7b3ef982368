"""Seeded benchmark inputs, built only from the public generators in
``vlm_ocr_pipeline_spark.sources.datagen``.

The seed picks which page ids (and which corpus documents) a run sees;
the program under test only ever receives the parquet tables written
here.  Every table is split into ``files`` parquet files (two per core)
so scan parallelism matches the core count.
"""

from __future__ import annotations

import os
from datetime import timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from vlm_ocr_pipeline_spark.sources import datagen

HOT_HOST = "https://hot.example.com/"
# keeps ids (and so warc_ts = BASE_TS + id seconds) far below datetime's
# year-9999 limit for any seed
_SEED_STRIDE = 100_000
VOCAB = [f"w{i}" for i in range(32768)]


def page_offset(seed: int) -> int:
    return (seed % 100_000) * _SEED_STRIDE


def pages(ids) -> pd.DataFrame:
    """One row per page id: url, warc_ts, html payload, expected text."""
    rows = []
    for idx in ids:
        idx = int(idx)
        c = datagen.page_content(idx)
        if c["kind"] == "pdf":
            payload = datagen.build_pdf(
                c["title"], c["paras"], c["two_col"], hyphenate=True,
                compress=idx % 2 == 0,
            )
            expected = datagen.expected_pdf_plaintext(c)
        else:
            payload = datagen.html_for_content(c).encode("utf-8")
            expected = datagen.expected_plaintext(c)
        rows.append((c["url"], datagen.BASE_TS + timedelta(seconds=idx),
                     payload, expected, c["kind"]))
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "kind"])
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).dt.tz_localize("UTC")
    df["lang"] = "en"
    return df


def recrawls(base: pd.DataFrame, n: int, rng: np.random.Generator) -> pd.DataFrame:
    """``n`` re-fetches of base pages: same url and payload, new warc_ts."""
    picked = base.iloc[np.sort(rng.choice(len(base), size=n, replace=False))].copy()
    picked["warc_ts"] = picked["warc_ts"] + pd.Timedelta(days=30)
    return picked


def documents(seed: int, n: int, words: int) -> pd.DataFrame:
    """``documents``-schema word-soup corpus over a 32k-word vocabulary;
    10% of docs are one-word-mutated copies of an earlier doc (the
    planted near-dups of scripts/bench_scaling_dedup.py)."""
    rows = []
    for i in range(n):
        base = i - (i % 10) if i % 10 == 9 else i
        rng = np.random.default_rng([seed, base])
        toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=words)]
        if base != i:
            toks[0] = "mutated"
        text = " ".join(toks)
        rows.append((i, text, "en", f"src{i % 7}", len(text)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def write_parquet(df: pd.DataFrame, path: str, files: int) -> str:
    """Write ``df`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    for k, part in enumerate(np.array_split(np.arange(len(df)), files)):
        if len(part):
            pq.write_table(
                table.slice(int(part[0]), len(part)),
                os.path.join(path, f"part-{k:04d}.parquet"),
                coerce_timestamps="us",  # Spark reads no nanosecond timestamps
            )
    return path


def page_properties(df: pd.DataFrame) -> dict[str, float]:
    """Input shares the extraction kernels' cost depends on."""
    n = max(len(df), 1)
    return {
        "pages": len(df),
        "pdf_share": round(float((df["kind"] == "pdf").sum()) / n, 4),
        "hot_domain_share": round(float(df["url"].str.startswith(HOT_HOST).sum()) / n, 4),
        "empty_share": round(float((df["text"] == "").sum()) / n, 4),
        "repeated_payload_share": round(float(df["html"].duplicated().sum()) / n, 4),
    }
