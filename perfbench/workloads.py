"""The benchmark's two workloads, and the dedup session probe that the
traced ``extract_staged`` run adds.

Each workload runs closed-loop with one client: this driver process
submits one Spark action at a time on ``local[nproc]``.  A workload
builds its inputs from the seed, runs a warm-up pass of the same shape
and size as a timed one over pages the timed passes never see (part of
set-up), then timed passes; every pass's output is checked against the
generator's expected text, every dedup query against its DuckDB
oracle.  Traced runs add the per-layer numbers listed in ``PER_LAYER``.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import measure
from measure import median

from vlm_ocr_pipeline_spark.functions import (
    charset, correction, dedup_blocks, html_extract, ordering, pdf_extract,
    rendering,
)
from vlm_ocr_pipeline_spark.operators import stages
from vlm_ocr_pipeline_spark.plans import pipeline
from vlm_ocr_pipeline_spark.plans.session import get_spark

# Sizes keep one timed pass at a few seconds on a 4-core box: enough
# work that stage-barrier noise stays small, few enough that a run holds
# several passes and ends, with its set-up, well inside the time budget.
# "tiny" is the smoke test's size.
SIZES = {
    "full": dict(pages=4000, base=1600, fresh=240, recrawl=160,
                 docs=1000, words=90, inproc_pages=600, session_cycles=2),
    "tiny": dict(pages=160, base=120, fresh=24, recrawl=16,
                 docs=120, words=30, inproc_pages=40, session_cycles=1),
}

# in-process layer: (metric prefix, module, public function)
FUNCTIONS = [
    ("charset.decode_ms", charset, "decode_payload"),
    ("html_extract.page_ms", html_extract, "extract_html_page"),
    ("pdf_extract.spans_ms", pdf_extract, "extract_pdf_spans"),
    ("pdf_extract.blocks_ms", pdf_extract, "spans_to_blocks"),
    ("dedup_blocks.ms", dedup_blocks, "apply_overlap_dedup_order"),
    ("ordering.xycut_ms", ordering, "xy_cut_order"),
    ("rendering.compose_ms", rendering, "compose_page_text"),
    ("rendering.plaintext_ms", rendering, "render_plaintext"),
    ("correction.span_merge_ms", correction, "span_merge_correct"),
    ("correction.ratio_ms", correction, "correction_ratio"),
]

QUERIES = ("minhash_lsh", "neardup_clusters", "dup_spans", "ngram_jaccard",
           "simhash64_neardup", "tfidf_top3", "token_shards", "quality_lang")

SPARK_METRICS = [
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.run_s", "s"),
    ("spark.cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.task_skew", "ratio"), ("spark.driver_s", "s"),
]

# Every traced run emits all of these; a layer a workload does not
# exercise reads 0 (e.g. pipeline.* and q.* on extract_fused).
PER_LAYER = [
    ("plans.session.start_s", "s"),
    ("scan.s", "s"), ("arrow.s", "s"), ("kernel.s", "s"), ("sink.s", "s"),
    ("stages.detect_ms", "ms"), ("stages.order_ms", "ms"), ("stages.finish_ms", "ms"),
    *[(f"{prefix}.{kind}", "ms") for prefix, _, _ in FUNCTIONS for kind in ("html", "pdf")],
    ("pages.html", "count"), ("pages.pdf", "count"), ("blocks_per_page", "count"),
    ("status.complete", "count"), ("status.incomplete", "count"),
    ("status.partial", "count"), ("failed_frac", "ratio"),
    ("out_bytes_per_page", "B"), ("resume_s", "s"),
    ("pipeline.detect_s", "s"), ("pipeline.order_s", "s"), ("pipeline.text_s", "s"),
    ("pipeline.ckpt_mb", "MB"), ("pipeline.resume_skip_frac", "ratio"),
    ("pipeline.recrawl_frac", "ratio"),
    *SPARK_METRICS,
    *[(f"q.{q}{suffix}", unit) for q in QUERIES
      for suffix, unit in (("_s", "s"), ("_stages", "count"), ("_shuffle_mb", "MB"))],
    ("session.pinned_rdds", "count"), ("session.storage_mb", "MB"),
    ("session.cycle_slowdown", "ratio"),
    ("peak_rss_mb", "MB"),
    ("trace.overhead_pages_per_s", "1/s"), ("trace.overhead_cycle_s", "s"),
    ("layers.wall_s", "s"), ("layers.sum_s", "s"), ("unattributed_s", "s"),
    ("layers.sum_ok", "count"),
]


class Context:
    """What one benchmark run shares between its phases."""

    def __init__(self, seed: int, seconds: float, trace: bool, size: str, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = SIZES[size]
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.files = 2 * self.nproc
        self.tracer = measure.Tracer()
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, app: str):
        with self.tracer.span("plans.session.start", trace="setup"):
            self.spark = get_spark(app=f"perfbench-{app}", master=f"local[{self.nproc}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


def _key_us(df: pd.DataFrame) -> pd.Series:
    """(url, warc_ts) as one string, warc_ts in UTC microseconds — the
    same key whether the timestamp came from pandas or Spark parquet."""
    us = pd.to_datetime(df["warc_ts"], utc=True).astype("int64") // 1000
    return df["url"].astype(str) + "|" + us.astype(str)


def read_text_table(path: str) -> pd.DataFrame:
    """Data rows of an extraction table (lineage marker rows dropped)."""
    cols = ["url", "warc_ts", "kind", "rendered", "n_blocks", "status"]
    df = pq.read_table(path, columns=cols).to_pandas()
    return df[df["url"].notna()]


def text_failures(got: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Pages whose extracted text differs from the generator's expected
    text, whose status is ``partial``, that are missing, or that appear
    more than once."""
    got = got.assign(key=_key_us(got))
    exp = expected.assign(key=_key_us(expected))[["key", "text"]]
    m = exp.merge(got[["key", "rendered", "status"]], on="key", how="left")
    bad = m["rendered"].isna() | (m["rendered"] != m["text"]) | (m["status"] == "partial")
    extra = len(got) - got["key"].nunique() + int((~got["key"].isin(exp["key"])).sum())
    return int(bad.sum()) + extra


def output_counts(got: pd.DataFrame) -> dict[str, float]:
    status = got["status"].value_counts()
    return {
        "pages.html": float((got["kind"] == "html").sum()),
        "pages.pdf": float((got["kind"] == "pdf").sum()),
        "blocks_per_page": float(got["n_blocks"].mean()) if len(got) else 0.0,
        **{f"status.{s}": float(status.get(s, 0)) for s in ("complete", "incomplete", "partial")},
    }


class Workload:
    name = ""
    # passes run until --seconds is used up, but at least this many
    min_passes = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.walls: list[float] = []      # one per timed pass
        self.traced: list[bool] = []
        self.engine: list[dict] = []      # spark.* of each traced pass
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.diag: dict = {}

    # -- phases --------------------------------------------------------
    def make_inputs(self) -> dict:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int, traced: bool) -> float:
        """One timed pass; returns its wall time.  Checks run after the
        clock stops."""
        raise NotImplementedError

    def items(self) -> int:
        """Pages (documents) one pass processes, for ``pages_per_s``."""
        raise NotImplementedError

    def rate_wall(self, i: int) -> float:
        """Wall time of pass ``i`` that ``pages_per_s`` divides by."""
        return self.walls[i]

    def check_warmup(self) -> None:
        """Check outputs the warm-up kept, once set-up is timed."""

    def traced_extras(self) -> None:
        """Per-layer numbers a traced run adds after its timed passes."""

    def layer_sum(self) -> tuple[float, float]:
        """(wall, sum of layer self times) for the layer-sum check."""
        return 0.0, 0.0

    # -- shared helpers ------------------------------------------------
    def timed(self, i: int, traced: bool, fn) -> float:
        """Run ``fn`` as pass ``i``; traced passes get a job group, a root
        span and the status store's stages as child spans."""
        sc = self.ctx.spark.sparkContext
        group = f"pass-{i}"
        if traced:
            sc.setJobGroup(group, group)
        t0 = time.monotonic()
        with self.ctx.tracer.span("pass", trace=group) if traced else nullcontext() as root:
            fn()
        wall = time.monotonic() - t0
        if traced:
            sc._jsc.clearJobGroup()
            self.root = root
            measure.wait_for_listeners(sc)
            st = measure.group_stages(sc, group)
            self.ctx.tracer.add_stages(st, group, root)
            self.engine.append(measure.engine_metrics(st, wall))
        return wall

    def run_checked(self, label: str, fn) -> bool:
        """Run one program call; an exception counts as a failed
        operation and is reported, never swallowed silently."""
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 - a failing query is a result, not a crash
            print(f"[perfbench] {label} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return False


# --------------------------------------------------------------- extract
class _Extract(Workload):
    def _write(self, df: pd.DataFrame, name: str) -> str:
        cols = ["url", "warc_ts", "html", "text", "lang"]
        return inputs.write_parquet(df[cols], self.ctx.path(name), self.ctx.files)

    def out_bytes_per_page(self) -> float:
        return median(self.diag["out_bytes"]) / len(self.expected)

    def inproc_stages(self, sample: pd.DataFrame) -> None:
        """Time operators.stages and each functions.* call per page, in
        this process, on html-only and pdf-only batches of ``sample``."""
        tr = self.ctx.tracer
        originals = [(mod, attr, getattr(mod, attr)) for _, mod, attr in FUNCTIONS]

        def wrap(name, fn):
            @functools.wraps(fn)
            def traced(*a, **k):
                with tr.span(name, trace=tr_id[0]):
                    return fn(*a, **k)
            return traced

        tr_id = [""]
        try:
            for (name, mod, attr), (_, _, fn) in zip(FUNCTIONS, originals):
                setattr(mod, attr, wrap(name, fn))
            for kind in ("html", "pdf"):
                batch = sample[sample["kind"] == kind][["url", "warc_ts", "html"]]
                batch = batch.reset_index(drop=True)
                tr_id[0] = f"inproc-{kind}"
                with tr.span("stages.detect", trace=tr_id[0]):
                    d = stages.detect_batch(batch)
                with tr.span("stages.order", trace=tr_id[0]):
                    o = stages.order_batch(d)
                with tr.span("stages.finish", trace=tr_id[0]):
                    stages.finish_batch(o, renderer="plaintext")
        finally:
            for mod, attr, fn in originals:
                setattr(mod, attr, fn)
        n = {k: int((sample["kind"] == k).sum()) for k in ("html", "pdf")}
        total = max(sum(n.values()), 1)
        for st in ("detect", "order", "finish"):
            self.layer[f"stages.{st}_ms"] = 1e3 * tr.total(f"stages.{st}", "inproc-") / total
        for name, _, _ in FUNCTIONS:
            for kind in ("html", "pdf"):
                self.layer[f"{name}.{kind}"] = (
                    1e3 * tr.total(name, f"inproc-{kind}") / n[kind] if n[kind] else 0.0)


class ExtractFused(_Extract):
    """Headline path: scan -> one fused mapInPandas -> parquet sink."""

    name = "extract_fused"
    min_passes = 3

    def make_inputs(self) -> dict:
        n, off = self.ctx.size["pages"], inputs.page_offset(self.ctx.seed)
        self.expected = inputs.pages(off + np.arange(n))
        self._write(self.expected, "pages")
        self._write(inputs.pages(off + n + np.arange(n)), "warm")
        return inputs.page_properties(self.expected)

    def extract_to(self, src: str, sink: str) -> None:
        pages = self.ctx.spark.read.parquet(src)
        pipeline.extract(pages, renderer="plaintext").write.parquet(sink)

    def warmup(self) -> None:
        self.extract_to(self.ctx.path("warm"), self.ctx.path("out", f"warm-{os.getpid()}"))

    def items(self) -> int:
        return self.ctx.size["pages"]

    def run_pass(self, i: int, traced: bool) -> float:
        sink = self.ctx.path("out", f"pass-{i}")
        wall = self.timed(i, traced, lambda: self.extract_to(self.ctx.path("pages"), sink))
        got = read_text_table(sink)
        self.attempted += len(self.expected)
        self.failed += text_failures(got, self.expected)
        self.diag.setdefault("out_bytes", []).append(measure.dir_bytes(sink))
        if traced:
            self.layer.update(output_counts(got))
        shutil.rmtree(sink)
        return wall

    def traced_extras(self) -> None:
        """Boundary probes over the same input: scan->noop, identity
        mapInPandas, extract->noop, extract->parquet, interleaved."""
        spark = self.ctx.spark
        src = lambda: spark.read.parquet(self.ctx.path("pages"))  # noqa: E731

        def identity(batches):
            yield from batches

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        probes = {
            "scan": lambda: noop(src()),
            "identity": lambda: noop(src().select("url", "warc_ts", "html").mapInPandas(
                identity, schema=src().select("url", "warc_ts", "html").schema)),
            "extract_noop": lambda: noop(pipeline.extract(src(), renderer="plaintext")),
            "extract_parquet": lambda: self.extract_to(
                self.ctx.path("pages"), self.ctx.path("out", f"probe-{time.monotonic_ns()}")),
        }
        t: dict[str, list[float]] = {k: [] for k in probes}
        for rep in range(3):
            for k, fn in probes.items():
                with self.ctx.tracer.span(f"probe.{k}", trace=f"probe-{rep}") as sid:
                    fn()
                t[k].append(self.ctx.tracer.duration(sid))
        shutil.rmtree(self.ctx.path("out"), ignore_errors=True)
        S, I, E, P = (median(t[k]) for k in probes)
        self.layer.update({"scan.s": S, "arrow.s": I - S, "kernel.s": E - I, "sink.s": P - E})
        self.inproc_stages(self.expected.iloc[: self.ctx.size["inproc_pages"]])

    def layer_sum(self) -> tuple[float, float]:
        wall = median(w for w, tr in zip(self.walls, self.traced) if tr)
        parts = sum(self.layer[k] for k in ("scan.s", "arrow.s", "kernel.s", "sink.s"))
        return wall, parts


class ExtractStaged(_Extract):
    """CheckpointedRun (three staged mapInPandas writes) plus a resume
    over the base table, fresh pages and recrawls."""

    name = "extract_staged"
    min_passes = 2

    def _base_and_resume(self, first_id: int, rng: np.random.Generator):
        """Base pages from ``first_id`` on, and the resume input: the base
        plus fresh pages and recrawls of base pages."""
        s = self.ctx.size
        base = inputs.pages(first_id + np.arange(s["base"]))
        fresh = inputs.pages(first_id + s["base"] + np.arange(s["fresh"]))
        recrawl = inputs.recrawls(base, s["recrawl"], rng)
        return base, pd.concat([base, fresh, recrawl], ignore_index=True)

    def make_inputs(self) -> dict:
        s, off = self.ctx.size, inputs.page_offset(self.ctx.seed)
        rng = np.random.default_rng(self.ctx.seed)
        self.base, self.expected = self._base_and_resume(off, rng)
        self._write(self.base, "base")
        self._write(self.expected, "resume")
        warm, warm_resume = self._base_and_resume(off + s["base"] + s["fresh"], rng)
        self._write(warm, "warm")
        self._write(warm_resume, "warm_resume")
        slice_n = s["fresh"] + s["recrawl"]
        self.recrawl_frac = s["recrawl"] / slice_n
        props = inputs.page_properties(self.expected)
        props["slice_pages"] = slice_n
        props["slice_repeated_payload_share"] = round(self.recrawl_frac, 4)
        return props

    def staged(self, src: str, workdir: str) -> None:
        pages = self.ctx.spark.read.parquet(src)
        pipeline.CheckpointedRun(self.ctx.spark, workdir).run(
            pages, repartition_to=self.ctx.files, renderer="plaintext")

    def warmup(self) -> None:
        wd = self.ctx.path("ckpt", "warm")
        self.staged(self.ctx.path("warm"), wd)
        self.staged(self.ctx.path("warm_resume"), wd)

    def items(self) -> int:
        return self.ctx.size["base"]

    def run_pass(self, i: int, traced: bool) -> float:
        wd = self.ctx.path("ckpt", f"pass-{i}")
        sql0 = measure.last_sql_id(self.ctx.spark) if traced else -1
        split: dict[str, float] = {}

        def staged_then_resume():
            t0 = time.monotonic()
            self.staged(self.ctx.path("base"), wd)
            split["run"] = time.monotonic() - t0
            t1 = time.monotonic()
            self.staged(self.ctx.path("resume"), wd)
            split["resume"] = time.monotonic() - t1

        wall = self.timed(i, traced, staged_then_resume)
        self.diag.setdefault("run_s", []).append(split["run"])
        self.diag.setdefault("resume_s", []).append(split["resume"])
        got = read_text_table(os.path.join(wd, "stage_text"))
        self.attempted += len(self.expected)
        self.failed += text_failures(got, self.expected)
        self.diag.setdefault("out_bytes", []).append(measure.dir_bytes(wd))
        if traced:
            self.layer.update(output_counts(got))
            offered = len(self.expected)
            self.diag.setdefault("skip_frac", []).append(
                (offered - (len(got) - len(self.base))) / offered)
            self.record_pipeline(sql0, wd, split["run"])
        shutil.rmtree(wd)
        return wall

    def record_pipeline(self, sql0: int, wd: str, run_wall: float) -> None:
        """Attribute each SQL write of the first (non-resume) run to its
        stage; a lineage append belongs to the stage written before it."""
        per = {st: 0.0 for st in pipeline.CheckpointedRun.STAGES}
        current, seen = None, set()
        trace = self.ctx.tracer.spans[self.root]["trace"]
        for w in measure.sql_writes(self.ctx.spark, sql0):
            name = os.path.basename(w["path"].rstrip("/"))
            if name in per:
                if name in seen:  # second visit = the resume run
                    break
                seen.add(name)
                current = name
            if current is None:
                continue
            per[current] += w["end"] - w["start"]
            self.ctx.tracer.add(f"pipeline.{current}", w["start"], w["end"], trace, self.root)
        self.diag.setdefault("pipeline", []).append(per)
        self.diag.setdefault("ckpt_mb", []).append(measure.dir_bytes(wd) / 2**20)
        self.diag.setdefault("traced_run_s", []).append(run_wall)

    def rate_wall(self, i: int) -> float:
        return self.diag["run_s"][i]

    def traced_extras(self) -> None:
        per = self.diag["pipeline"]
        for st in pipeline.CheckpointedRun.STAGES:
            self.layer[f"pipeline.{st.split('_')[1]}_s"] = median(p[st] for p in per)
        self.layer["pipeline.ckpt_mb"] = median(self.diag["ckpt_mb"])
        self.layer["pipeline.resume_skip_frac"] = median(self.diag["skip_frac"])
        self.layer["pipeline.recrawl_frac"] = self.recrawl_frac
        self.inproc_stages(self.base.iloc[: self.ctx.size["inproc_pages"]])
        self.session_probe()

    def session_probe(self) -> None:
        """The dedup/corpus/textstats query cycle on this same session,
        after the extraction passes: a warm-up cycle checked against the
        DuckDB oracle, then traced cycles with per-query spans and the
        session's pins after each.  Its failures count with the run's."""
        probe = DedupSession(self.ctx)
        self.diag["session_inputs"] = probe.make_inputs()
        probe.warmup()
        probe.check_warmup()
        walls = [probe.cycle(k) for k in range(self.ctx.size["session_cycles"])]
        probe.traced_extras()
        self.layer.update(probe.layer)
        half = len(walls) // 2
        self.layer["session.cycle_slowdown"] = (
            median(walls[half:]) / median(walls[:half]) if half else 1.0)
        self.diag["session_cycle_s"] = walls
        self.diag["session_pinned_rdds"] = probe.diag["pinned_rdds"]
        self.attempted += probe.attempted
        self.failed += probe.failed

    def layer_sum(self) -> tuple[float, float]:
        wall = median(self.diag["traced_run_s"])
        parts = sum(self.layer[f"pipeline.{s}_s"] for s in ("detect", "order", "text"))
        return wall, parts


# ----------------------------------------------------------------- dedup
class DedupSession(Workload):
    """One session cycling the oracle-checked dedup/corpus/textstats
    queries over a seeded documents corpus, never clearing caches.  Not
    a timed workload: ``extract_staged`` runs it in its traced run."""

    def make_inputs(self) -> dict:
        import __spark_entry__
        import oracle

        s = self.ctx.size
        docs = inputs.documents(self.ctx.seed, s["docs"], s["words"])
        self.sf = self.ctx.path("sf")
        path = inputs.write_parquet(docs, os.path.join(self.sf, "documents.parquet"), self.ctx.files)
        every = __spark_entry__.queries()
        self.queries = {q: every[q] for q in QUERIES}
        t0 = time.monotonic()
        self.oracle = oracle.oracle_hashes(
            QUERIES, path, f"s{self.ctx.seed}-d{s['docs']}-w{s['words']}", self.ctx.nproc)
        self.diag["oracle_s"] = round(time.monotonic() - t0, 3)
        return {"docs": s["docs"], "words_per_doc": s["words"], "vocab": len(inputs.VOCAB),
                "planted_near_dup_share": round(float(((np.arange(s["docs"]) % 10) == 9).mean()), 4)}

    def warmup(self) -> None:
        """First cycle collects every result (paying codegen, JIT and
        worker spawn) and keeps its hash for the oracle check."""
        self.warm_results = {}
        for q, fn in self.queries.items():
            box = {}
            if self.run_checked(q, lambda: box.update(df=fn(self.ctx.spark, self.sf).toPandas())):
                self.warm_results[q] = box["df"]
        self.attempted += len(self.queries)

    def check_warmup(self) -> None:
        """Compare the warm-up results with the oracle (outside set-up)."""
        import oracle

        for q in self.queries:
            ok = q in self.warm_results and oracle.result_hash(self.warm_results[q]) == self.oracle[q]
            if not ok:
                print(f"[perfbench] {q}: result differs from its DuckDB oracle", file=sys.stderr)
                self.failed += 1
        self.warm_results = {}

    def cycle(self, i: int) -> float:
        """One traced cycle, each query into a ``noop`` sink; returns its
        wall time and records per-query time, stages and shuffle, and the
        session's pins afterwards."""
        sc = self.ctx.spark.sparkContext
        tr = self.ctx.tracer
        per: dict[str, tuple[float, int]] = {}  # query -> (wall, span id)
        t0 = time.monotonic()
        trace = f"session-{i}"
        with tr.span("session.cycle", trace=trace):
            for q, fn in self.queries.items():
                sc.setJobGroup(f"{trace}-{q}", f"{trace}-{q}")
                tq = time.monotonic()
                with tr.span(f"q.{q}", trace=trace) as qspan:
                    ok = self.run_checked(q, lambda: fn(self.ctx.spark, self.sf).write
                                          .format("noop").mode("overwrite").save())
                per[q] = (time.monotonic() - tq, qspan)
                self.attempted += 1
                self.failed += not ok
        wall = time.monotonic() - t0
        sc._jsc.clearJobGroup()
        measure.wait_for_listeners(sc)
        for q, (qwall, qspan) in per.items():
            st = measure.group_stages(sc, f"{trace}-{q}")
            tr.add_stages(st, trace, qspan)
            self.diag.setdefault("q", []).append({
                "q": q, "s": qwall, "stages": len(st),
                "shuffle_mb": sum(s["shuffle_write_mb"] for s in st)})
        info = sc._jsc.sc().getRDDStorageInfo()
        self.diag.setdefault("pinned_rdds", []).append(len(sc._jsc.getPersistentRDDs()))
        self.diag.setdefault("storage_mb", []).append(
            sum(r.memSize() + r.diskSize() for r in info) / 2**20)
        return wall

    def traced_extras(self) -> None:
        rows = pd.DataFrame(self.diag["q"])
        for q in QUERIES:
            r = rows[rows["q"] == q]
            self.layer[f"q.{q}_s"] = median(r["s"])
            self.layer[f"q.{q}_stages"] = median(r["stages"])
            self.layer[f"q.{q}_shuffle_mb"] = median(r["shuffle_mb"])
        self.layer["session.pinned_rdds"] = float(self.diag["pinned_rdds"][-1])
        self.layer["session.storage_mb"] = self.diag["storage_mb"][-1]


WORKLOADS = {w.name: w for w in (ExtractFused, ExtractStaged)}
