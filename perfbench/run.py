"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 25 --trace 0

Run from the repository root.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones.  The line before it carries the run's
diagnostics (core count, steal %, input shares, every pass time), and
the full record, spans included, is kept in ``perfbench/_results``.
See perfbench/README.md for what each workload is for.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_fused", "extract_staged")
# driver heap: every workload runs in 1 GB; with 2 GB the JVM's resident
# size swung by up to 1 GB between runs with GC timing
DRIVER_MEM = "1g"


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke test's inputs")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory, and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell")
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args, workloads, measure) -> dict:
    ctx = workloads.Context(args.seed, args.seconds, bool(args.trace), args.size, args.work)
    wl = workloads.WORKLOADS[args.workload](ctx)
    import_s = time.monotonic() - T0
    diag: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                  "size": args.size, "nproc": ctx.nproc, "master": f"local[{ctx.nproc}]"}
    t = time.monotonic()
    diag["inputs"] = wl.make_inputs()
    diag["gen_s"] = round(time.monotonic() - t, 3)

    # set-up is measured once per run: one costs 13-33 s on a 4-core box
    # (JVM start, worker spawn, codegen), and repeating it would not fit
    # the benchmark's time budget; medians across runs absorb its spread
    t = time.monotonic()
    ctx.start_session(wl.name)
    wl.warmup()
    setup_s = import_s + time.monotonic() - t
    wl.check_warmup()

    # the smoke test's tiny size runs one pass.  A traced run orders its
    # passes untraced, traced, traced, untraced (repeating), so with four
    # or more passes warm-up drift does not land on one side of the
    # overhead; it needs at least one pass of each kind
    min_passes = 1 if args.size == "tiny" else wl.min_passes
    if ctx.trace:
        min_passes = max(min_passes, 2)
    rss = measure.RssSampler()
    rss.sample()
    cpu0 = measure.cpu_times()
    start = time.monotonic()
    i = 0
    while i < min_passes or time.monotonic() - start < ctx.seconds:
        traced = ctx.trace and i % 4 in (1, 2)
        wl.walls.append(wl.run_pass(i, traced))
        wl.traced.append(traced)
        rss.sample()
        i += 1
    diag["steal_pct"] = measure.steal_pct(cpu0, measure.cpu_times())
    diag["pass_s"] = [round(w, 4) for w in wl.walls]
    diag["failed_frac"] = wl.failed / max(wl.attempted, 1)
    if "resume_s" in wl.diag:
        diag["run_pass_s"] = [round(w, 4) for w in wl.diag["run_s"]]
        diag["resume_pass_s"] = [round(w, 4) for w in wl.diag["resume_s"]]
        diag["resume_s"] = measure.median(wl.diag["resume_s"])
    if "out_bytes" in wl.diag:
        diag["out_bytes_per_page"] = wl.out_bytes_per_page()

    walls = wl.walls
    half = len(walls) // 2
    rate = wl.items() / measure.median(wl.rate_wall(k) for k in range(len(walls)))
    e2e = {
        "setup_s": setup_s,
        "pages_per_s": rate,
        "cycle_s": measure.median(walls),
    }
    diag.update(e2e)
    # process-tree memory, sampled between passes, swung up to 2x between
    # runs of one workload (GC timing, the Python worker pool): too much
    # to gate on
    diag["peak_rss_mb"] = rss.peak_mb
    diag["peak_procs"] = rss.peak_procs
    # later half over earlier half of the passes: above 1 when the
    # session leaks state; too noisy over a short run to gate on
    diag["cycle_slowdown"] = (measure.median(walls[-half:]) / measure.median(walls[:half])
                              if half else 1.0)
    metrics = e2e
    if ctx.trace:
        metrics = per_layer(wl, ctx, diag, workloads, measure)
    stop_spark(ctx.spark)
    if ctx.trace:
        diag["self_s"] = ctx.tracer.self_times()
    return {"diag": diag, "metrics": metrics, "attempted": wl.attempted, "failed": wl.failed,
            "spans": ctx.tracer.spans if ctx.trace else []}


def per_layer(wl, ctx, diag, workloads, measure) -> dict:
    med = measure.median
    wl.traced_extras()
    layer = {name: 0.0 for name, _ in workloads.PER_LAYER}
    layer.update(wl.layer)
    layer["plans.session.start_s"] = ctx.tracer.total("plans.session.start")
    for name, _ in workloads.SPARK_METRICS:
        layer[name] = med(e[name] for e in wl.engine)
    layer["failed_frac"] = diag["failed_frac"]
    layer["out_bytes_per_page"] = diag.get("out_bytes_per_page", 0.0)
    layer["resume_s"] = diag.get("resume_s", 0.0)
    layer["peak_rss_mb"] = diag["peak_rss_mb"]
    # tracing overhead: traced minus untraced passes of this same run
    idx = {t: [k for k, tr in enumerate(wl.traced) if tr == t] for t in (True, False)}
    rate = {t: wl.items() / med(wl.rate_wall(k) for k in idx[t]) for t in idx}
    cyc = {t: med(wl.walls[k] for k in idx[t]) for t in idx}
    layer["trace.overhead_pages_per_s"] = rate[True] - rate[False]
    layer["trace.overhead_cycle_s"] = cyc[True] - cyc[False]
    wall, parts = wl.layer_sum()
    layer["layers.wall_s"] = wall
    layer["layers.sum_s"] = parts
    layer["unattributed_s"] = wall - parts
    layer["layers.sum_ok"] = float(wall > 0 and abs(wall - parts) <= 0.1 * wall)
    return layer


def main(argv: list[str]) -> int:
    args = parse(argv)
    args.work = os.path.join(
        HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(args.work)
    try:
        try:
            import measure
            import workloads
        except ImportError as e:
            print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
            return 3
        out = run(args, workloads, measure)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    results = os.path.join(HERE, "_results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(out, f)
    print(json.dumps({"diagnostics": out["diag"]}))
    units = {m["name"]: m["unit"] for m in bench_metrics("per_layer" if args.trace else "end_to_end")}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out["metrics"].items()},
    }))
    return 0


def bench_metrics(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
