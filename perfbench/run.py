"""Benchmark entry point.

    python3 perfbench/run.py --workload vcf_session --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop with one client on
``local[<cores of this process>]``: generates (or reuses) the seeded
inputs, starts the session, stages, measures whole passes until
``--seconds`` have elapsed (at least one pass), checks every output and
prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``E2E``). With
``--trace 1`` the same run is traced (``trace.py``) and the metrics are
the per-layer ones (``PER_LAYER``), including the self time of each layer
and the tracing overhead: the traced run's end-to-end timings minus the
untraced medians recorded for this host in ``baseline.json``.

All files the run writes stay under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.lakehouse_rw import DECLARED  # noqa: E402
WORK = os.path.join(ROOT, ".perfbench_work")
BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "baseline.json")
DRIVER_MEM = "2g"

WORKLOADS = ("vcf_session", "lakehouse_rw")
# name -> unit; every workload reports every one of these
E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "query_geomean_s": "s",
    "write_geomean_s": "s",
    "write_amp": "ratio",
    "bytes_stored_per_input_byte": "ratio",
}
# traced run minus the baseline's untraced median, per end-to-end timing
TRACE_OVERHEAD = ("setup_s", "pass_s", "query_geomean_s", "write_geomean_s")
LAYERS = (
    "session", "sources", "pipeline", "gemini", "stats", "inheritance",
    "sinks", "queries", "streaming",
)
_LH = {
    **{f"sinks.lakehouse.{v}{m}": u for v in ("append", "merge", "dv_merge", "dv_delete", "compact")
       for m, u in (("_s", "s"), (".jobs", "count"), (".bytes_written", "bytes"))},
    **{f"sinks.lakehouse.{r}_s": "s" for r in
       ("snapshot", "read_pruned", "read_point", "read_version", "table_changes", "read_full")},
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.vcf.scan_s": "s",
    "sources.vcf.tasks": "count",
    "sources.vcf.cpu_util": "ratio",
    "sources.lakehouse_feed.rows": "count",
    "pipeline.load_vcf.call_s": "s",
    "pipeline.derive_s": "s",
    "pipeline.open_artifact_s": "s",
    "operators.impacts.rows_per_variant": "ratio",
    "sinks.writers.write_s": "s",
    "sinks.writers.bytes": "bytes",
    "sinks.writers.files": "count",
    "sinks.sqlite.write_s": "s",
    "sinks.sqlite.driver_s": "s",
    **_LH,
    "sinks.lakehouse.plan_files.selected_frac": "ratio",
    "sinks.lakehouse.plan_files_bloom.useful_frac": "ratio",
    "sinks.lakehouse.live_files": "count",
    "sinks.lakehouse.dv_files": "count",
    "gemini.compile_gt_filter_s": "s",
    "gemini.query_s": "s",
    "gemini.region_s": "s",
    "stats.s": "s",
    "inheritance.s": "s",
    **{f"queries.{row}.exec_s": "s" for rows in DECLARED.values() for row in rows},
    **{f"queries.{cls}.{m}": u for cls in ("relational", "curation")
       for m, u in (("build_s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("cpu_util", "ratio"), ("task_skew", "ratio"),
                    ("gc_s", "s"))},
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    **{f"trace.overhead.{m}": "s" for m in TRACE_OVERHEAD},
    "control.job_floor_p50_s": "s",
    "control.steal_frac": "ratio",
    "control.cpus": "count",
    "control.driver_mem_mb": "MB",
    "control.shuffle_tmpfs": "count",
    "control.duckdb_twin_s": "s",
}


class Ctx:
    """What a workload needs from the run: seed, directories, session."""

    def __init__(self, seed: int, trace: bool):
        self.seed = seed
        self.trace = trace
        self.inputs = os.path.join(WORK, "inputs")
        self.work = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None


def pin_env() -> dict:
    """Fix the environment every artifact depends on, before pyspark is
    imported, and return it as run controls."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        # keep shuffle files in the checkout, not in /dev/shm
        SPARK_GRAFT_TMPFS="0",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=10000 --conf spark.ui.retainedStages=20000 pyspark-shell",
    )
    return {
        "control.cpus": cpus,
        "control.driver_mem_mb": 2048,
        "control.shuffle_tmpfs": 0,
    }


def baseline() -> dict:
    with open(BASELINE) as fh:
        return json.load(fh)


def flag_controls(controls: dict) -> list[str]:
    """Controls that differ from the recorded baseline host's."""
    base = baseline()["controls"]
    return [f"{k}={controls[k]} (baseline {v})" for k, v in base.items() if controls.get(k) != v]


def start_session(ctx: Ctx):
    from vcf2db_spark.session import get_spark
    from vcf2db_spark.streaming import pipelines

    # run_to_memory puts each drain's ephemeral checkpoint under /dev/shm;
    # keep it in the run's directory instead, like every other file
    ephemeral = pipelines._ephemeral_dir
    pipelines._ephemeral_dir = lambda path: ephemeral(
        os.path.join(ctx.work, os.path.basename(path)))

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # get_spark already sets every conf pin_session_conf would, and
    # PYTHONPATH makes the package importable on workers, so skip the
    # package-zip shipping (it writes outside the checkout)
    spark._vcf2db_pinned = True
    ctx.spark = spark
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until the JVM and its
    Python workers have exited."""
    from perfbench import harness

    pids = harness.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    harness.wait_gone(pids, timeout=30)


def measure(args) -> dict:
    from perfbench import harness
    from perfbench.trace import StreamListener, Tracer

    controls = pin_env()
    ctx = Ctx(args.seed, bool(args.trace))
    if args.workload == "vcf_session":
        from perfbench.vcf_session import Session as W
    else:
        from perfbench.lakehouse_rw import Table as W
    os.makedirs(ctx.work, exist_ok=True)
    wl = W(ctx)  # generates or reuses the seeded inputs (untimed)

    t0 = time.perf_counter()
    spark = start_session(ctx)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark) if ctx.trace else None
    loop = harness.Loop(args.seconds, tracer)
    if tracer is not None:
        wl.wrap(tracer)
    try:
        wl.stage(loop)
        setup_s = time.perf_counter() - t0
        n_stage = len(loop.records)

        listener = StreamListener(spark) if tracer is not None else None
        passes: list[float] = []
        window = {}
        with harness.RssSampler() as rss, harness.steal_meter(window):
            loop.start()
            while not passes or not loop.expired():
                p0 = time.perf_counter()
                wl.run_pass(loop)
                passes.append(time.perf_counter() - p0)
        n_window = len(loop.records)
        self_times = tracer.self_times() if tracer is not None else {}
        controls["control.steal_frac"] = window["steal_frac"]
        controls["control.job_floor_p50_s"] = harness.job_floor_p50(spark)

        recs = [r for r in loop.records[n_stage:] if r.ok]
        q = [r.seconds for r in recs if r.kind == "query"]
        w = [r.seconds for r in recs if r.kind == "write"]
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / (1 << 20),
            "pass_s": harness.median(passes),
            "query_geomean_s": harness.geomean_by_name(recs, "query"),
            "write_geomean_s": harness.geomean_by_name(recs, "write"),
            **wl.storage(),
        }
        tails = {
            "query_p50_s": (harness.median(q), 50, len(q)),
            "query_tail_s": (*harness.tail(q), len(q)),
            "write_p50_s": (harness.median(w), 50, len(w)),
            "write_tail_s": (*harness.tail(w), len(w)),
        }
        mismatches, duck_s = wl.check()
        controls["control.duckdb_twin_s"] = duck_s
        layers: dict[str, float] = {}
        if tracer is not None:
            listener.remove()
            layers.update(wl.layers(loop, tracer))
            for layer, secs in self_times.items():
                layers[f"self.{layer}_s"] = secs / len(passes)
            base = baseline()["untraced_medians"][wl.name]
            for m in TRACE_OVERHEAD:
                layers[f"trace.overhead.{m}"] = metrics[m] - base[m]
            layers["session.get_spark_s"] = session_s
            if listener.batches:
                layers["streaming.batches"] = len(listener.batches) / max(1, len(wl.drain_rows))
                layers["streaming.trigger_ms"] = harness.median(
                    [b["trigger_ms"] for b in listener.batches])
            layers.update(controls)
            tracer.unwrap_all()
    finally:
        stop_session(spark)
        shutil.rmtree(ctx.work, ignore_errors=True)

    return {
        "metrics": metrics,
        "tails": tails,
        "extra": wl.report(loop),
        "layers": layers,
        "controls": controls,
        "attempted": loop.attempted,
        "failed": loop.failed + len(mismatches),
        "errors": loop.errors + mismatches,
        "records": loop.records,
        "phases": (n_stage, n_window),
        "passes": len(passes),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vcf2db_spark", "__init__.py")):
        print(f"perfbench: no vcf2db_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    r = measure(args)

    m = r["metrics"]
    print(f"workload {args.workload} seed {args.seed}: {r['passes']} measured pass(es), "
          f"{r['attempted']} ops attempted, {r['failed']} failed")
    for name, unit in E2E.items():
        print(f"  {name:32s} {m[name]:12.4f} {unit}")
    for name, (v, pct, n) in r["tails"].items():
        print(f"  {name:32s} {v:12.4f} s    (p{pct:g} of {n} ops)")
    for name, (v, unit) in r["extra"].items():
        print(f"  {name:32s} {v:12.4f} {unit}")
    frac = r["failed"] / max(1, r["attempted"])
    print(f"  {'failed_ops_frac':32s} {frac:12.4f} ratio")
    for k, v in r["controls"].items():
        print(f"  {k:32s} {v:12.4f}")
    for f in flag_controls(r["controls"]):
        print(f"  FLAG: control differs from the baseline host, compare with care: {f}")
    for e in r["errors"]:
        print(f"  ERROR: {e}")
    n_stage, n_window = r["phases"]
    for i, rec in enumerate(r["records"]):
        phase = "stage" if i < n_stage else "window" if i < n_window else "after"
        print(f"{phase:6s} {rec.kind:6s} {rec.name:22s} {rec.seconds:8.3f} s"
              f"{'' if rec.ok else '  FAILED'}", file=sys.stderr)

    if args.trace:
        values = {k: r["layers"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {k: m[k] for k in E2E}
        units = E2E
    # an op that failed can leave a figure without samples (NaN); such a
    # run is already incorrect, and JSON has no NaN
    out = {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": units[k]}
                    for k, v in values.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
