"""CDC ingest benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The run generates its WAL feed from
``--seed``, starts a ``local[nproc]`` Spark session, sets up, then runs the
workload's operations in a closed loop for ``--seconds`` and checks every
output against the pandas oracle. Human-readable lines go first; the last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the spans are written to ``.perfbench_out/``. All scratch files live under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

import numpy as np

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and put the
    program and this directory on the Spark Python workers' path whatever
    the current directory is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # spark-submit's launcher JVM: no perf-data file, temp files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([old] if old else []))
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "airbyte_spark", "__init__.py")):
        _fail(f"no airbyte_spark package under {ROOT}: run from a source checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        _fail(f"cannot read BENCHMARK.json: {e}")
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        _fail(f"unknown workload {args.workload!r} (one of {', '.join(names)})")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    try:
        return _run(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, bench: dict, work: str) -> int:
    from common import PeakRss, start_spark, stop_spark
    from workloads import WORKLOADS, Trace

    trace = bool(args.trace)
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_spark(work, trace)
        t_session = time.perf_counter() - t0
        try:
            tr = Trace(spark, f"{args.workload}-{args.seed}") if trace else None
            try:
                res = WORKLOADS[args.workload](
                    spark, work, args.seed, args.seconds, tr, t_session
                )
            finally:
                if tr is not None:
                    tr.tracer.uninstall()
        finally:
            stop_spark(spark)

    # throughput and operation times at the reference host speed; set-up
    # time and memory as measured
    ref = res.ref
    k = ref.scale
    raw = {
        "rows_per_s": res.rows_per_s,
        "op_p50_ms": _pct(res.op_ms, 50),
        "op_p90_ms": _pct(res.op_ms, 90),
    }
    e2e = {
        "setup_s": res.setup_s,
        "rows_per_s": raw["rows_per_s"] / k,
        "op_p50_ms": raw["op_p50_ms"] * k,
        "op_p90_ms": raw["op_p90_ms"] * k,
        "peak_rss_mb": rss.peak_mb,
    }
    ops_failed = res.failed / res.attempted if res.attempted else 1.0

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  trace {args.trace}")
    for name, value in res.phases.items():
        print(f"  {'phase.' + name:28s} {value:14.3f} s")
    print(f"  {'setup_s':28s} {res.setup_s:14.3f} s")
    for name, value, unit, note in res.report:
        print(f"  {name:28s} {value:14.3f} {unit:5s} {note}")
    print(f"  {'op samples (ms)':28s} " + " ".join(f"{v:.0f}" for v in res.op_ms))
    print(f"  {'peak_rss_mb':28s} {rss.peak_mb:14.1f} MB")
    print(f"  {'reference job (ms)':28s} {np.median(ref.samples):14.1f} "
          + " ".join(f"{v:.0f}" for v in ref.samples) + f"  (scale {k:.3f} to {ref.NOMINAL_MS:.0f} ms)")
    for name in raw:
        print(f"  {name + ' at ref speed':28s} {e2e[name]:14.3f}")
    print(f"  {'ops_failed':28s} {ops_failed:14.4f} -     {res.failed}/{res.attempted} operations")

    if trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tr.tracer.write(stem + "-spans.jsonl")
        res.layers["trace.spans"] = float(len(tr.tracer.spans))
        for name in sorted(res.layers):
            print(f"  {name:28s} {res.layers[name]:14.4f}")
        with open(stem + "-layers.json", "w") as f:
            json.dump({"layers": res.layers, "e2e": e2e, "phases": res.phases}, f, indent=1)
        print(f"  spans and per-layer metrics written to {stem}-*")
        metrics = {
            m["name"]: {"value": float(res.layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: no measurement for {', '.join(bad)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _pct(values, q) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


if __name__ == "__main__":
    sys.exit(main())
