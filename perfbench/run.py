"""Seeded, oracle-checked benchmark of the groonga_spark engine.

    python3 perfbench/run.py --workload search|ingest \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run starts a local Spark session
(``local[nproc]``, shuffle partitions = nproc), generates a Zipf corpus
and request stream from ``--seed``, runs one workload for ``--seconds``
seconds with one client thread, checks every answer against the numpy
BM25 oracle, and prints a summary followed, on the last line, by one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
span wrappers around the engine's public functions and reports the
per-layer metrics instead, plus the tracing overhead, and writes the
spans to ``perfbench/.work/traces/``. README.md describes the metrics.

Everything the run writes stays under ``perfbench/.work/`` (corpus,
index, Spark scratch and temp files) and is removed at the end, except
the span files. Exit status 2 means the engine could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (name, unit), reported on every workload
E2E = (
    ("setup_s", "s"),
    ("new_p50_ms", "ms"),
    ("repeat_p50_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("build_docs_per_s", "docs/s"),
    ("index_bytes_per_text_byte", "ratio"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def machine() -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2**20, 1),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0]}


def start_session(nproc: int, work: str):
    from groonga_spark.session import get_spark, warm_up

    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    warm_up(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (the gateway
    JVM exits when its stdin closes; it takes its Python workers along)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share the
    hypervisor gave to other guests explains run-to-run noise."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def pct(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else float("nan")


def figures(run, setup_s: float) -> list[tuple[str, float, str, int]]:
    """(name, value, unit, samples) of every end-to-end figure of the
    run: the E2E metrics first, then the workload's own named figures
    (tails, writes), which the summary prints but the result omits."""
    searches = [r for r in run.requests if r["op"] == "search"]
    lat = [r["s"] * 1e3 for r in searches]
    new = [r["s"] * 1e3 for r in searches if not r["repeat"]]
    rep = [r["s"] * 1e3 for r in searches if r["repeat"]]
    sel = [r["s"] * 1e3 for r in run.requests if r["op"] == "select"]
    appends = [w["s"] for w in run.writes if w["kind"] == "append"]
    ops = len(run.requests) + len(appends) + len(run.deletes)
    b = run.build
    out = [
        ("setup_s", setup_s, "s", 1),
        ("new_p50_ms", pct(new, 50), "ms", len(new)),
        ("repeat_p50_ms", pct(rep, 50), "ms", len(rep)),
        ("ops_per_s", ops / run.wall_s, "1/s", ops),
        ("build_docs_per_s", b["docs"] / b["s"], "docs/s", 1),
        ("index_bytes_per_text_byte",
         sum(b["index_bytes"].values()) / b["text_bytes"], "ratio", 1),
        ("ops_failed_frac", run.failed / max(run.attempted, 1), "ratio",
         run.attempted),
        ("search_p50_ms", pct(lat, 50), "ms", len(lat)),
        ("search_p90_ms", pct(lat, 90), "ms", len(lat)),
        ("search_p95_ms", pct(lat, 95), "ms", len(lat)),
    ]
    if run.workload == "ingest":
        out += [
            ("select_p50_ms", pct(sel, 50), "ms", len(sel)),
            ("append_p50_s", pct(appends, 50), "s", len(appends)),
            ("delete_p50_ms", pct(run.deletes, 50) * 1e3, "ms",
             len(run.deletes)),
        ]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    steal0, total0 = cpu_ticks()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    try:
        import benchlib  # noqa: F401 — the decode spy the traced run uses
        import groonga_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    # keep every temp file, Spark scratch dir and the engine's package
    # zip inside the checkout; a 2g Spark driver heap fits a small box
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM Spark starts (launcher and driver): temp files here, and
    # no hsperfdata file, which HotSpot writes to /tmp whatever tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp

    import spans
    import workloads
    from layers import layer_metrics

    info = machine()
    spark = None
    try:
        t_s = time.perf_counter()
        spark = start_session(nproc, work)
        session_s = time.perf_counter() - t_s
        jobs = spans.JobCounter(spark)
        tracer = (spans.Tracer(spans.Recorder(), jobs) if args.trace
                  else None)
        env = workloads.Env(spark, work, tracer, jobs, args.seconds)
        run = workloads.WORKLOADS[args.workload](env, args.seed)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    figs = figures(run, run.t_loop - t0)
    steal1, total1 = cpu_ticks()
    info["cpu_steal_pct"] = round(
        100 * (steal1 - steal0) / max(total1 - total0, 1), 1)
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"docs={workloads.N_DOCS} vocabulary={workloads.N_TERMS} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    for name, value, unit, n in figs:
        print(f"# {name:<28} {value:>14.4f} {unit:<7} n={n}")
    print("# setup: " + " ".join(
        f"{k}={v:.2f}" for k, v in {"session_s": session_s,
                                    **run.setup}.items()))
    if args.trace:
        metrics = layer_metrics(run, tracer.rec, session_s)
        trace_dir = os.path.join(HERE, ".work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-"
                            f"{os.getpid()}.jsonl")
        tracer.rec.dump(path)
        for name, (value, unit) in metrics.items():
            print(f"# {name:<44} {value:>14.4f} {unit}")
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
    else:
        e2e = {name: (value, unit) for name, value, unit, _ in figs}
        metrics = {k: e2e[k] for k, _ in E2E}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
