"""Benchmark of the batch percolator on one host (``local[<cores>]``).

    python3 perfbench/run.py --workload perc-dense --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``perc-selective``: a large selective registry; registry-scale gating
  and verify dominate each batch.
- ``perc-dense``: a small registry over the head vocabulary; Python verify,
  BM25 scoring and highlighting dominate each batch.
- ``index-rw``: top-k term and DSL queries over a positional index while
  appends add segments, then one compaction.

The run prints one line per metric (name, value, unit, sample count), the
host probes and an output digest, then, as its last line, a JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run writes its spans to
``.perfbench/out/spans-<workload>-<seed>.json``; an untraced run leaves its
end-to-end figures beside them for a traced run of the same seed and code.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "elasticsearch_batch_percolator_spark"
WORKLOADS = ("perc-selective", "perc-dense", "index-rw")
# the metrics a change is judged on (BENCHMARK.json "end_to_end"); the
# wall times and the peak RSS are printed too, but on a shared 4-core host
# their run-to-run spread exceeds any bound the gate allows
END_TO_END = {
    "setup_s": "s",
    "call_cpu_s": "s",
    "held_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session_env(work: str, traced: bool) -> None:
    """Keep every file the run writes inside ``work`` and make the package
    importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    args = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(workload, out, tr, events, rss) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run. Times are medians per call;
    counts, bytes and CPU are means per call of the layer's operation."""
    d = tr.durations
    builds = d("setup") if workload == "index-rw" else []
    n_batches = max(1, len(d("batch")))
    per = {
        "registry": max(1, len(d("registry.compile"))),
        "percolate": n_batches,
        "scores": n_batches,
        "highlights": n_batches,
        "wand": max(1, len(d("wand"))),
        "dsl": max(1, len(d("dsl"))),
        "index": max(1, len(builds) + len(d("append")) + len(d("compact"))),
    }

    def ev(layer, key):
        return events.get(layer, {}).get(key, 0.0) / per[layer]

    def pl(layer, key):
        return tr.plan.get(layer, {}).get(key, 0.0) / per[layer]

    match_rows = out.counts.get("percolate.match_rows", 0) / n_batches
    cand = pl("percolate", "candidate_rows")
    m = {
        "registry.compile_s": (_med(d("registry.compile")), "s"),
        "registry.warmup_s": (_med(d("registry.warmup")), "s"),
        "registry.verify_queries": (out.counts.get("registry.verify_queries", 0), "count"),
        "registry.jv_queries": (out.counts.get("registry.jv_queries", 0), "count"),
        "percolate.plan_s": (_med(d("percolate.plan")), "s"),
        "percolate.execute_s": (_med(d("percolate.execute")), "s"),
        "percolate.executor_cpu_s": (ev("percolate", "cpu_s"), "s"),
        "percolate.candidate_rows": (cand, "count"),
        "percolate.match_rows": (match_rows, "count"),
        "percolate.matches_per_candidate": (match_rows / cand if cand else 0.0, "ratio"),
        "percolate.shuffle_bytes": (ev("percolate", "shuffle_bytes"), "bytes"),
        "percolate.python_s": (pl("percolate", "python_s"), "s"),
        "percolate.python_rows": (pl("percolate", "python_rows"), "count"),
        "percolate.python_bytes": (pl("percolate", "python_bytes"), "bytes"),
        "scores.s": (_med(d("scores")), "s"),
        "scores.executor_cpu_s": (ev("scores", "cpu_s"), "s"),
        "highlights.s": (_med(d("highlights")), "s"),
        "highlights.python_s": (pl("highlights", "python_s"), "s"),
        "highlights.python_rows": (pl("highlights", "python_rows"), "count"),
        "wand.s": (_med(d("wand")), "s"),
        "wand.executor_cpu_s": (ev("wand", "cpu_s"), "s"),
        "wand.python_s": (pl("wand", "python_s"), "s"),
        "wand.postings_rows": (pl("wand", "scan_rows"), "count"),
        "dsl.s": (_med(d("dsl")), "s"),
        "dsl.executor_cpu_s": (ev("dsl", "cpu_s"), "s"),
        "dsl.python_s": (pl("dsl", "python_s"), "s"),
        "dsl.postings_rows": (pl("dsl", "scan_rows"), "count"),
        "index.build_s": (_med(builds), "s"),
        "index.append_s": (_med(d("append")), "s"),
        "index.compact_s": (_med(d("compact")), "s"),
        "index.shuffle_bytes": (ev("index", "shuffle_bytes"), "bytes"),
        "index.bytes_written": (ev("index", "bytes_written"), "bytes"),
        "index.segments": (out.counts.get("index.segments", 0), "count"),
        "workers.peak_rss_mb": (rss.workers_peak_mb, "MB"),
        "workers.count": (rss.workers_max, "count"),
        "jvm.held_mb": (max(out.times.get("held_jvm", []), default=0.0), "MB"),
    }
    for layer in ("registry", "percolate", "scores", "highlights", "wand", "dsl", "index"):
        m[f"{layer}.tasks"] = (ev(layer, "tasks"), "count")
    return m


def _run(args, work: str, cores: int):
    """Start Spark, run the workload, stop Spark and wait for every process
    the run started. Returns (outcome, tracer, RSS sampler, wall times)."""
    from perfbench import host, workloads
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    with host.RssSampler() as rss:
        from elasticsearch_batch_percolator_spark.session import get_spark

        spark = get_spark("perfbench", cores=cores)
        t_spark = time.perf_counter()
        jvm = spark.sparkContext._gateway.proc
        try:
            tr = Tracer(spark, bool(args.trace))
            if args.workload == "index-rw":
                out = workloads.run_index(spark, tr, work, args.seed, args.seconds)
            else:
                out = workloads.run_percolation(spark, tr, args.workload, args.seed, args.seconds)
        finally:
            t_work = time.perf_counter()
            spark.stop()
            # the JVM exits when its stdin closes; its Python workers exit
            # with it
            jvm.stdin.close()
            jvm.wait(timeout=60)
    alive = host.wait_gone(rss.seen)
    if alive:
        raise RuntimeError(f"processes still alive after stop: {alive}")
    walls = {"start": t_spark - t0, "workload": t_work - t_spark,
             "stop": time.perf_counter() - t_work}
    return out, tr, rss, walls


def _source_digest() -> str:
    """Digest of the package's and the benchmark's Python sources: an
    untraced run is a reference for a traced run only of the same code."""
    h = hashlib.sha256()
    for top in (PACKAGE, "perfbench"):
        for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for name in sorted(f for f in files if f.endswith(".py")):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _event_log(work: str) -> str:
    events = os.path.join(work, "events")
    (name,) = os.listdir(events)
    return os.path.join(events, name)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "out")
    os.makedirs(results, exist_ok=True)
    _session_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from perfbench import host, workloads
    from perfbench.trace import read_event_log

    probes = {"cpu_probe_s": host.cpu_probe_s(), "membw_probe_s": host.membw_probe_s()}
    cores = len(os.sched_getaffinity(0))
    try:
        out, tr, rss, walls = _run(args, work, cores)

        e2e = workloads.summarize(args.workload, out)
        held_jvm = out.times.get("held_jvm", [])
        e2e["held_mb"] = (rss.python_peak_mb + max(held_jvm, default=0.0), "MB", len(held_jvm))
        e2e["peak_rss_mb"] = (rss.peak_mb, "MB", 1)
        print(f"# workload {args.workload} seed {args.seed} cores {cores} digest {out.hexdigest}")
        print("# wall s: " + " ".join(f"{k} {v:.1f}" for k, v in walls.items()))
        spans: dict[str, list[float]] = {}
        for sp in tr.spans:
            spans.setdefault(sp["name"], []).append(sp["end"] - sp["start"])
        print("# spans (name: count, total s): " + ", ".join(
            f"{k}: {len(v)}, {sum(v):.1f}" for k, v in spans.items()))
        print(f"# peak rss MB: driver {rss.driver_peak_mb:.0f} jvm {rss.jvm_peak_mb:.0f} "
              f"workers {rss.workers_peak_mb:.0f}; python {rss.python_peak_mb:.0f}")
        for k, v in probes.items():
            print(f"# probe {k} {v:.4f} s")
        for name, (value, unit, n) in e2e.items():
            print(f"{name:28s} {value:14.4f} {unit:10s} n={n}")
        for err in out.errors:
            print(f"# FAILED {err}", file=sys.stderr)

        # the untraced run of the same workload, seed and code, if this
        # checkout has one
        reference = os.path.join(
            results, f"untraced-{args.workload}-{args.seed}-{_source_digest()}.json"
        )
        if not args.trace:
            metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
            with open(reference, "w") as f:
                json.dump({k: v[0] for k, v in e2e.items()}, f)
        else:
            if os.path.exists(reference):
                with open(reference) as f:
                    ref = json.load(f)
                print("# traced against the untraced run of this seed and code: " + ", ".join(
                    f"{k} {100.0 * (e2e[k][0] / ref[k] - 1.0):+.1f} %"
                    for k in END_TO_END if ref.get(k)))
            else:
                print("# no untraced run of this seed and code in this checkout to compare with")
            layers = layer_metrics(args.workload, out, tr, read_event_log(_event_log(work)), rss)
            # what tracing adds to the timed set-ups and calls, measured in this run:
            # the CPU of the event-log thread, as a share of their CPU
            timed = [sp for sp in tr.spans if "cpu_s" in sp]
            call_cpu = sum(sp["cpu_s"] for sp in timed)
            layers["trace.overhead_pct"] = (
                100.0 * sum(sp["trace_cpu_s"] for sp in timed) / call_cpu if call_cpu else 0.0,
                "%",
            )
            layers["trace.walk_s"] = (tr.walk_s, "s")
            for name, (value, unit) in layers.items():
                print(f"{name:28s} {value:14.4f} {unit}")
            with open(os.path.join(results, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(tr.spans, f)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
