#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload code_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``, where
``metrics`` holds every end-to-end metric with ``--trace 0`` and every
per-layer metric with ``--trace 1``. Lines before it carry the host
stamp and the workload's own figures. Exits non-zero, printing no
result, when the library is not there to benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("code_build", "ingest_delete")  # the ones BENCHMARK.json lists
# Run by hand only: with it, the repeated runs of a full steadiness and
# comparison set overran the benchmark's time budget on a busy host.
BY_HAND = ("query_mix",)
DRIVER_MEM = "4g"


def _isolate(work: str) -> None:
    """Everything the run and the library write goes below ``work``:
    Spark's local dirs, Python and JVM temp files, and the library's
    cwd-relative ``PROGRESS.jsonl``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM of the run, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # The session's default 16g driver heap exceeds what this 16 GB class
    # of host can back: the heap grew to 12 GB and one build wall went
    # from 15 s to 51 s. A fixed heap keeps walls and memory repeatable.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.chdir(work)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + BY_HAND)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "xsearch_spark", "__init__.py")):
        print(f"perfbench: no xsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import corpus, host, layers, workloads
    from perfbench.spans import Tracer

    cache = corpus.corpus_dir(os.path.join(STATE, "cache"))
    work = os.path.join(STATE, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    tracer = Tracer(bool(args.trace), run_tag=f"perfbench-{os.getpid()}")
    run = workloads.Run(args.seed, args.seconds, tracer, cache, work)
    stamp = host.host_stamp()
    cpu0 = host.cpu_times()
    try:
        _isolate(work)
        getattr(workloads, args.workload)(run)
    finally:
        run.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        run.phase("remove_work")
    stamp["steal_pct"] = round(host.steal_pct(cpu0, host.cpu_times()), 3)
    print(json.dumps({"host": stamp}))

    if args.trace:
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write_jsonl(spans, {"workload": args.workload, "seed": args.seed, "host": stamp})
        run.detail["spans_jsonl"] = os.path.relpath(spans, ROOT)
        values = layers.per_layer_metrics(tracer)
        spec = [(name, unit) for name, unit, _better in layers.per_layer_spec()]
        # the traced run's end-to-end figures, for the tracing overhead
        run.detail["traced_end_to_end"] = run.metrics
    else:
        values = run.metrics
        spec = [(name, unit) for name, unit, _better, _bound in workloads.E2E]
    run.detail["failures"] = run.failures[:20]
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed, **run.detail}}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in spec},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
