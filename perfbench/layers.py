"""The per-layer metrics of a traced run, named ``<module>.<metric>``
after the library module whose public calls the spans wrap.

Layers whose calls run Spark jobs report the full counter set; layers
that run only on the driver (session start, the query parser, the
in-process tokenizer kernel) report time. ``operators.wand`` is split by
request family, because each family is a different composition of jobs.
A layer a workload never calls reports zeros.
"""

from __future__ import annotations

from perfbench.spans import STAGE_COUNTERS, Tracer, driver_time, self_time

SPARK_LAYERS = (
    "sources.ids",
    "operators.segments",
    "plans.build_index",
    "streaming.ingest",
    "plans.admin",
)
WAND_FAMILIES = ("search", "page", "batch", "read")

_COUNTER_UNITS = {
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "input_bytes": "B",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
def _spark_metrics(prefix: str) -> list[tuple[str, str, str]]:
    out = [
        (f"{prefix}.wall_s", "s", "lower"),
        (f"{prefix}.self_s", "s", "lower"),
        (f"{prefix}.jobs", "count", "lower"),
    ]
    out += [(f"{prefix}.{c}", _COUNTER_UNITS[c], "lower") for c in STAGE_COUNTERS]
    return out


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    spec = [("session.wall_s", "s", "lower")]
    for layer in SPARK_LAYERS:
        spec += _spark_metrics(layer)
    spec += [
        ("operators.segments.pack_runs", "count", "lower"),
        ("plans.build_index.driver_s", "s", "lower"),
        ("streaming.ingest.epochs", "count", "lower"),
        ("plans.admin.buckets_rewritten", "count", "lower"),
        ("operators.build.wall_s", "s", "lower"),
        ("operators.build.kernel_docs_per_s", "1/s", "higher"),
        ("plans.query.wall_s", "s", "lower"),
        ("plans.query.parse_s", "s", "lower"),
    ]
    for fam in WAND_FAMILIES:
        prefix = f"operators.wand.{fam}"
        spec += _spark_metrics(prefix)
        spec += [
            (f"{prefix}.jobs_per_op", "count", "lower"),
            (f"{prefix}.driver_s", "s", "lower"),
        ]
    spec.append(("trace.overhead_s", "s", "lower"))
    return spec


def per_layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Aggregate the run's spans into every metric of
    :func:`per_layer_spec` (sums over spans; ``*_per_op`` and
    ``parse_s``/``driver_s`` of wand families are per call)."""
    vals: dict[str, float] = {name: 0 for name, _, _ in per_layer_spec()}

    def add_spark(prefix: str, sp) -> None:
        vals[f"{prefix}.wall_s"] += sp.wall
        vals[f"{prefix}.self_s"] += self_time(sp, tracer.children(sp))
        vals[f"{prefix}.jobs"] += sp.jobs
        for c in STAGE_COUNTERS:
            vals[f"{prefix}.{c}"] += sp.counters[c]

    wand_ops = dict.fromkeys(WAND_FAMILIES, 0)
    parse_calls = 0
    kernel_docs = 0
    for sp in tracer.spans:
        if sp.name == "session":
            vals["session.wall_s"] += sp.wall
        elif sp.name in SPARK_LAYERS:
            add_spark(sp.name, sp)
            if sp.name == "plans.build_index":
                vals["plans.build_index.driver_s"] += driver_time(sp)
            vals["operators.segments.pack_runs"] += sp.attrs.get("pack_runs", 0)
            vals["streaming.ingest.epochs"] += sp.attrs.get("epochs", 0)
            vals["plans.admin.buckets_rewritten"] += sp.attrs.get("buckets_rewritten", 0)
        elif sp.name == "operators.wand":
            prefix = f"operators.wand.{sp.family}"
            add_spark(prefix, sp)
            vals[f"{prefix}.driver_s"] += driver_time(sp)
            wand_ops[sp.family] += 1
        elif sp.name == "plans.query":
            vals["plans.query.wall_s"] += sp.wall
            parse_calls += 1
        elif sp.name == "operators.build":
            vals["operators.build.wall_s"] += sp.wall
            kernel_docs += sp.attrs.get("docs", 0)
    for fam, n in wand_ops.items():
        if n:
            prefix = f"operators.wand.{fam}"
            vals[f"{prefix}.jobs_per_op"] = vals[f"{prefix}.jobs"] / n
            vals[f"{prefix}.driver_s"] /= n
    if parse_calls:
        vals["plans.query.parse_s"] = vals["plans.query.wall_s"] / parse_calls
    if vals["operators.build.wall_s"]:
        vals["operators.build.kernel_docs_per_s"] = kernel_docs / vals["operators.build.wall_s"]
    vals["trace.overhead_s"] = tracer.overhead_s
    return vals
