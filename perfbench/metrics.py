"""Metric names and the reduction of samples to the reported result."""

from __future__ import annotations

import statistics
import sys


# the recipe's steps, in order; workloads.recipe_steps builds them
STEP_NAMES = ["normalize", "infgain_mdl", "infgain_equal", "roc", "xtab",
              "mrmr", "carscore", "forests"]

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("rows_per_s", "rows/s"),
    ("fit_s", "s"),
    ("bake_rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
]

CORE = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("exec_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
# steps and the quality filter do not spill at benchmark sizes; the recipe's
# spill shows in plans.prep.spill_mb
NO_SPILL = [m for m in CORE if m[0] != "spill_mb"]

LAYERS = (
    [(name, CORE) for name in
     ("sources.checkpoint", "assembly", "asof", "plans.prep", "plans.bake")]
    + [(f"step.{s}", NO_SPILL) for s in STEP_NAMES]
    + [("quality_filter", NO_SPILL)]
    + [(name, CORE) for name in
       ("dedup.exact", "dedup.minhash", "dedup.components", "bm25")]
)

EXTRA = [
    ("session.start_s", "s"),
    ("asof.task_skew", "ratio"),
    ("asof.arrow_udf_s", "s"),
    ("step.infgain_mdl.arrow_udf_s", "s"),
    ("dedup.minhash.arrow_udf_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.pair_yield", "ratio"),
    ("sources.checkpoint.bytes_written_mb", "MB"),
    ("failed_tasks", "count"),
    ("trace.overhead_frac", "ratio"),
    ("trace.unattributed_frac", "ratio"),
]

PER_LAYER = [(f"{layer}.{m}", u) for layer, ms in LAYERS for m, u in ms] + EXTRA


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def summarize(workload: str, records: list[dict], trace: bool) -> dict:
    """The result line: medians over the samples that completed a pass.
    A sample that crashed, timed out, raised in its pass or failed an
    output check counts as failed."""
    failed = sum(1 for r in records if r["fails"])
    done = [r for r in records if "job_s" in r]
    if trace:
        vals = {name: (_median([r["layers"].get(name, 0.0) for r in done
                                if "layers" in r]), unit)
                for name, unit in PER_LAYER}
        vals["session.start_s"] = (_median([r["start_s"] for r in records
                                            if "start_s" in r]), "s")
    else:
        vals = {
            "setup_s": _median([r["setup_s"] for r in records if "setup_s" in r]),
            "job_s": _median([r["job_s"] for r in done]),
            "rows_per_s": _median([r["input_rows"] / r["job_s"] for r in done]),
            "fit_s": _median([r["fit_s"] for r in done]),
            "bake_rows_per_s": _median([r["bake_rows_per_s"] for r in done]),
            "peak_rss_mb": _median([r["peak_rss_mb"] for r in done]),
        }
        vals = {name: (vals[name], unit) for name, unit in END_TO_END}
    print(f"[perfbench {workload}] input shape: {records[0].get('shape')}",
          file=sys.stderr)
    print(f"[perfbench {workload}] {len(records)} sample(s), {failed} failed, "
          f"failed_frac={failed / len(records):.3f}", file=sys.stderr)
    for name, (v, unit) in vals.items():
        if not trace or v:
            print(f"[perfbench {workload}]   {name} = {v:.6g} {unit}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {name: {"value": v, "unit": unit} for name, (v, unit) in vals.items()},
    }
