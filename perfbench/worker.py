"""One sample of a workload in a fresh JVM: set up, one pass, check.

Started by ``run.py`` in a session of its own; prints one JSON object
(this sample's raw figures) as its last stdout line. With ``--trace 1`` the
pass runs under spans and the sample adds its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


class RssSampler(threading.Thread):
    """Peak summed proportional resident memory (PSS) of every process in
    this session: this Python driver, its JVM, and the JVM's Python daemon
    and workers (the daemon moves to a process group of its own, but stays
    in the session). PSS splits pages shared between processes among them,
    so forked Python workers, and the JVM's short-lived fork before it
    executes a new process, are not counted twice."""

    PERIOD_S = 0.25

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.split: dict[str, int] = {}  # by process name, at the peak
        self.active = threading.Event()
        self.sid = os.getsid(0)

    def sample(self) -> int:
        total = 0
        split: dict[str, int] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
                if int(tail.split()[3]) != self.sid:
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) * 1024 for line in fh
                               if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            total += pss
            name = head.split("(", 1)[1]
            split[name] = split.get(name, 0) + pss
        if total > self.peak:
            self.split = split
        return total

    def run(self) -> None:
        while True:
            if self.active.is_set():
                self.peak = max(self.peak, self.sample())
            time.sleep(self.PERIOD_S)


def start_session(work: str, cores: int):
    from recipeselectors_spark.session import get_spark

    mem_kb = int(open("/proc/meminfo").readline().split()[1])
    driver_gb = max(1, min(2, int(mem_kb / 2**20 * 0.25)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_gb}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so peak resident memory does not hinge on
        # when the collector decides to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
        "spark.sql.ui.retainedExecutions": "5000",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def layer_metrics(reader, tracer, pass_span) -> dict[str, float]:
    """Per-layer metrics of one traced pass; a layer's figures include the
    work of the spans nested in it (plans.prep holds the steps)."""
    import spans as S

    mine = [s for s in tracer.spans
            if s.start >= pass_span.start and s.end <= pass_span.end]
    jobs = reader.jobs_of(mine)
    stage_ids = reader.stage_ids(set().union(*jobs.values()))
    stages = reader.stages(set().union(set(), *stage_ids.values()))
    py_s = reader.python_seconds()
    kids: dict[int, list] = {}
    for s in mine:
        kids.setdefault(s.parent, []).append(s)

    def subtree(s):
        out = [s]
        for c in kids.get(s.id, []):
            out += subtree(c)
        return out

    out: dict[str, float] = {}
    for s in mine:
        if s.id == pass_span.id:
            continue
        jids = set().union(*(jobs[x.id] for x in subtree(s)))
        own = {sid: stages[sid] for j in jids for sid in stage_ids[j] if sid in stages}
        wall = s.end - s.start
        busy = S.union_length(S.clip(
            [(st["start"], st["end"]) for st in own.values()
             if st["start"] is not None and st["end"] is not None],
            s.start, s.end))
        vals = {
            "wall_s": wall,
            "driver_s": wall - busy,
            "jobs": len(jids),
            "stages": len(own),
            "exec_cpu_s": sum(st["cpu_s"] for st in own.values()),
            "shuffle_write_mb": sum(st["shuffle_write_mb"] for st in own.values()),
            "spill_mb": sum(st["spill_mb"] for st in own.values()),
            "arrow_udf_s": sum(py_s.get(j, 0.0) for j in jids),
        }
        for m, v in vals.items():
            out[f"{s.name}.{m}"] = out.get(f"{s.name}.{m}", 0.0) + v
        if s.name == "asof" and own:
            sid, st = max(own.items(), key=lambda kv: kv[1]["run_s"])
            out["asof.task_skew"] = reader.task_skew(sid, st["attempt"])
        if s.name == "sources.checkpoint":
            out["sources.checkpoint.bytes_written_mb"] = sum(
                st["output_mb"] for st in own.values())
        if "confirmed_pairs" in s.counts:
            out["dedup.confirmed_pairs"] = s.counts["confirmed_pairs"]
    out["failed_tasks"] = sum(st["failed_tasks"] for st in stages.values())
    self_t = S.self_times(mine)
    out["trace.unattributed_frac"] = self_t[pass_span.id] / (pass_span.end - pass_span.start)
    return out


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def engine_warmup(spark) -> None:
    """Start what every workload needs before its first pass: a first
    Spark job, and Python workers with pandas and pyarrow imported."""
    (spark.range(4096, numPartitions=spark.sparkContext.defaultParallelism)
     .mapInPandas(lambda it: (b for b in it), "id long").count())


def emit(record: dict) -> None:
    """Print the sample's record and end the process at once; run.py then
    kills the rest of the session, JVM included."""
    print(json.dumps(record), flush=True)
    os._exit(0)


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--root", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--spans", required=True)
    a = p.parse_args(argv)

    sys.path[:0] = [a.root, os.path.join(a.root, "tests"), HERE]
    import spans as S
    from workloads import WORKLOADS

    log = lambda *m: print(f"[perfbench {a.workload}]", *m, file=sys.stderr, flush=True)
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[a.workload](a.seed, a.work,
                               os.path.join(a.root, ".perfbench", "checksums"))
    sampler = RssSampler()
    sampler.start()

    t0 = time.time()
    spark = start_session(a.work, cores)
    start_s = time.time() - t0
    wl.generate()
    engine_warmup(spark)
    setup_s = time.time() - t0
    log(f"setup {setup_s:.2f}s (session {start_s:.2f}s)")

    sc = spark.sparkContext
    tracer = S.Tracer(sc, f"{a.workload}-{a.seed}", bool(a.trace))
    reader = S.StageReader(spark) if a.trace else None
    if reader:
        reader.skip_executions()
    out = {"setup_s": setup_s, "start_s": start_s, "input_rows": wl.input_rows,
           "shape": wl.shape, "fails": []}
    ticks = cpu_ticks()
    sampler.active.set()
    try:
        with tracer.span("pass") as root:
            res = wl.run_pass(spark, tracer)
    except Exception:  # the failed pass is reported, not raised
        sampler.active.clear()
        out["fails"].append(traceback.format_exc())
        log(out["fails"][-1])
        emit(out)
    sampler.active.clear()
    used = [b - a for a, b in zip(ticks, cpu_ticks())]
    # time the hypervisor gave to other guests: the main source of spread
    # between samples on a shared host
    log(f"pass: {res.job_s:.3f}s (fit {res.fit_s:.3f}s); "
        f"CPU steal {used[7] / max(sum(used), 1):.1%}")
    log("peak PSS MB by process:",
        {n: round(v / 2**20) for n, v in sampler.split.items()})
    out.update(job_s=res.job_s, fit_s=res.fit_s, bake_rows_per_s=res.bake_rows_per_s,
               peak_rss_mb=sampler.peak / 2**20)
    try:
        out["fails"] += wl.verify(spark, res)
    except Exception:
        out["fails"].append(traceback.format_exc())
    for f in out["fails"]:
        log("CHECK FAILED:", f)

    if a.trace:
        t1 = time.time()
        layers = layer_metrics(reader, tracer, root)
        log(f"layer metrics read in {time.time() - t1:.2f}s")
        if a.workload == "corpus_dedup":
            cand = wl.candidate_pairs(spark)
            layers["dedup.candidate_pairs"] = cand
            layers["dedup.pair_yield"] = layers["dedup.confirmed_pairs"] / cand if cand else 0.0
        # traced job_s / untraced job_s - 1, with the untraced time being
        # the traced pass less the tracer's own bookkeeping inside it
        layers["trace.overhead_frac"] = tracer.overhead_s / (res.job_s - tracer.overhead_s)
        out["layers"] = layers
        tracer.write(a.spans)
        log(f"spans written to {a.spans}")
    emit(out)


if __name__ == "__main__":
    main()
