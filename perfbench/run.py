"""Benchmark entry point.

    python3 perfbench/run.py --workload <assemble_pit|recipe_fit|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One sample is one batch
job: a fresh worker process, and so a fresh JVM, that sets up, runs one pass
of the workload and checks its output. The run takes samples one after the
other until ``--seconds`` have passed (at least one) and reports medians.
Every worker starts a session of its own, whose processes are all killed
once the worker returns, so no JVM or Python worker outlives its sample;
only one sample runs at a time. A sample that crashes or times out counts
as failed. The last stdout line is the JSON result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. Progress, input shapes
and failed checks go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("assemble_pit", "recipe_fit", "corpus_dedup")
SAMPLE_TIMEOUT_S = 170
REAP_LIMIT_S = 30


def reap_session(sid: int) -> None:
    """Kill every process of session ``sid`` (the worker, its JVM and the
    JVM's Python daemon, which sits in a process group of its own) and
    wait until none is left alive."""
    end = time.time() + REAP_LIMIT_S
    while time.time() < end:
        alive = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                alive.append(int(pid))
        if not alive:
            return
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def sample(root: str, a, k: int) -> dict:
    """Run one worker; its JSON record, or a failed record when it crashed
    or timed out."""
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}-{k}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # the JVM's Python workers import the package from the checkout,
        # whatever their current directory
        "PYTHONPATH": os.pathsep.join(
            [root] + [x for x in env.get("PYTHONPATH", "").split(os.pathsep) if x]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    spans = os.path.join(root, ".perfbench", f"spans-{a.workload}-{a.seed}-{k}.jsonl")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--trace", str(a.trace), "--root", root, "--work", work,
           "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=root,
                            text=True, start_new_session=True)
    reason = None
    try:
        out, _ = proc.communicate(timeout=SAMPLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        reason = f"sample exceeded {SAMPLE_TIMEOUT_S}s"
    finally:
        reap_session(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in (out or "").splitlines() if ln.startswith("{")]
    if reason is None and (proc.returncode != 0 or not lines):
        reason = f"sample crashed (exit {proc.returncode})"
    if reason is not None:
        print(f"perfbench: {reason}", file=sys.stderr)
        return {"fails": [reason]}
    return json.loads(lines[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    root = os.getcwd()
    needed = [os.path.join(root, "recipeselectors_spark", "__init__.py"),
              os.path.join(root, "tests", "oracles.py")]
    missing = [n for n in needed if not os.path.isfile(n)]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2

    records: list[dict] = []
    deadline = time.time() + a.seconds
    while not records or time.time() < deadline:
        records.append(sample(root, a, len(records)))

    result = metrics.summarize(a.workload, records, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
