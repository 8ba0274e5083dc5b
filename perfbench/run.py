"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_scrub --seed 1 --seconds 1 \
        --trace 0

Run it from the root of a checkout.  The launcher generates the workload's
parquet inputs from ``--seed`` in this process, then starts
``perfbench/worker.py`` in a fresh process group: the worker starts Spark as
``local[nproc]``, times set-up, runs ``plans.pipeline.run_pipeline`` in a
closed loop (one client; the next call starts when the previous returns)
until ``--seconds`` have passed, and checks every output.  The first pass
after set-up is always timed: a scheduled spark-submit job pays JVM warm-up
on every run, so that is the pass users see.  ``--trace 1`` is a separate
run that also times each layer from outside and reduces the Spark event log
(see ``tracing.py``); it prints the per-layer metrics instead of the
end-to-end ones.

Not measured here: the embedding index (it doubles the daily work and
deserves its own workload), the Structured Streaming twin, and the 59
driver-contract queries, which stay with ``bench.py`` and
``tools/check_contract.py``.

Everything a run writes stays under ``.perfbench_work/`` in the checkout.
Every run appends its result to ``.perfbench_work/traces/runs.jsonl`` and a
traced run keeps its spans, stage rows and report next to it;
``perfbench/report.py`` summarises them, including the tracing overhead.
The last stdout line is the JSON result.
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
ROOT = os.path.dirname(HERE)
RUN_BUDGET_S = 170  # every worker must have ended by then


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap_group(proc: subprocess.Popen) -> None:
    """Stop every process the worker left behind (JVM, Python workers)
    and wait until the whole group has exited."""
    pgid = proc.pid
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            break
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + grace
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)
    proc.wait()


def _run_worker(manifest: dict, env: dict, deadline: float) -> dict | None:
    """Run one worker process to completion; its result, or None."""
    work = manifest["work"]
    mpath = os.path.join(work, "manifest.json")
    result_path = os.path.join(work, "result.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), mpath,
           result_path, repr(time.time())]
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(deadline - time.time(), 1.0))
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
    finally:
        _reap_group(proc)
    if proc.returncode != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker failed (exit {proc.returncode})",
              file=sys.stderr)
        return None
    with open(result_path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated launcher still unwinds, so the worker group is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(ROOT, "sumi_agent_spark")):
        print("perfbench: no sumi_agent_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_BUDGET_S
    cores = _cores()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        manifest = workloads.build(args.workload, args.seed,
                                   os.path.join(work, "data"), cores)
        print(f"perfbench: {args.workload} seed {args.seed} shares "
              f"{json.dumps(manifest['shares'])}", file=sys.stderr,
              flush=True)
        manifest.update(cores=cores, seconds=args.seconds, work=work,
                        traces=os.path.join(base, "traces"))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        # Spark's Python workers inherit this, so they import the engine
        # from this checkout whatever the working directory
        env["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
        env.update(SPARK_GRAFT_CPUS=str(cores), PYSPARK_PYTHON=sys.executable,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=tmp,
                   # every JVM, the launcher's too: no hsperfdata in /tmp
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData "
                                     f"-Djava.io.tmpdir={tmp}")
        result = _run_worker(dict(manifest, trace=args.trace), env, deadline)
        if result is None:
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
