"""Benchmark worker: set-up, the closed loop over ``run_pipeline``, checks.

Started by ``run.py`` as ``worker.py <manifest.json> <result.json>
<spawn-time>`` with ``PYTHONPATH`` pointing at the checkout.  Writes one JSON
object to ``<result.json>``; with ``trace`` set in the manifest it also runs
the traced pass and the per-layer timings of ``tracing.py``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback

import pandas as pd

# set-ups per run; setup_s is their median, and traced runs repeat them so
# the traced pass starts from the same JVM state as an untraced one
SETUPS = 3
RSS_PERIOD_S = 0.05


def _warm(spark) -> None:
    """Run the first scalar and grouped pandas UDF jobs, so the Python
    workers exist and have imported the engine modules before timing."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    @pandas_udf(IntegerType())
    def _noop(s: pd.Series) -> pd.Series:
        import sumi_agent_spark.functions.batch_detect  # noqa: F401
        import sumi_agent_spark.functions.quality  # noqa: F401
        import sumi_agent_spark.operators.dedup  # noqa: F401
        return s.astype("int32")

    n = spark.sparkContext.defaultParallelism * 4
    (spark.range(n).repartition(n)
     .select(_noop(F.col("id").cast("int")).alias("x"))
     .agg(F.sum("x")).collect())

    def _gnoop(key, pdf):
        return pdf[["v"]]

    (spark.range(64).select(F.col("id"), (F.col("id") % 4).alias("g"),
                            F.lit(1.0).alias("v"))
     .groupBy("g").applyInPandas(_gnoop, "v double").count())


def start_spark(m: dict, conf: dict):
    from sumi_agent_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{m['workload']}",
                      cores=m["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)
    return spark


def pipeline_kwargs(m: dict, call: dict) -> dict:
    """``run_pipeline`` options of each workload."""
    if m["workload"] == "gated_slice":
        from workloads import GATED_GOPHER_RULES, TOXIC_ABOVE
        return dict(dedup=True, near_dedup_threshold=0.8,
                    near_dedup_scope="conversation",
                    repetition_thresholds="gopher",
                    gopher_quality_rules=GATED_GOPHER_RULES,
                    drop_toxic_above=TOXIC_ABOVE,
                    decontaminate_against=call["eval"])
    return {}


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
    total, todo, seen = 0, [root_pid], set()
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler(threading.Thread):
    """Peak process-tree RSS while running (driver JVM + Python workers).
    Traced runs only: the /proc scans take CPU from the timed pass."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop_evt.wait(RSS_PERIOD_S):
                return

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def run_loop(spark, m: dict, tracer=None) -> list[list[dict]]:
    """Closed loop: passes over the workload's calls until ``seconds``
    have passed (at least one pass).  Returns per-pass call records."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    sc = spark.sparkContext
    passes: list[list[dict]] = []
    t_loop = time.time()
    while True:
        pass_dir = os.path.join(m["work"], "passes", str(len(passes)))
        calls = []
        for k, call in enumerate(m["calls"]):
            out = os.path.join(pass_dir, f"out{k}")
            kw = pipeline_kwargs(m, call)
            rec = {"call": k, "out": out, "stats": None}
            if tracer is not None:
                sc.setJobGroup(f"pipeline.call{k}", "run_pipeline")
            t0 = time.time()
            try:
                rec["stats"] = run_pipeline(spark, call["input"], out, **kw)
            except Exception:
                traceback.print_exc()
            rec.update(start=t0, end=time.time())
            if tracer is not None:
                sc.setJobGroup("perfbench", "benchmark")
                tracer.add(f"run_pipeline.call{k}", t0, rec["end"])
            calls.append(rec)
            if rec["stats"] is None:
                break
        passes.append(calls)
        if time.time() - t_loop >= m["seconds"]:
            return passes


def check_passes(m: dict, passes: list[list[dict]]) -> tuple[int, int]:
    """(attempted, failed) calls; a call fails when it raised or when any
    output check fails."""
    import pyarrow.parquet as pq

    import checks

    attempted = failed = 0
    inputs = [pq.read_table(c["input"]).to_pandas() for c in m["calls"]]
    for calls in passes:
        attempted += len(m["calls"])
        failed += len(m["calls"]) - len(calls)
        for rec in calls:
            if rec["stats"] is None:
                failed += 1
                continue
            inp = inputs[rec["call"]]
            if m["workload"] == "gated_slice":
                fails = checks.check_gated(inp, rec["out"], m["planted"])
            else:
                fails = checks.check_bulk(inp, rec["out"])
            for f in fails:
                _log(f"check failed: {f}")
            failed += bool(fails)
    return attempted, failed


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    mpath, result_path, spawned_at = sys.argv[1], sys.argv[2], float(
        sys.argv[3])
    with open(mpath) as f:
        m = json.load(f)
    conf = {"spark.ui.showConsoleProgress": "false"}
    tracer = None
    if m["trace"]:
        import tracing

        tracer = tracing.Tracer(m)
        conf.update(tracer.spark_conf())

    setups = []
    spark = start_spark(m, conf)
    setups.append(time.time() - spawned_at)
    for _ in range(SETUPS - 1):
        spark.stop()
        t0 = time.time()
        spark = start_spark(m, conf)
        setups.append(time.time() - t0)

    if tracer is None:
        passes = run_loop(spark, m)
    else:
        rss = RssSampler()
        rss.start()
        passes = run_loop(spark, m, tracer)
        peak_rss = rss.stop()
        layers = tracer.time_layers(spark)
        layers["peak_rss_mb"] = peak_rss / 2**20
    _log(f"set-ups {[round(s, 2) for s in setups]} s, passes "
         f"{[[round(c['end'] - c['start'], 2) for c in p] for p in passes]} s")
    app_id = spark.sparkContext.applicationId
    spark.stop()
    t0 = time.time()
    attempted, failed = check_passes(m, passes)
    _log(f"checks {time.time() - t0:.2f} s")

    pass_s = [calls[-1]["end"] - calls[0]["start"] for calls in passes]
    run_s = statistics.median(pass_s)
    if tracer is not None:
        metrics = tracer.report(app_id, passes, run_s, layers)
    else:
        metrics = {
            "setup_s": _metric(statistics.median(setups), "s"),
            "run_s": _metric(run_s, "s"),
            "turns_per_s": _metric(m["n_turns"] / run_s, "turns/s"),
        }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with open(result_path, "w") as f:
        json.dump(result, f)
    os.makedirs(m["traces"], exist_ok=True)
    with open(os.path.join(m["traces"], "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": m["workload"], "seed": m["seed"],
                            "trace": m["trace"], **result}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
