"""Traced run: spans, per-layer timings and the Spark event-log reduction.

Every layer is timed from outside, by a call into its public functions on
the workload's own input; no span is recorded inside the engine.  Spark work
is tagged with ``setJobGroup(<layer>)`` so the event log attributes jobs,
stages and tasks to the layer (or ``pipeline.call<k>``) that ran them.
Spans stay in memory and are written, with the per-stage rows and the
report, to ``<traces>/<run id>/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

KERNEL_BATCH = 10_000  # rows per batch, as arrow.maxRecordsPerBatch

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "batch_detect.busy_s": "s",
    "batch_detect.turns_per_core_s": "turns/s",
    "batch_detect.chars_per_core_s": "chars/s",
    "batch_detect.detections": "count",
    "oracle.mask_busy_s": "s",
    "quality.busy_s": "s",
    "quality.keep_share": "ratio",
    "dedup.signature_busy_s": "s",
    "udfs.scrub_stage_s": "s",
    "udfs.boundary_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.bytes": "bytes",
    "checkpoint.files": "count",
    "dedup.exact_s": "s",
    "dedup.near_conv_s": "s",
    "dedup.near_pairs": "count",
    "dedup.near_dropped": "count",
    "dedup.capped_buckets": "count",
    "dedup.drops_per_pair": "ratio",
    "repetition.busy_s": "s",
    "repetition.dropped": "count",
    "doc_quality.busy_s": "s",
    "doc_quality.dropped": "count",
    "toxicity.busy_s": "s",
    "toxicity.dropped": "count",
    "decontaminate.busy_s": "s",
    "decontaminate.dropped": "count",
    "decontaminate.planted_recall": "ratio",
    "minhash_index.write_s": "s",
    "minhash_index.probe_s": "s",
    "minhash_index.append_s": "s",
    "minhash_index.reindex_s": "s",
    "minhash_index.probe_pairs": "count",
    "minhash_index.drop_keys": "count",
    "minhash_index.changed": "count",
    "minhash_index.epochs": "count",
    "minhash_index.files": "count",
    "minhash_index.bytes": "bytes",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.self_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.job_gap_s": "s",
    "spark.single_task_stages": "count",
    "spark.max_task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.run_s": "s",
    # driver JVM plus Python workers; the JVM's heap growth makes it vary
    # too much between runs (spread 0.13-0.21) to bound as end-to-end
    "peak_rss_mb": "MB",
}


def _dir_size(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(iv for iv in intervals if iv[0] < iv[1]):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


class Tracer:
    """Spans, job groups and event-log reduction for one traced run."""

    def __init__(self, m: dict) -> None:
        self.m = m
        self.run_id = f"{m['workload']}-{m['seed']}-{os.getpid()}"
        self.spans: list[dict] = []
        self.eventlog = os.path.join(m["work"], "eventlog")
        self.out = os.path.join(m["traces"], self.run_id)

    def spark_conf(self) -> dict:
        os.makedirs(self.eventlog, exist_ok=True)
        # one plain JSON-lines file per application, named by its app id
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false"}

    def add(self, name: str, start: float, end: float,
            parent: str = "pass") -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id})

    @contextlib.contextmanager
    def span(self, spark, name: str):
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), parent="layers")
            sc.setJobGroup("perfbench", "benchmark")

    # -- kernels, no Spark -------------------------------------------------

    def _kernels(self, pdf: pd.DataFrame) -> dict:
        """CPU seconds of each numpy/Python kernel on 10k-row batches."""
        from sumi_agent_spark.functions.batch_detect import detect_all_batch
        from sumi_agent_spark.functions.oracle import (
            DEFAULT_KEEP_PREFECTURE, DEFAULT_NAME_INITIAL,
            apply_mask_config, apply_redaction)
        from sumi_agent_spark.functions.quality import quality_frame
        from sumi_agent_spark.operators import dedup

        a, b = dedup._hash_family(128)
        texts = pdf["text"].fillna("").tolist()
        roles = pdf["role"].reset_index(drop=True)
        busy = dict.fromkeys(("detect", "mask", "quality", "signature"), 0.0)
        n_det = n_keep = 0

        def timed(key, fn, *args):
            t0 = time.thread_time()
            out = fn(*args)
            busy[key] += time.thread_time() - t0
            return out

        def mask(batch, dets):
            n = 0
            for text, d in zip(batch, dets):
                d = apply_mask_config(d)
                apply_redaction(text, d, DEFAULT_KEEP_PREFECTURE,
                                DEFAULT_NAME_INITIAL)
                n += len(d)
            return n

        for lo in range(0, len(texts), KERNEL_BATCH):
            batch = texts[lo:lo + KERNEL_BATCH]
            dets = timed("detect", detect_all_batch, batch)
            n_det += timed("mask", mask, batch, dets)
            q = timed("quality", quality_frame, pd.Series(batch),
                      roles.iloc[lo:lo + KERNEL_BATCH].reset_index(drop=True))
            n_keep += int(q["keep"].sum())
            timed("signature", dedup.signature_matrix, batch, 5, 128, a, b)
        n, chars = len(texts), sum(map(len, texts))
        return {
            "batch_detect.busy_s": busy["detect"],
            "batch_detect.turns_per_core_s": n / busy["detect"],
            "batch_detect.chars_per_core_s": chars / busy["detect"],
            "batch_detect.detections": n_det,
            "oracle.mask_busy_s": busy["mask"],
            "quality.busy_s": busy["quality"],
            "quality.keep_share": n_keep / n,
            "dedup.signature_busy_s": busy["signature"],
        }

    # -- Spark layers ------------------------------------------------------

    def time_layers(self, spark) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sumi_agent_spark.operators.decontaminate import contaminated_keys
        from sumi_agent_spark.operators.dedup import (
            capped_bucket_metrics, minhash_near_duplicates_grouped)
        from sumi_agent_spark.operators.doc_quality import (
            gopher_quality_filter)
        from sumi_agent_spark.operators.repetition import (
            GOPHER_THRESHOLDS, repetition_filter)
        from sumi_agent_spark.operators.toxicity import toxicity_scores
        from sumi_agent_spark.plans.checkpoint import write_with_lineage
        from sumi_agent_spark.plans.pipeline import (
            deduplicate_turns, scrub_transcripts)
        from workloads import (
            GATED_GOPHER_RULES, TOXIC_ABOVE, norm_text, write_parquet)

        m, work = self.m, os.path.join(self.m["work"], "layers")
        os.makedirs(work)
        call = m["calls"][0]
        pdf = pq.read_table(call["input"]).to_pandas()
        n = len(pdf)
        out = self._kernels(pdf)
        df = spark.read.parquet(call["input"])

        def noop(frame):
            frame.write.format("noop").mode("overwrite").save()

        with self.span(spark, "udfs.scrub_stage_s"):
            noop(scrub_transcripts(df))
        scrubbed = scrub_transcripts(df).localCheckpoint(eager=True)
        ck = os.path.join(work, "checkpoint")
        with self.span(spark, "checkpoint.write_s"):
            write_with_lineage(scrubbed, ck, stage="perfbench")
        out["checkpoint.files"], out["checkpoint.bytes"] = _dir_size(ck)

        with self.span(spark, "dedup.exact_s"):
            noop(deduplicate_turns(df))
        # near-dedup sees exact-dedup survivors, as inside run_pipeline
        survivors = os.path.join(work, "exact_survivors.parquet")
        write_parquet(pdf[~pdf["text"].map(norm_text).duplicated()],
                      survivors)
        obs = Observation("perfbench_capping")
        with self.span(spark, "dedup.near_conv_s"):
            pairs = minhash_near_duplicates_grouped(
                spark.read.parquet(survivors), "conv_id", "text",
                threshold=0.8,
                observation=obs).persist()
            out["dedup.near_pairs"] = pairs.count()
            out["dedup.near_dropped"] = (pairs.select("id_b").distinct()
                                         .count())
        pairs.unpersist()
        capped = capped_bucket_metrics(obs)
        out["dedup.capped_buckets"] = (capped or {}).get(
            "n_capped_buckets", 0)
        out["dedup.drops_per_pair"] = (out["dedup.near_dropped"]
                                       / max(out["dedup.near_pairs"], 1))

        with self.span(spark, "repetition.busy_s"):
            out["repetition.dropped"] = n - repetition_filter(
                df, "text", ["conv_id", "turn_idx"],
                GOPHER_THRESHOLDS).count()
        with self.span(spark, "doc_quality.busy_s"):
            out["doc_quality.dropped"] = n - gopher_quality_filter(
                df, "text", GATED_GOPHER_RULES).count()
        with self.span(spark, "toxicity.busy_s"):
            out["toxicity.dropped"] = toxicity_scores(df).filter(
                F.col("toxicity") > TOXIC_ABOVE).count()
        with self.span(spark, "decontaminate.busy_s"):
            flagged = {(r["_ck"]["conv_id"], r["_ck"]["turn_idx"])
                       for r in contaminated_keys(
                           df.withColumn("_ck", F.struct("conv_id",
                                                         "turn_idx")),
                           "_ck", "text",
                           spark.read.parquet(call["eval"])).collect()}
        planted = {tuple(k) for k in m.get("planted", {}).get(
            "contaminated", [])}
        out["decontaminate.dropped"] = len(flagged)
        out["decontaminate.planted_recall"] = (
            len(planted & flagged) / len(planted) if planted else 1.0)

        out.update(self._index_layer(spark, pd.read_parquet(survivors), work))
        out.update((sp["name"], sp["end"] - sp["start"])
                   for sp in self.spans if sp["parent"] == "layers")
        return out

    def _index_layer(self, spark, pdf: pd.DataFrame, work: str) -> dict:
        """The persisted MinHash index, as a daily flow over the workload's
        own input: the first half of its conversations is day 1; day 2 is
        the second half plus four day-1 conversations re-exported with
        every third turn edited.  ``pdf`` holds exact-dedup survivors: like
        ``run_pipeline``'s index, this one holds deduplicated turns."""
        import random

        from pyspark.sql import functions as F

        from sumi_agent_spark.operators.minhash_index import (
            append_to_minhash_index, changed_preindexed_ids,
            incremental_drop_keys, minhash_near_duplicates_incremental,
            reindex_docs, write_minhash_index)
        from workloads import edit_one_token, write_parquet

        rng = random.Random(self.m["seed"])
        convs = sorted(pdf["conv_id"].unique())
        day1_convs = set(convs[:len(convs) // 2])
        day1 = pdf[pdf["conv_id"].isin(day1_convs)]
        reexp = day1[day1["conv_id"].isin(
            rng.sample(sorted(day1_convs), min(4, len(day1_convs))))].copy()
        edit = reexp["turn_idx"] % 3 == 2
        reexp.loc[edit, "text"] = [edit_one_token(t, rng)
                                   for t in reexp.loc[edit, "text"]]
        new = pdf[~pdf["conv_id"].isin(day1_convs)]
        paths = {}
        for name, frame in (("day1", day1), ("new", new),
                            ("day2", pd.concat([new, reexp]))):
            paths[name] = os.path.join(work, f"{name}.parquet")
            write_parquet(frame, paths[name])

        def keyed(name):
            return spark.read.parquet(paths[name]).withColumn(
                "_nk", F.struct("conv_id", "turn_idx"))

        index = os.path.join(work, "minhash_index")
        out = {}
        with self.span(spark, "minhash_index.write_s"):
            write_minhash_index(keyed("day1"), "_nk", "text", index,
                                threshold=0.8)
        with self.span(spark, "minhash_index.probe_s"):
            pairs = minhash_near_duplicates_incremental(
                keyed("day2"), "_nk", "text", index).persist()
            out["minhash_index.probe_pairs"] = pairs.count()
            out["minhash_index.drop_keys"] = (incremental_drop_keys(pairs)
                                              .count())
            changed = changed_preindexed_ids(
                keyed("day2"), "_nk", "text", index).persist()
            out["minhash_index.changed"] = changed.count()
        pairs.unpersist()
        with self.span(spark, "minhash_index.append_s"):
            append_to_minhash_index(keyed("new"), "_nk", "text", index)
        with self.span(spark, "minhash_index.reindex_s"):
            meta = reindex_docs(
                keyed("day2").join(changed.withColumnRenamed("doc_id", "_nk"),
                                   "_nk", "left_semi"),
                "_nk", "text", index)
        changed.unpersist()
        out["minhash_index.epochs"] = meta["epoch"]
        out["minhash_index.files"], out["minhash_index.bytes"] = _dir_size(
            index)
        return out

    # -- event log ---------------------------------------------------------

    def _stage_rows(self, app_id: str) -> tuple[list[dict], dict]:
        """One row per executed stage (job group, task count and times,
        executor run/CPU time, shuffle write and spill bytes), and the job
        group of every job."""
        path = os.path.join(self.eventlog, app_id)
        group_of_stage: dict[int, str] = {}
        job_group: dict[int, str] = {}
        tasks: dict[int, list] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = g
                    for sid in ev["Stage IDs"]:
                        group_of_stage.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append((
                        info["Launch Time"], info["Finish Time"],
                        tm.get("Executor Run Time", 0),
                        tm.get("Executor CPU Time", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)))
        rows = []
        for sid, ts in sorted(tasks.items()):
            run_ms = [t[2] for t in ts]
            rows.append({
                "stage": sid, "group": group_of_stage.get(sid, ""),
                "tasks": len(ts), "max_task_ms": max(run_ms),
                "median_task_ms": statistics.median(run_ms),
                "executor_run_s": sum(run_ms) / 1e3,
                "executor_cpu_s": sum(t[3] for t in ts) / 1e9,
                "shuffle_write_bytes": sum(t[4] for t in ts),
                "spill_bytes": sum(t[5] for t in ts),
                "intervals": [(t[0] / 1e3, t[1] / 1e3) for t in ts]})
        return rows, job_group

    def _pipeline_metrics(self, rows: list[dict], job_groups: dict,
                          calls: list[dict]) -> dict:
        groups = {f"pipeline.call{c['call']}" for c in calls}
        mine = [r for r in rows if r["group"] in groups]
        wall = sum(c["end"] - c["start"] for c in calls)
        busy = sum(_covered((max(a, c["start"]), min(b, c["end"]))
                            for r in mine for a, b in r["intervals"])
                   for c in calls)
        run_s = sum(r["executor_run_s"] for r in mine)
        skews = [r["max_task_ms"] / r["median_task_ms"] for r in mine
                 if r["tasks"] > 1 and r["median_task_ms"] > 0]
        return {
            "pipeline.jobs": sum(1 for g in job_groups.values()
                                 if g in groups),
            "pipeline.stages": len(mine),
            "pipeline.tasks": sum(r["tasks"] for r in mine),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(r["executor_cpu_s"] for r in mine),
            "spark.core_util": run_s / (wall * self.m["cores"]),
            "spark.job_gap_s": wall - busy,
            "spark.single_task_stages": sum(1 for r in mine
                                            if r["tasks"] == 1),
            "spark.max_task_skew": max(skews, default=1.0),
            "spark.shuffle_write_bytes": sum(r["shuffle_write_bytes"]
                                             for r in mine),
            "spark.spill_bytes": sum(r["spill_bytes"] for r in mine),
        }

    def report(self, app_id: str, passes, run_s: float, layers: dict) -> dict:
        rows, job_groups = self._stage_rows(app_id)
        values = dict(layers)
        values.update(self._pipeline_metrics(rows, job_groups, passes[0]))
        scrub_rows = [r for r in rows if r["group"] == "udfs.scrub_stage_s"]
        values["udfs.boundary_s"] = (
            sum(r["executor_run_s"] for r in scrub_rows)
            - values["batch_detect.busy_s"] - values["oracle.mask_busy_s"]
            - values["quality.busy_s"])
        inside = ["udfs.scrub_stage_s", "checkpoint.write_s"]
        if self.m["workload"] == "gated_slice":
            inside += ["dedup.exact_s", "dedup.near_conv_s",
                       "repetition.busy_s", "doc_quality.busy_s",
                       "toxicity.busy_s", "decontaminate.busy_s"]
        values["pipeline.self_s"] = run_s - sum(values[k] for k in inside)
        values["trace.run_s"] = run_s
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        os.makedirs(self.out, exist_ok=True)
        for name, obj in (("spans.json", self.spans),
                          ("stages.json", [{k: v for k, v in r.items()
                                            if k != "intervals"}
                                           for r in rows]),
                          ("report.json", metrics)):
            with open(os.path.join(self.out, name), "w") as f:
                json.dump(obj, f, indent=1)
        return metrics
