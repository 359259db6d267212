"""Per-layer measurement for the traced run, taken from outside the
program: cumulative plan prefixes forced one at a time, a Spark event log
read after the session stops, and Spark-driver-side timings of the scorer
kernels.

A prefix is the plan up to the end of one layer, built from the public
functions of the layer modules. Each prefix is forced from a cleared
cache into a noop sink under its own job group, so the self time of a
layer is its prefix time minus the time of the prefix before it.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

MB = 1024 * 1024


def force(spark, name: str, df, extra_aggs: dict | None = None) -> tuple[float, dict]:
    """Run ``df`` into the noop sink from a cleared cache under the job
    group ``prefix.<name>``; returns (seconds, {"rows": n, **extra_aggs}).

    The row count rides along as an Observation, so no second job
    recomputes the prefix to count it."""
    from pyspark.sql import Observation, functions as F

    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(f"prefix.{name}", name)
    obs = Observation(name)
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [col.alias(key) for key, col in (extra_aggs or {}).items()]
    t0 = time.perf_counter()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("harness", "harness")
    return seconds, dict(obs.get)


# --- model.scorer kernels, in the Spark driver process -------------------------

SCORER_FNS = ("encode_doc", "encode_batch", "label_ffn", "score_doc")


def scorer_timings(docs, spans_by_doc: dict, short_t: int, long_t: int,
                   per_band: int, seed: int) -> dict[str, float]:
    """Median ms per document of each ``DeterministicGLiREL`` kernel on
    a seeded sample: ``per_band`` docs from the whole corpus and
    ``per_band`` from each length band (T <= short_t, T >= long_t)."""
    import numpy as np

    from glirel_spark import config
    from glirel_spark.model.scorer import DeterministicGLiREL

    model = DeterministicGLiREL.get()
    labels = tuple(sorted(config.RELATION_LABELS))
    rng = np.random.default_rng(seed)
    toks = {str(d): t.split(" ") for d, t in zip(docs["doc_id"], docs["text"])}
    ids = np.asarray(sorted(toks, key=int))
    n_tok = np.asarray([len(toks[d]) for d in ids])
    bands = {
        "": ids,
        ".short": ids[n_tok <= short_t],
        ".long": ids[n_tok >= long_t],
    }
    out: dict[str, float] = {}
    for suffix, pool in bands.items():
        sample = rng.choice(pool, size=min(per_band, len(pool)), replace=False)
        ms: dict[str, list[float]] = defaultdict(list)
        for d in sample:
            tokens = toks[d]
            spans = model.valid_spans(
                np.asarray(spans_by_doc.get(d, []), dtype=np.int64).reshape(-1, 2),
                len(tokens),
            )
            t0 = time.perf_counter()
            word, rel = model.encode_doc(tokens, labels)
            t1 = time.perf_counter()
            reps = model.encode_batch([word])[0]
            t2 = time.perf_counter()
            lab = model.label_ffn(rel)
            t3 = time.perf_counter()
            model.score_doc(tokens, spans, labels, config.MAX_PAIR_DISTANCE,
                            tok_reps=reps, lab_reps=lab)
            t4 = time.perf_counter()
            for fn, dt in zip(SCORER_FNS, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                ms[fn].append(dt * 1e3)
        for fn in SCORER_FNS:
            out[f"scorer.{fn}_ms{suffix}"] = statistics.median(ms[fn])
    return out


# --- Spark event log -----------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") == "Exchange" else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: task counts and task-metric sums, plus the shuffle
    exchanges in the final (adaptive) plans of its SQL executions."""
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    stage_group: dict[int, str] = {}
    exec_groups: dict[int, set[str]] = defaultdict(set)
    plans: dict[int, dict] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    exec_groups[int(props["spark.sql.execution.id"])].add(group)
            elif kind in (_SQL_START, _SQL_AQE):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                a = acc[group]
                a["tasks"] += 1
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                a["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
    for exec_id, groups in exec_groups.items():
        if exec_id in plans:
            for group in groups:
                acc[group]["exchanges"] += _count_exchanges(plans[exec_id])
    return {g: dict(v) for g, v in acc.items()}
