"""Documents->graph benchmark for spark-kgc (perfbench/README.md).

    python3 perfbench/run.py --workload extract_neural --seed 1 --seconds 10 --trace 0

With ``--trace 0`` it prints the end-to-end metrics of one workload,
with ``--trace 1`` the per-layer metrics. Progress and a summary go to
stderr; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

from corpus import LONG_T, ROOT, SHORT_T, load_tool

HERE = Path(__file__).resolve().parent
# jobs/run_pipeline.py defaults to 8 buckets. At 8 the cold job takes 53 s
# on 4,000 docs (4 cores) against 39 s at 2, which a run cannot afford.
N_BUCKETS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class PeakRss:
    """Peak of the summed resident set of this process and all of its
    descendants (the Spark JVM and its python workers), sampled from
    /proc on a background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_bytes(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we listed /proc
                continue
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo += children.get(pid, [])
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and python write inside ``work``,
    and let the python workers import glirel_spark from any cwd."""
    for d in ("tmp", "local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher's too: temp files in ``work``
    # and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def start_session(work: Path, event_log: bool):
    from glirel_spark.session import get_spark

    extra = {
        # a bounded heap keeps the JVM's resident set comparable between runs
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
    }
    if event_log:
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = str(work / "eventlog")
        # one plain JSON-lines file
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    return get_spark("perfbench", cores=len(os.sched_getaffinity(0)), extra=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --- workloads ------------------------------------------------------------------

class Workload:
    """One documents->graph job shape. ``job`` times the documents->graph
    part and returns (seconds, a loader of the output graph as pandas);
    the loader runs outside the timed interval."""

    # corpora of the warm-up jobs, in order: "warmup" (a few docs) or "full"
    warmup: tuple[str, ...] = ()
    # warm-up after a session restart in a warm JVM (traced run only)
    rewarm: tuple[str, ...] = ()
    single_shot = False

    def __init__(self, spark, corpus: Path, work: Path):
        self.spark, self.corpus, self.work = spark, corpus, work

    def job(self, i: int, corpus: Path):
        raise NotImplementedError

    def prefixes(self):
        raise NotImplementedError


class ExtractNeural(Workload):
    """plans.pipeline.triples_neural -> link -> graph, collected to the Spark
    driver; a warm closed loop in one long-lived session."""

    # The first job pays the JIT, the codegen and the python workers'
    # start at any corpus size, so it runs on a few docs; the next one
    # on the full corpus lets the JIT settle.
    warmup = ("warmup", "full")
    rewarm = ("warmup",)  # restarts the python workers

    def job(self, i, corpus):
        from glirel_spark import config
        from glirel_spark.operators import graph as graph_ops
        from glirel_spark.operators import linking
        from glirel_spark.plans import pipeline

        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        triples = pipeline.triples_neural(self.spark, str(corpus))
        out = graph_ops.materialize_graph(
            linking.link_triples(triples, config.ALIAS_DICT)
        ).toPandas()
        return time.perf_counter() - t0, lambda: out

    def prefixes(self):
        """(name, DataFrame builder) per cumulative prefix, in layer order."""
        from glirel_spark import config
        from glirel_spark.model import udf
        from glirel_spark.operators import graph as graph_ops
        from glirel_spark.operators import linking
        from glirel_spark.plans import pipeline

        spark, d = self.spark, str(self.corpus)

        def linked():
            return linking.link_triples(pipeline.triples_neural(spark, d), config.ALIAS_DICT)

        return [
            ("tokens", lambda: pipeline.docs_tokens(spark, d)),
            ("mentions", lambda: pipeline.mentions(spark, d)),
            ("udf", lambda: udf.score_pairs_neural(
                pipeline.docs_tokens(spark, d), pipeline.mentions(spark, d))),
            ("decoded", lambda: pipeline.triples_neural(spark, d)),
            ("linked", linked),
            ("graph", lambda: graph_ops.materialize_graph(linked())),
        ]


def load_run_pipeline():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "run_pipeline", ROOT / "jobs" / "run_pipeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class JobWrite(Workload):
    """The calls of the spark-submit job jobs/run_pipeline.py: resumable
    bucketed extraction with its extract_bucket, then materialize_graph and
    write_graph into a fresh directory. Like a submitted job it runs once
    per process, cold: docs_per_s includes the compile and JIT cost that
    every spark-submit pays, and there is no warm-up."""

    single_shot = True
    # the first job in a restarted session is about 25% slower
    rewarm = ("full",)

    def __init__(self, spark, corpus, work):
        super().__init__(spark, corpus, work)
        self.run_pipeline = load_run_pipeline()
        self.graph_write_s = 0.0  # materialize_graph + write_graph of the last job

    def out_dir(self, i: int) -> Path:
        return self.work / f"job{i}"

    def job(self, i, corpus):
        from glirel_spark.operators import graph as graph_ops
        from glirel_spark.plans.lineage import run_resumable
        from glirel_spark.sources import tables

        out = self.out_dir(i)
        shutil.rmtree(out, ignore_errors=True)
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        inter = tables.interleaved_documents(
            tables.TableIO(self.spark, str(corpus)).table("documents")
        )
        linked = run_resumable(
            self.spark, inter, self.run_pipeline.extract_bucket,
            out_path=f"{out}/linked", lineage_path=f"{out}/lineage",
            n_buckets=N_BUCKETS,
        )
        t1 = time.perf_counter()
        graph_ops.write_graph(graph_ops.materialize_graph(linked), f"{out}/graph")
        seconds = time.perf_counter() - t0
        self.graph_write_s = time.perf_counter() - t1
        return seconds, lambda: self.spark.read.parquet(f"{out}/graph").toPandas()

    def prefixes(self):
        """(name, DataFrame builder) per cumulative prefix, in layer order:
        the body of run_pipeline.extract_bucket over the whole corpus. The
        linked prefix is extract_bucket itself, so the ones before it must
        follow that function when it changes."""
        from pyspark.sql import functions as F

        from glirel_spark.operators import decode as decode_ops
        from glirel_spark.operators import fused, scoring
        from glirel_spark.operators import graph as graph_ops
        from glirel_spark.sources import tables

        spark, d = self.spark, str(self.corpus)

        def inter():
            return tables.interleaved_documents(tables.TableIO(spark, d).table("documents"))

        def toks():
            return tables.text_of(inter()).select("doc_id", F.split("text", " ").alias("tokens"))

        def rel():
            return fused.pairs_fused(toks()).filter("is_rel")

        def scored():
            return scoring.score_pairs_lexical(rel(), scoring.labels_df(spark))

        def linked():
            return self.run_pipeline.extract_bucket(inter())

        return [
            ("tokens", toks),
            ("mentions", lambda: fused.mentions_fused(toks())),
            ("rel_pairs", rel),
            ("scored", scored),
            ("decoded", lambda: decode_ops.decode(scored())),
            ("linked", linked),
            ("graph", lambda: graph_ops.materialize_graph(linked())),
        ]


WORKLOADS = {"extract_neural": ExtractNeural, "job_write": JobWrite}


# --- the closed loop --------------------------------------------------------------

class Loop:
    """Runs jobs of one workload one at a time and checks each output
    against the oracle's graph hash after its timed interval."""

    def __init__(self, wl: Workload, want_hash: str, norm_hash, traced: bool):
        self.wl, self.want, self.norm_hash, self.traced = wl, want_hash, norm_hash, traced
        self.n_jobs = 0

    def _group(self, name: str) -> None:
        if self.traced:
            self.wl.spark.sparkContext.setJobGroup(name, name)

    def warm_up(self, corpora) -> None:
        """Untimed, unchecked jobs; an error here ends the run."""
        for name in corpora:
            self._group("warmup")
            corpus = self.wl.corpus / name if name == "warmup" else self.wl.corpus
            dt, _ = self.wl.job(self.n_jobs, corpus)
            log(f"warm-up job {self.n_jobs} ({name}): {dt:.2f} s")
            self.n_jobs += 1

    def attempt(self) -> tuple[float | None, bool]:
        """One timed job; a job that raises counts as failed."""
        i = self.n_jobs
        self.n_jobs += 1
        try:
            self._group("e2e")
            seconds, load = self.wl.job(i, self.wl.corpus)
            self._group("check")
            out = load()
        except Exception:  # noqa: BLE001 - a failed job is a measured outcome
            traceback.print_exc()
            log(f"timed job {i}: raised")
            return None, False
        ok = self.norm_hash(out) == self.want
        log(f"timed job {i}: {seconds:.3f} s, {len(out)} edges, matches oracle: {ok}")
        return seconds, ok

    def timed(self, seconds: float) -> list[tuple[float | None, bool]]:
        """Timed jobs until ``seconds`` have passed; a single-shot workload
        runs exactly one."""
        t0 = time.perf_counter()
        results = [self.attempt()]
        while not self.wl.single_shot and time.perf_counter() - t0 < seconds:
            results.append(self.attempt())
        return results


def docs_per_s(results, n_docs: int) -> float:
    times = [dt for dt, _ in results if dt is not None]
    return n_docs / statistics.median(times) if times else 0.0


def prepare_corpus(args, work: Path) -> Path:
    corpus = work / "corpus"
    subprocess.run(
        [sys.executable, str(HERE / "corpus.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", str(corpus)],
        check=True,
    )
    return corpus


# --- untraced run: end-to-end metrics ----------------------------------------------

def untraced(args, work: Path, corpus: Path, expected: dict, norm_hash) -> dict:
    t_setup = time.perf_counter()
    isolate(work)
    with PeakRss() as rss:
        spark = start_session(work, event_log=False)
        wl = WORKLOADS[args.workload](spark, corpus, work)
        loop = Loop(wl, expected["graph_hash"], norm_hash, traced=False)
        loop.warm_up(wl.warmup)
        setup_s = time.perf_counter() - t_setup
        results = loop.timed(args.seconds)
        peak = rss.peak_bytes
    stop_session(spark)
    n_docs = expected["properties"]["docs"]
    failed = sum(not ok for _, ok in results)
    metrics = {
        "docs_per_s": (docs_per_s(results, n_docs), "docs/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    log(f"failed_frac = {failed / len(results):.4f} (failed {failed} of {len(results)} jobs)")
    return {"attempted": len(results), "failed": failed, "metrics": metrics}


# --- traced run: per-layer metrics ----------------------------------------------------

def traced(args, work: Path, corpus: Path, expected: dict, norm_hash) -> dict:
    """Per-layer metrics. The untraced reference for trace.overhead_frac
    runs first, in a session without the event log; the traced session
    then starts in the same JVM, so both sides time warm jobs."""
    import pandas as pd

    from layers import force, read_event_log, scorer_timings

    isolate(work)
    n_docs = expected["properties"]["docs"]
    spark = start_session(work, event_log=False)
    wl = WORKLOADS[args.workload](spark, corpus, work)
    loop = Loop(wl, expected["graph_hash"], norm_hash, traced=False)
    loop.warm_up(wl.warmup)
    if wl.single_shot:  # its timed job is cold: warm up, compare warm jobs
        loop.warm_up(("full",))
    # one job per side keeps the traced run within its time limit
    reference = loop.timed(0)
    spark.stop()

    spark = start_session(work, event_log=True)
    wl.spark = spark
    loop.traced = True
    loop.warm_up(wl.rewarm)
    results = loop.timed(0)
    last_job = loop.n_jobs - 1
    ref_dps = docs_per_s(reference, n_docs)
    overhead = 1.0 - docs_per_s(results, n_docs) / ref_dps if ref_dps else 0.0
    n_traced = len(results)
    results += reference

    from pyspark.sql import functions as F

    secs: dict[str, float] = {}
    obs: dict[str, dict] = {}
    alias_hits = {
        "subj_hits": F.sum((~F.col("subj").startswith("Q:surface:")).cast("long")),
        "obj_hits": F.sum((~F.col("obj").startswith("Q:surface:")).cast("long")),
    }
    built = dict(wl.prefixes())
    for name, build in built.items():
        secs[name], obs[name] = force(
            spark, name, build(), alias_hits if name == "linked" else None
        )
        log(f"prefix {name}: {secs[name]:.3f} s, {obs[name]['rows']} rows")

    m: dict[str, float] = {}
    rows = {k: v["rows"] for k, v in obs.items()}
    m["tables.self_s"] = secs["tokens"]
    m["tables.docs_out"] = rows["tokens"]
    m["fused.mentions_out"] = rows["mentions"]
    if isinstance(wl, ExtractNeural):
        m["fused.self_s"] = secs["mentions"] - secs["tokens"]
        m["udf.self_s"] = secs["udf"] - secs["mentions"]
        m["udf.rows_emitted"] = rows["udf"]
        m["udf.kept_ratio"] = rows["decoded"] / max(rows["udf"], 1)
        m["udf.decode_self_s"] = secs["decoded"] - secs["udf"]
        docs = pd.read_parquet(corpus / "documents.parquet")
        ments = built["mentions"]().select(
            F.col("doc_id"), F.col("start"), F.col("end")).toPandas()
        spans = {d: list(zip(g["start"], g["end"]))
                 for d, g in ments.sort_values(["doc_id", "start", "end"]).groupby("doc_id")}
        m |= scorer_timings(docs, spans, SHORT_T, LONG_T, per_band=24, seed=args.seed)
    else:
        m["fused.self_s"] = secs["rel_pairs"] - secs["tokens"]
        m["fused.rel_pairs_out"] = rows["rel_pairs"]
        m["scoring.self_s"] = secs["scored"] - secs["rel_pairs"]
        m["scoring.triples_out"] = rows["decoded"]
        m["scoring.kept_ratio"] = rows["decoded"] / max(rows["rel_pairs"], 1)
        m["decode.self_s"] = secs["decoded"] - secs["scored"]
        m["decode.rows_in"] = rows["scored"]
        m["graph.write_s"] = wl.graph_write_s
        e2e_dir = wl.out_dir(last_job)
        lineage = spark.read.parquet(str(e2e_dir / "lineage")).toPandas()
        m["lineage.bucket_s_p50"] = float(lineage["wall_sec"].median())
        m["lineage.bucket_s_max"] = float(lineage["wall_sec"].max())
        m["lineage.write_mb"] = sum(
            f.stat().st_size
            for sub in ("linked", "lineage")
            for f in (e2e_dir / sub).rglob("*") if f.is_file()
        ) / 2**20
    m["linking.self_s"] = secs["linked"] - secs["decoded"]
    m["linking.alias_hit_ratio"] = (
        (obs["linked"]["subj_hits"] + obs["linked"]["obj_hits"]) / max(2 * rows["linked"], 1)
    )
    m["graph.self_s"] = secs["graph"] - secs["linked"]
    m["graph.edges_out"] = rows["graph"]
    m["trace.overhead_frac"] = overhead
    stop_session(spark)

    groups = read_event_log(work / "eventlog")
    e2e = groups.get("e2e", {})
    for key in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_fetch_wait_s", "spill_mb", "exchanges"):
        m[f"spark.{key}"] = e2e.get(key, 0.0) / n_traced
    if not isinstance(wl, ExtractNeural):
        sw = {g: groups.get(f"prefix.{g}", {}).get("shuffle_write_mb", 0.0)
              for g in ("scored", "decoded")}
        m["decode.shuffle_write_mb"] = sw["decoded"] - sw["scored"]

    units = per_layer_units()
    metrics = {name: (float(m.get(name, 0.0)), unit) for name, unit in units.items()}
    failed = sum(not ok for _, ok in results)
    return {"attempted": len(results), "failed": failed, "metrics": metrics}


def per_layer_units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import glirel_spark  # noqa: F401 - fail before any work outside a checkout

    norm_hash = load_tool("check_oracle").norm_hash
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        corpus = prepare_corpus(args, work)
        expected = json.loads((corpus / "expected.json").read_text())
        log(f"{args.workload} seed={args.seed} corpus: {json.dumps(expected['properties'])}")
        out = (traced if args.trace else untraced)(args, work, corpus, expected, norm_hash)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in out["metrics"].items():
        log(f"{name} = {value:.6g} {unit}")
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
