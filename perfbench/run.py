"""Record-linkage benchmark: end-to-end metrics, output checks, per-layer ledger.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the repository root (the directory above this file), at
``local[4]`` with 16 shuffle partitions as ``bench.py`` does, one driver
process. All runtime files (input cache, Spark local dirs, event logs,
spans) go under ``.perfbench/`` in the repository root.

Workloads (closed loop, one client: each iteration starts after the last),
both with bench.py's pipeline config (threshold 0.85, banded scoring, CC
pre-contraction):

- ``flat_inmem``: a seeded 2,000-doc flat-text corpus with the per-doc
  shape of the sf0.1 ``documents`` fixture, through ``bench.py``'s
  in-memory path: ~42k candidate pairs, ~1,900 clusters, hot blocks that
  salting splits. The ~47 Spark jobs per iteration, 23 of them
  clustering's, cost more than the data: an iteration on 5,000 docs takes
  only ~1.3x as long.
- ``synth_resume``: a seeded labeled corpus from ``sources.synth`` (2,000
  entities' worth, ~2,100 docs) through the persisted
  ``plans.runs.run_pipeline`` into a fresh run dir, then a resume of the
  same run id. The only workload that writes and re-reads stage tables.

``--trace 0`` reports the end-to-end metrics: set-up (session start and the
cold iteration), then, after one untimed warm iteration, medians over the
warm iterations run until ``--seconds`` have passed (at least one): the
process tree's CPU-seconds per iteration, and the pipeline's pairwise F1.
The warm iterations' wall time and pairs/s are printed on a ``#`` line.
``--trace 1`` turns the event log on, runs a cold and an untraced warm
iteration under the warm-up job group, then one iteration with every layer
call in its own job group, and reports the per-layer ledger. Every
iteration's outputs are checked (on ``synth_resume`` the resume too, except
in the cold and the untimed iteration of ``--trace 0``); a failed check
fails the run. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

CPUS = 4
SHUFFLE_PARTITIONS = 16  # bench.py: max(2 * cpus, 16)
# get_spark's 16g default heap would let one run take most of a 15 GB host;
# a fixed heap keeps memory and GC behaviour the same from run to run
DRIVER_MEM = "3g"
HOST_BURN_ITERS = 500_000
TRACED_IT = 2  # in a traced run: iteration 0 is cold, 1 and 3 are untraced


@dataclass(frozen=True)
class Workload:
    corpus: str
    n_docs: int
    persisted: bool


WORKLOADS = {
    "flat_inmem": Workload("flat", 2000, persisted=False),
    "synth_resume": Workload("synth", 2000, persisted=True),
}


class CheckFailed(RuntimeError):
    """An output check failed; counts as a failed iteration."""


def _isolate_runtime() -> None:
    """Keep every file Spark, its JVM and the Python workers write inside
    the checkout, and put the repository on the workers' import path."""
    for sub in ("spark-local", "tmp", "warehouse", "eventlog", "runs", "inputs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # spark-submit's launcher JVM would write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _host_burn_s() -> float:
    """Serial pure-CPU calibration (sha256 chain, no Spark, no I/O): context
    for host CPU weather, not a gated metric."""
    h = b"x"
    t0 = time.perf_counter()
    for _ in range(HOST_BURN_ITERS):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


# -- the system under test -------------------------------------------------


def _session(trace_dir: str | None):
    from sneaky_data_matcher_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # keep the driver JVM's temp files and perf-data file out of /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:+PerfDisableSharedMem"
        ),
    }
    if trace_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4.1 compresses with zstd by default; keep it plain JSON
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + trace_dir,
            }
        )
    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def _pipeline_config():
    from sneaky_data_matcher_spark.plans.pipeline import PipelineConfig

    # bench.py's configuration
    return PipelineConfig(threshold=0.85, banded_scoring=True, cc_pre_contract=True)


def _warmup(spark, tracer, it: int) -> None:
    """bench.py's Python/Arrow worker warm-up job, outside the timed span."""
    from pyspark.sql import functions as F

    from sneaky_data_matcher_spark.functions.similarity import jaro_winkler

    with tracer.span("warmup", it, layer="warmup"):
        spark.range(0, 64, 1, 32).select(
            jaro_winkler(F.lit("warm"), F.lit("warmup")).alias("x")
        ).agg(F.count("x")).collect()


def _load(spark, path: str, tracer, it: int, traced: bool):
    from sneaky_data_matcher_spark.sources.io import load_docs

    with tracer.span("io", it, layer="io"):
        docs = load_docs(spark, path)
        if traced:
            # materialize the load inside its own span; untraced iterations
            # leave it lazy, as bench.py does
            docs = docs.persist()
            docs.count()
    return docs


class _UdfProfile:
    """Python UDF time via ``spark.sql.pyspark.udf.profiler=perf``, switched
    on only around the scoring action. Event-log executor CPU time does not
    include Python worker CPU, so this is the UDF boundary's own timer."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.spark.profile.clear()
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        return self

    def __exit__(self, *exc):
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def seconds(self) -> float:
        results = self.spark.profile.profiler_collector._perf_profile_results
        return sum(stats.total_tt for stats in results.values() if stats)


def inmem_iteration(spark, path, tracer, it, traced, udf=None, warmup=True) -> dict:
    """One bench.py iteration: each stage persisted and counted in turn."""
    from sneaky_data_matcher_spark.plans import pipeline as P

    cfg = _pipeline_config()
    if warmup:
        _warmup(spark, tracer, it)
    with tracer.span("pipeline", it, cpu=True):
        docs = _load(spark, path, tracer, it, traced)
        with tracer.span("canonicalize", it, layer="canonicalize"):
            canon = P.canonicalize_docs(docs).persist()
            n_docs = canon.count()
        with tracer.span("blocking", it, layer="blocking"):
            pairs = P.build_candidate_pairs(canon, cfg).persist()
            n_pairs = pairs.count()
        with tracer.span("scoring", it, layer="scoring"), (udf or nullcontext()):
            scored = P.score_candidates(pairs, canon, cfg).persist()
            scored.count()
        # CC runs its rounds eagerly inside assign_clusters: the group is set
        # before the call
        with tracer.span("clustering", it, layer="clustering"):
            clusters = P.assign_clusters(scored, canon, cfg)
            n_clusters = clusters.select("cluster_id").distinct().count()
    return {
        "docs": docs, "canon": canon, "pairs": pairs, "scored": scored,
        "clusters": clusters, "n_docs": n_docs, "n_pairs": n_pairs,
        "n_clusters": n_clusters,
    }


_RUN_STAGES = ("canon", "pairs", "scored", "clusters")


def persisted_iteration(
    spark, path, tracer, it, traced, udf=None, warmup=True, resume=True
) -> dict:
    """A fresh ``run_pipeline`` into a new run dir, then (with ``resume``) a
    resume of it, checked against the fresh run."""
    from sneaky_data_matcher_spark.plans.runs import run_pipeline

    cfg = _pipeline_config()
    base = os.path.join(WORK, "runs", f"{os.getpid()}-{it}")
    shutil.rmtree(base, ignore_errors=True)
    if warmup:
        _warmup(spark, tracer, it)
    with tracer.span("pipeline", it, cpu=True):
        docs = _load(spark, path, tracer, it, traced)
        with tracer.span("runs", it, layer="runs"):
            out = run_pipeline(spark, docs, base, "bench", cfg)
            n_clusters = out["clusters"].select("cluster_id").distinct().count()
    if resume:
        with tracer.span("resume", it, layer="io"):
            again = run_pipeline(spark, docs, base, "bench", cfg)
            n_resumed = again["clusters"].select("cluster_id").distinct().count()
    with tracer.span("check", it, layer="check"):
        stage_rows = [(r["stage"], r["rows"]) for r in out["run"].jobs().collect()]
        if resume:
            fresh = sorted(map(tuple, out["clusters"].collect()))
            resumed = sorted(map(tuple, again["clusters"].collect()))
    jobs = dict(stage_rows)
    n_stage_rows = len(stage_rows)
    if resume and (n_resumed != n_clusters or fresh != resumed):
        raise CheckFailed(f"iteration {it}: resumed clusters differ from the fresh run")
    if n_stage_rows != len(_RUN_STAGES) or set(jobs) != set(_RUN_STAGES):
        raise CheckFailed(
            f"iteration {it}: _jobs has {n_stage_rows} rows for stages "
            f"{sorted(jobs)}, expected one row per stage {_RUN_STAGES}"
        )
    if jobs["pairs"] != jobs["scored"] or jobs["canon"] != jobs["clusters"]:
        raise CheckFailed(f"iteration {it}: _jobs row counts disagree: {jobs}")
    run_mb = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(os.path.join(base, "bench"))
        for f in files
    ) / 1e6
    return {
        "docs": docs, "canon": out["canon"], "pairs": out["pairs"],
        "scored": out["scored"], "clusters": out["clusters"],
        "n_docs": jobs["canon"], "n_pairs": jobs["pairs"],
        "n_clusters": n_clusters, "run_mb": run_mb, "base": base,
    }


def _release(spark, res: dict) -> None:
    spark.catalog.clearCache()
    if "base" in res:
        shutil.rmtree(res["base"], ignore_errors=True)


# -- output checks ----------------------------------------------------------


def _union_find(doc_ids, edges) -> dict:
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}


def _partition(assign: dict) -> set:
    groups: dict = {}
    for d, c in assign.items():
        groups.setdefault(c, []).append(d)
    return {frozenset(g) for g in groups.values()}


def _pair_count(assign: dict) -> int:
    sizes: dict = {}
    for c in assign.values():
        sizes[c] = sizes.get(c, 0) + 1
    return sum(n * (n - 1) // 2 for n in sizes.values())


def pairwise_f1(clusters: dict, truth: dict) -> float:
    """Pairwise F1 of predicted clusters against the generator's entities,
    over every pair of docs (not a sample)."""
    joint = {d: (clusters[d], truth[d]) for d in clusters}
    tp = _pair_count(joint)
    pred, true = _pair_count(clusters), _pair_count(truth)
    if tp == 0:
        return 0.0
    p, r = tp / pred, tp / true
    return 2 * p * r / (p + r)


def check_clusters(res: dict, truth: dict) -> float:
    """Clusters must equal a driver-side union-find over the match edges and
    cover exactly the input docs; returns pairwise F1."""
    from sneaky_data_matcher_spark.operators.scoring import matches

    thr = _pipeline_config().threshold
    edges = [tuple(r) for r in matches(res["scored"], thr).select("doc_id_a", "doc_id_b").collect()]
    got = {r["doc_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    if set(got) != set(truth):
        raise CheckFailed("cluster assignment does not cover exactly the input docs")
    if _partition(got) != _partition(_union_find(list(got), edges)):
        raise CheckFailed("clusters differ from union-find over the match edges")
    return pairwise_f1(got, truth)


# -- per-layer census (traced run, outside the timed spans) -----------------


def census(spark, res: dict, truth: dict, tracer, it: int) -> dict:
    from pyspark.sql import functions as F

    from sneaky_data_matcher_spark.operators import blocking
    from sneaky_data_matcher_spark.operators.scoring import matches

    cfg = _pipeline_config()
    with tracer.span("census", it, layer="census"):
        keys = blocking.blocking_keys(
            res["canon"], prefix_tokens=cfg.prefix_tokens,
            prefix_chars=cfg.prefix_chars, sorted_tokens=cfg.sorted_tokens,
        )
        sizes = keys.groupBy("pass", "block_key").count()
        blk = sizes.agg(
            F.sum((F.col("count") > cfg.max_block_size).cast("int")).alias("hot"),
            F.max("count").alias("max"),
        ).first()
        kernel = res["scored"].where(F.col("jw").isNotNull()).count()
        n_match = matches(res["scored"], cfg.threshold).count()
        by_entity: dict = {}
        for d, e in truth.items():
            by_entity.setdefault(e, []).append(d)
        true_pairs = [
            (min(a, b), max(a, b))
            for g in by_entity.values()
            for i, a in enumerate(g)
            for b in g[i + 1:]
        ]
        found = 0
        if true_pairs:
            tp = spark.createDataFrame(true_pairs, "doc_id_a string, doc_id_b string")
            found = tp.join(res["pairs"], ["doc_id_a", "doc_id_b"], "left_semi").count()
    n_pairs = res["n_pairs"]
    return {
        "io.rows_in": res["n_docs"],
        "canonicalize.rows_out": res["n_docs"],
        "blocking.candidate_pairs": n_pairs,
        "blocking.hot_blocks": blk["hot"] or 0,
        "blocking.max_block": blk["max"] or 0,
        "blocking.pair_completeness": found / len(true_pairs) if true_pairs else 1.0,
        "scoring.kernel_pairs": kernel,
        "scoring.kernel_share": kernel / n_pairs if n_pairs else 0.0,
        "scoring.matches": n_match,
        "scoring.match_share": n_match / n_pairs if n_pairs else 0.0,
        "clustering.edges_in": n_match,
        "clustering.components": res["n_clusters"],
        "runs.write_mb": res.get("run_mb", 0.0),
    }


# -- runs -------------------------------------------------------------------


class Loop:
    """Counts attempted and failed iterations and enforces that every
    iteration reproduces the first one's counts."""

    def __init__(self, spark, wl: Workload, path: str, truth: dict):
        self.spark, self.wl, self.path, self.truth = spark, wl, path, truth
        self.attempted = self.failed = 0
        self.counts: tuple | None = None
        self.errors: list[str] = []

    def iterate(
        self, tracer, it: int, traced: bool = False, udf=None,
        warmup: bool = True, resume: bool = True,
    ) -> dict | None:
        """``warmup=False`` skips bench.py's worker warm-up job and
        ``resume=False`` the resume of a persisted run and its check."""
        self.attempted += 1
        try:
            if self.wl.persisted:
                res = persisted_iteration(
                    self.spark, self.path, tracer, it, traced, udf, warmup, resume
                )
            else:
                res = inmem_iteration(self.spark, self.path, tracer, it, traced, udf, warmup)
            counts = (res["n_docs"], res["n_pairs"], res["n_clusters"])
            if counts[0] != len(self.truth):
                raise CheckFailed(f"iteration {it}: {counts[0]} docs, input has {len(self.truth)}")
            if self.counts is None:
                self.counts = counts
            elif counts != self.counts:
                raise CheckFailed(
                    f"iteration {it}: (docs, pairs, clusters) = {counts}, first "
                    f"iteration gave {self.counts}"
                )
            return res
        except CheckFailed as e:
            self.failed += 1
            self.errors.append(str(e))
        except Exception:  # a failed iteration is counted, reported, and ends the run
            self.failed += 1
            self.errors.append(traceback.format_exc())
        return None


def measure(args, wl: Workload, path: str, truth: dict) -> dict:
    """Untraced: set-up (session start + first, cold iteration), one untimed
    warm iteration, then timed warm iterations until ``--seconds`` have
    passed (at least one)."""
    from bench import _tree_cpu_sec

    from ledger import Tracer

    tracer = Tracer(cpu_clock=_tree_cpu_sec)
    t0 = time.perf_counter()
    spark = _session(None)
    session_s = time.perf_counter() - t0
    try:
        loop = Loop(spark, wl, path, truth)
        # the resume is checked on the timed iterations; the cold one skips it
        res = loop.iterate(tracer, 0, resume=False)
        # session start + the cold iteration's warm-up job and pipeline
        # (its output checks are not set-up)
        setup_s = session_s + sum(
            tracer.duration(n, 0) for n in ("warmup", "pipeline")
        ) if res is not None else 0.0
        walls, cpus, resumes, f1 = [], [], [], None
        # the first warm iteration still shares the cores with the JIT
        # compiler (seconds of C2 CPU time) and is the least steady: it runs
        # untimed, and without the resume. The worker warm-up job runs only
        # before the cold iteration: the workers stay warm after it.
        if res is not None:
            _release(spark, res)
            res = loop.iterate(tracer, 1, warmup=False, resume=False)
        window = time.perf_counter()
        it = 1
        while res is not None and (it == 1 or time.perf_counter() - window < args.seconds):
            _release(spark, res)
            it += 1
            res = loop.iterate(tracer, it, warmup=False)
            if res is None:
                break
            cpus.append(tracer.cpu("pipeline", it))
            walls.append(tracer.duration("pipeline", it))
            if wl.persisted:
                resumes.append(tracer.duration("resume", it))
        if res is not None:
            try:
                f1 = check_clusters(res, truth)
            except CheckFailed as e:
                loop.failed += 1
                loop.errors.append(str(e))
            _release(spark, res)
    finally:
        spark.stop()
    return {
        "loop": loop,
        "setup_s": setup_s,
        "walls": walls,
        "cpus": cpus,
        "resumes": resumes,
        "f1": f1,
    }


def trace(args, wl: Workload, path: str, truth: dict) -> dict:
    """One session with the event log on: a cold iteration, then untraced,
    traced and untraced warm iterations. Untraced iterations run under the
    warm-up job group; the traced one puts each layer call in its own group.
    Tracing overhead = traced pipeline_s minus the mean of the untraced
    iterations on either side of it, which cancels the steady speed-up of
    consecutive warm iterations; all of them pay for the event log itself."""
    from ledger import LAYERS, LEDGER_KEYS, OTHER_GROUPS, Tracer, fold_event_log, reconcile

    log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = _session(log_dir)
    sc = spark.sparkContext
    plain, tracer = Tracer(), Tracer(sc)
    extra, tracker, udf_s, traced_s, untraced = {}, {}, 0.0, 0.0, []
    loop = Loop(spark, wl, path, truth)
    try:
        for it in range(4):
            if it == TRACED_IT:
                sc.setLocalProperty("spark.jobGroup.id", None)
                udf = _UdfProfile(spark)
                res = loop.iterate(tracer, it, traced=True, udf=udf)
            else:
                sc.setJobGroup("warmup", "cold and untraced iterations")
                res = loop.iterate(plain, it)
            if res is None:
                break
            if it == TRACED_IT:
                traced_s = tracer.duration("pipeline", it)
                udf_s = udf.seconds()
                extra = census(spark, res, truth, tracer, it)
                with tracer.span("check", it, layer="check"):
                    try:
                        check_clusters(res, truth)
                    except CheckFailed as e:
                        loop.failed += 1
                        loop.errors.append(str(e))
                if wl.persisted:
                    extra["io.resume_s"] = tracer.duration("resume", it)
            elif it:
                untraced.append(plain.duration("pipeline", it))
            _release(spark, res)
        tracker = {
            g: len(sc.statusTracker().getJobIdsForGroup(g))
            for g in (*LAYERS, *OTHER_GROUPS)
        }
    finally:
        spark.stop()
    ledger, totals = fold_event_log(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    problems = reconcile(ledger, totals, tracker)
    if problems:
        loop.failed += 1
        loop.errors.extend(problems)

    self_s = tracer.self_seconds()
    metrics = {}
    for layer in LAYERS:
        metrics[f"{layer}.s"] = (self_s.get(layer, 0.0), "s")
        row = ledger.get(layer, dict.fromkeys(LEDGER_KEYS, 0))
        for k in LEDGER_KEYS:
            metrics[f"{layer}.{k}"] = (row[k], _LEDGER_UNITS[k])
    for k, unit in _EXTRA_UNITS.items():
        metrics[k] = (extra.get(k, 0.0), unit)
    metrics["scoring.udf_s"] = (udf_s, "s")
    metrics["trace.pipeline_s"] = (traced_s, "s")
    metrics["trace.overhead_s"] = (traced_s - _mean(untraced), "s")
    metrics["trace.warmup_tasks"] = (ledger.get("warmup", {}).get("tasks", 0), "count")
    metrics["trace.log_tasks"] = (totals["tasks"], "count")
    return {"loop": loop, "metrics": metrics}


_LEDGER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
    "cpu_s": "s", "gc_s": "s", "deser_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
    "failed_tasks": "count",
}
_EXTRA_UNITS = {
    "io.rows_in": "count", "canonicalize.rows_out": "count",
    "blocking.candidate_pairs": "count", "blocking.hot_blocks": "count",
    "blocking.max_block": "count", "blocking.pair_completeness": "ratio",
    "scoring.kernel_pairs": "count", "scoring.kernel_share": "ratio",
    "scoring.matches": "count", "scoring.match_share": "ratio",
    "clustering.edges_in": "count", "clustering.components": "count",
    "runs.write_mb": "MB", "io.resume_s": "s",
}


def _stop_jvm() -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait for it;
    its Python daemon and workers stop with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sneaky_data_matcher_spark", "__init__.py")):
        print(f"perfbench: no sneaky_data_matcher_spark package under {ROOT}", file=sys.stderr)
        return 2
    _isolate_runtime()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import inputs

    wl = WORKLOADS[args.workload]
    burn_s = _host_burn_s()
    path, truth, gen_s = inputs.ensure_corpus(
        os.path.join(WORK, "inputs"), wl.corpus, wl.n_docs, args.seed
    )
    import pyspark  # noqa: F401  (import cost stays out of setup_s)

    try:
        r = (trace if args.trace else measure)(args, wl, path, truth)
    finally:
        _stop_jvm()
    loop = r["loop"]
    samples = {}  # metrics that are medians: how many values each is over
    if args.trace:
        metrics = r["metrics"]
        metrics["host.burn_s"] = (burn_s, "s")
        metrics["input.gen_s"] = (gen_s, "s")
    else:
        pairs = loop.counts[1] if loop.counts else 0
        pipeline_s = _median(r["walls"])
        # wall time is printed but not a result metric: on a shared host it
        # swings by a third in minute-long windows in which the process tree
        # mostly waits, while its CPU-seconds move by a tenth
        metrics = {
            "cpu_s": (_median(r["cpus"]), "s"),
            "setup_s": (r["setup_s"], "s"),
            "pairwise_f1": (r["f1"] or 0.0, "ratio"),
        }
        samples = {"cpu_s": len(r["cpus"])}
        print(
            f"# {args.workload} seed={args.seed}: medians over "
            f"{len(r['walls'])} timed warm iterations: pipeline_s "
            f"{pipeline_s:.4f} {[round(w, 3) for w in r['walls']]}, pairs_per_s "
            f"{pairs / pipeline_s if pipeline_s else 0.0:.1f}, "
            f"docs/pairs/clusters={loop.counts}, resume_s median="
            f"{_median(r['resumes']):.3f} over {len(r['resumes'])}, "
            f"host_burn_s={burn_s:.3f}, input_gen_s={gen_s:.3f}"
        )
    print(f"# error_rate {loop.failed}/{loop.attempted} iterations")
    for e in loop.errors:
        print(f"# FAILED: {e}", file=sys.stderr)
    for name, (v, unit) in metrics.items():
        print(f"{name:32s} {v:14.4f} {unit:6s} n={samples.get(name, 1)}")
    correct = loop.failed == 0 and loop.attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
