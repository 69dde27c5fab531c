"""Layered benchmark for the cutwed_spark entity-resolution engine.

Run from the repository root:

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Workloads (inputs generated in-process from ``--seed`` by
``cutwed_spark.sources.synth.synth_corpus``; Spark runs ``local[nproc]``
in this one process):

* ``er_batch`` - the full ``plans.pipeline.run_pipeline``: ``--seconds
  / 10`` (at least one) timed runs in a fresh session, the first of them
  cold, then one rescore pass (``score_candidates`` +
  ``calibrate_threshold``) over the last run's fixed candidate set.
* ``stream_ingest`` - ``streaming.ingest.run_incremental`` over seeded
  parquet drops, one drop per microbatch (closed loop, availableNow):
  a warm-up microbatch, ``--seconds / 10`` (at least 2) timed ones,
  then ``finalize``.

Timed operations are reported by the CPU seconds of the whole process
tree (this process, the JVM, its Python workers); their walls, which on
a shared host rise with the CPU time the hypervisor takes away, are in
the traced run's per-layer metrics and the environment record.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans around each layer's public calls and prints
the per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. An environment record
and the span file go to ``.perfbench_out/``.
"""

from __future__ import annotations

import os
import sys

# One BLAS thread in this process, as the engine's Python workers use
# (session.get_spark sets the same); must precede the numpy import.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import argparse
import json
import shutil
import statistics
import subprocess
import time
import traceback
import uuid
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, probe, stats  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
SETUP_REPS = 3  # setup_s is the median of this many set-ups per run
# bench.py's corpus shape, sized so a run takes under a minute on a
# 4-core box. At this size a pipeline run is ~70 Spark jobs whose
# per-job latency, not data volume, sets the wall (250 and 1000 base
# conversations run within 10% of each other); the smaller corpus keeps
# the connected-components round count, which varies by seed, low.
BATCH_CORPUS = dict(
    n_conversations=300, turn_p=0.05, max_turns=64, convs_per_topic=5, dup_fraction=0.35
)
# Timed operations per run: --seconds divided by an operation's nominal
# wall on a 4-core box, at least one pipeline run (the cold one) or two
# microbatches after the warm-up. A count fixed before the run rather
# than a deadline, so every run times the same positions on the JVM's
# JIT warm-up curve (walls keep falling for ~10 pipeline runs) however
# busy the host is.
NOMINAL_OP_S = 10.0
MIN_TIMED = {"er_batch": 1, "stream_ingest": 2}
# One drop per microbatch; the first is the warm-up. The traced run
# takes 4 timed batches so flatness has disjoint early and late windows
# of 2.
STREAM_DROP_CONVS = 200
STREAM_WARMUP = 1  # first microbatch pays first-use costs; reported as cold_s
STREAM_TRACED_TIMED = 4
TRACED_WARM_RUNS = 2  # untraced warm pipeline runs before the traced one
# |untraced wall - sum of traced stage walls| allowed, as a share of the
# untraced wall (two separate runs on a shared box differ by ~10%).
RECONCILE_TOLERANCE = 0.25
BOUNDARY_MAX_BATCHES = 32
DRIVER_MEMORY = "2g"
WORKLOADS = ("er_batch", "stream_ingest")

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "f1": "ratio",
    "peak_rss_mb": "MB",
}
STAGES = ("assemble", "blocking", "score", "threshold", "cluster", "evaluate")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "assemble.wall_s": "s",
    "assemble.cpu_s": "s",
    "assemble.jvm_cpu_s": "s",
    "assemble.shuffle_write_mb": "MB",
    "assemble.spill_mb": "MB",
    "assemble.turns_in": "count",
    "assemble.turns_truncated": "count",
    "blocking.wall_s": "s",
    "blocking.cpu_s": "s",
    "blocking.shuffle_write_mb": "MB",
    "blocking.block_keys": "count",
    "blocking.dropped_blocks": "count",
    "blocking.candidate_pairs": "count",
    "blocking.pair_yield": "ratio",
    "blocking.recall": "ratio",
    "score.wall_s": "s",
    "score.cpu_s": "s",
    "score.jvm_cpu_s": "s",
    "score.python_cpu_s": "s",
    "score.shuffle_write_mb": "MB",
    "score.pairs": "count",
    "boundary.batches": "count",
    "boundary.rows_per_batch": "count",
    "boundary.dedup_ratio": "ratio",
    "boundary.ms_per_kpair": "ms/kpair",
    "kernel.pairs_per_cpu_s": "pairs/s",
    "kernel.mcells_per_cpu_s": "Mcells/s",
    "rescore.pairs_per_s": "pairs/s",
    "threshold.wall_s": "s",
    "threshold.match_edges": "count",
    "cluster.wall_s": "s",
    "cluster.cpu_s": "s",
    "cluster.shuffle_write_mb": "MB",
    "cluster.cc_rounds": "count",
    "cluster.edges_in": "count",
    "cluster.clusters_out": "count",
    "pipeline.cold_s": "s",
    "pipeline.warm_s": "s",
    "pipeline.unattributed_s": "s",
    "trace.overhead_s": "s",
    "stream.cold_s": "s",
    "stream.microbatch_s": "s",
    "stream.batch_cpu_s": "s",
    "stream.new_pairs_per_batch": "count",
    "stream.state_convs": "count",
    "stream.state_mb_per_batch": "MB",
    "stream.flatness": "ratio",
    "stream.finalize_s": "s",
}


class Run:
    """Counters, metrics and records of one benchmark run."""

    def __init__(self, args):
        self.args = args
        self.run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
        self.work = os.path.join(ROOT, ".perfbench_work", self.run_id)
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.tree = probe.ProcessTree()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict = {}
        self.env: dict = {}
        self.tracer: probe.Tracer | None = None
        self.t0 = time.monotonic()
        self.env["timeline_s"] = {}

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.env["timeline_s"][phase] = time.monotonic() - self.t0

    def op(self, errors: list[str]) -> None:
        """Count one operation; it failed if any output check failed."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)
            for e in errors:
                print(f"perfbench: check failed: {e}", file=sys.stderr)

    def fail(self, n: int, why: str) -> None:
        self.attempted += n
        self.failed += n
        self.errors.append(why)
        print(f"perfbench: {why}", file=sys.stderr)


# --------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------


@contextmanager
def _no_shared_memory_scratch():
    """get_spark creates a scratch directory under /dev/shm when it can;
    the benchmark keeps every file it writes inside its checkout (it sets
    spark.local.dir itself), so the probe is told /dev/shm is read-only."""
    real = os.access

    def access(path, mode, *a, **kw):
        if str(path).startswith("/dev/shm"):
            return False
        return real(path, mode, *a, **kw)

    os.access = access
    try:
        yield
    finally:
        os.access = real


def start_session(run: Run):
    from cutwed_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.local.dir": os.path.join(run.work, "local"),
        "spark.ui.showConsoleProgress": "false",
        # The heap is committed and touched at its fixed size up front,
        # so peak_rss_mb moves with off-heap, Python-worker and driver
        # memory rather than with when G1 decides to grow the heap.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        # keep every microbatch's progress record (default keeps 100)
        "spark.sql.streaming.numRecentProgressUpdates": str(
            max(100, 2 * (STREAM_WARMUP + max(STREAM_TRACED_TIMED, n_timed(run.args))))
        ),
    }
    if run.args.trace:
        log_dir = os.path.join(run.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(probe.EVENT_LOG_CONF, **{"spark.eventLog.dir": log_dir})
    with _no_shared_memory_scratch():
        spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the driver JVM it launched, and wait
    for the JVM (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _warm(it):
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    from cutwed_spark.twed import core  # noqa: F401

    yield from it


def set_up(run: Run, load):
    """SETUP_REPS times: start a session (the first launches the JVM;
    later ones restart the SparkContext in it), load the inputs with
    ``load(spark)``, and warm every Python worker. Returns the last
    session and inputs; records setup_s and session.start_s medians."""
    spark = None
    walls, starts = [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.monotonic()
        spark = start_session(run)
        starts.append(time.monotonic() - t0)
        inputs = load(spark)
        spark.range(NPROC * 64).repartition(NPROC).mapInArrow(_warm, "id long").count()
        walls.append(time.monotonic() - t0)
        run.tree.snapshot()
    run.mark("setup")
    run.metrics["setup_s"] = statistics.median(walls)
    run.metrics["session.start_s"] = statistics.median(starts)
    run.env["setup_walls_s"] = walls
    return spark, inputs


def n_timed(args) -> int:
    """Timed operations for an untraced run of ``--seconds``."""
    return max(MIN_TIMED[args.workload], int(args.seconds // NOMINAL_OP_S))


def checkpointed(spark, pdf):
    """Pandas frame -> Spark frame held by an eager local checkpoint, so
    inputs stay resident without entering CacheManager (which the
    between-repetition guard requires to be empty)."""
    return spark.createDataFrame(pdf).localCheckpoint()


# --------------------------------------------------------------------
# er_batch
# --------------------------------------------------------------------


def er_batch(run: Run):
    from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline
    from cutwed_spark.sources.synth import synth_corpus

    tr, lab = synth_corpus(seed=run.args.seed, **BATCH_CORPUS)
    run.mark("inputs")
    run.env["corpus"] = dict(BATCH_CORPUS, seed=run.args.seed)
    run.env["conversations"] = int(tr["conv_id"].nunique())
    run.env["turns"] = len(tr)
    run.env["labeled_pairs"] = len(lab)
    cfg = PipelineConfig()
    spark, (tdf, ldf) = set_up(run, lambda s: (checkpointed(s, tr), checkpointed(s, lab)))

    # The untraced run times a fresh driver's first runs, the cold one
    # included: the JIT's compile work is conserved over the sequence
    # while its position in it varies, so the first warm run alone
    # spreads more than the cold run (11-14 % against ~7 % of the median
    # over ten seeds on a 4-core box). The traced run makes warm
    # runs until the JIT curve has flattened (the second warm run is
    # within a few % of the next, the first is not) and decomposes the
    # next one.
    n_runs = 1 + TRACED_WARM_RUNS if run.args.trace else n_timed(run.args)
    walls, cpus = [], []
    steal0 = probe.steal_s()
    while len(walls) < n_runs:
        c0 = run.tree.snapshot()["total"]
        t0 = time.monotonic()
        try:
            res = run_pipeline(spark, tdf, cfg, labeled=ldf)
        except Exception:
            traceback.print_exc()
            run.fail(n_runs - len(walls), "run_pipeline raised")
            break
        walls.append(time.monotonic() - t0)
        cpus.append(run.tree.snapshot()["total"] - c0)
        errors = checks.check_f1(res.evaluation["f1"])
        last = len(walls) == n_runs
        if last:
            run.env["steal_s_timed"] = probe.steal_s() - steal0
            run.metrics["f1"] = res.evaluation["f1"]
            run.env["candidate_pairs"] = res.metrics["n_candidate_pairs"]
            run.env["match_edges"] = res.metrics["n_match_edges"]
            run.env["pipeline_stages_s"] = res.metrics["stages"]
            run.env["cc_rounds"] = res.metrics["cc_iterations"]
            errors += checks.check_clusters(res.edges, res.clusters)
            errors += checks.check_twed_sample(res.scored, res.series, cfg, run.args.seed)
            errors += rescore(run, res, ldf, cfg)
        res.unpersist()
        errors += checks.check_nothing_cached(spark)
        run.op(errors)
        run.mark(f"pipeline_{len(walls)}")

    if walls:
        run.metrics["pipeline.cold_s"] = walls[0]
    if len(walls) > 1:
        run.metrics["pipeline.warm_s"] = statistics.median(walls[1:])
    if len(walls) == n_runs:
        run.metrics["cpu_s"] = statistics.fmean(cpus)
        run.env["convs_per_cpu_s"] = run.env["conversations"] / run.metrics["cpu_s"]
    run.env["pipeline_walls_s"] = walls
    run.env["pipeline_cpu_s"] = cpus
    if run.args.trace and len(walls) == n_runs:
        traced_er_batch(run, spark, tr, tdf, ldf, cfg, untraced_wall=walls[-1])
    run.tree.snapshot()
    return spark


def rescore(run: Run, res, ldf, cfg) -> list[str]:
    """The TWED-tuning loop's unit of work over the run's fixed candidate
    set: score_candidates + calibrate_threshold at the pipeline's own
    (nu, lamb), whose scores must reproduce the pipeline's."""
    from cutwed_spark.operators.scoring import score_candidates
    from cutwed_spark.plans.pipeline import calibrate_threshold

    t0 = time.monotonic()
    scored = score_candidates(
        res.candidate_pairs, res.series, dim=cfg.dim, nu=cfg.nu, lamb=cfg.lamb,
        degree=cfg.degree, num_partitions=cfg.num_partitions, salt=cfg.salt,
        time_scale=cfg.time_scale, transfer_dtype=cfg.transfer_dtype,
    ).persist()
    n = scored.count()
    calibrate_threshold(scored, ldf, cfg.score_col)
    run.metrics["rescore.pairs_per_s"] = n / (time.monotonic() - t0)
    errors = checks.check_same_scores(res.scored, scored)
    scored.unpersist()
    return errors


def traced_er_batch(run: Run, spark, tr, tdf, ldf, cfg, untraced_wall: float) -> None:
    """run_pipeline's stage calls, in its order, each in a span; then the
    Arrow boundary and kernel on batches pulled from attach_series."""
    from pyspark.sql import functions as F

    from cutwed_spark.cache import cache_scope
    from cutwed_spark.operators.assemble import assemble_with_signatures, assembly_stats
    from cutwed_spark.operators.blocking import build_candidate_pairs_from_state
    from cutwed_spark.operators.clustering import assign_clusters
    from cutwed_spark.operators.scoring import score_candidates
    from cutwed_spark.plans.pipeline import calibrate_threshold, evaluate_pairs

    tracer = run.tracer = probe.Tracer(run.tree, run.run_id, spark)
    n_part = cfg.num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    info: dict = {}
    with tracer.span("pipeline"):
        transcripts = tdf.repartition(n_part, "conv_id")
        with tracer.span("assemble"):
            series = assemble_with_signatures(
                transcripts, cfg.n_buckets, cfg.max_turns, bucket_scale=cfg.bucket_scale,
                role_scale=cfg.role_scale, num_hashes=cfg.num_hashes, shingle_k=cfg.shingle_k,
            ).persist()
            info["assembly"] = assembly_stats(series).collect()[0].asDict()
        with tracer.span("blocking"), cache_scope():
            pairs, block_stats = build_candidate_pairs_from_state(
                series, num_hashes=cfg.num_hashes, band_size=cfg.band_size,
                max_block=cfg.max_block, length_ratio_max=cfg.length_ratio_max,
            )
            info["blocking"] = block_stats.collect()[0].asDict()
            pairs = pairs.persist()
            info["pairs"] = pairs.count()
        with tracer.span("score"):
            scored = score_candidates(
                pairs, series, dim=cfg.dim, nu=cfg.nu, lamb=cfg.lamb, degree=cfg.degree,
                num_partitions=cfg.num_partitions, salt=cfg.salt,
                time_scale=cfg.time_scale, transfer_dtype=cfg.transfer_dtype,
            ).persist()
            info["scored"] = scored.count()
        with tracer.span("threshold"):
            thr, _ = calibrate_threshold(scored, ldf, cfg.score_col)
            edges = scored.where(F.col(cfg.score_col) <= F.lit(thr))
            info["edges"] = edges.count()
        with tracer.span("cluster"):
            clusters, info["cc_rounds"] = assign_clusters(series, edges)
            clusters = clusters.persist()
            info["clusters"] = clusters.select("cluster_id").distinct().count()
        with tracer.span("evaluate"):
            evaluate_pairs(edges, ldf)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    positives = ldf.where("is_match")
    n_pos = positives.count()
    surfaced = positives.join(pairs, ["conv_id_a", "conv_id_b"], "left_semi").count()
    with tracer.span("boundary"):
        boundary = boundary_probe(spark, series, pairs, cfg)
    for df in (series, pairs, scored, clusters):
        df.unpersist()

    m = run.metrics
    stage_walls = {s: tracer.by_name(s)["end"] - tracer.by_name(s)["start"] for s in STAGES}
    traced_wall = tracer.by_name("pipeline")["end"] - tracer.by_name("pipeline")["start"]
    rec = stats.reconcile(untraced_wall, list(stage_walls.values()), RECONCILE_TOLERANCE)
    run.op([] if rec["ok"] else [
        f"traced stage walls leave {rec['unattributed_s']:.2f} s of the "
        f"{untraced_wall:.2f} s untraced wall unattributed (tolerance "
        f"{RECONCILE_TOLERANCE:.0%})"
    ])
    m["pipeline.unattributed_s"] = rec["unattributed_s"]
    m["trace.overhead_s"] = traced_wall - untraced_wall
    m["assemble.turns_in"] = len(tr)
    m["assemble.turns_truncated"] = info["assembly"]["n_turns_truncated"] or 0
    m["blocking.block_keys"] = info["blocking"]["n_blocks"]
    m["blocking.dropped_blocks"] = info["blocking"]["n_dropped_blocks"] or 0
    m["blocking.candidate_pairs"] = info["pairs"]
    m["blocking.pair_yield"] = info["edges"] / max(info["pairs"], 1)
    m["blocking.recall"] = surfaced / max(n_pos, 1)
    m["score.pairs"] = info["scored"]
    m["threshold.match_edges"] = info["edges"]
    m["cluster.cc_rounds"] = info["cc_rounds"]
    m["cluster.edges_in"] = info["edges"]
    m["cluster.clusters_out"] = info["clusters"]
    m.update(boundary)
    run.env["traced_stage_walls_s"] = stage_walls
    self_s = stats.self_times(tracer.spans)
    run.env["span_self_s"] = {sp["name"]: self_s[sp["id"]] for sp in tracer.spans}


def _unique_stack(ids, values, times, dim):
    """One pair side -> (padded unique series V, T, lengths L, per-pair
    codes): the deduplicated stacks twed.core.twed_pairs takes. Built
    here from the Arrow columns, independently of the score function's
    own packing, so the kernel can be timed alone on the same inputs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    _, first, codes = np.unique(
        np.asarray(ids.to_pylist(), dtype=object), return_index=True, return_inverse=True
    )
    take = pa.array(first)
    times_u = times.take(take)
    lens = pc.list_value_length(times_u).to_numpy().astype(np.int64)
    n_max = int(lens.max())
    flat_v = np.asarray(values.take(take).flatten(), dtype=np.float64).reshape(-1, dim)
    flat_t = np.asarray(times_u.flatten(), dtype=np.float64)
    rows = np.repeat(np.arange(len(lens)), lens)
    cols = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
    V = np.zeros((len(lens), n_max, dim))
    T = np.zeros((len(lens), n_max))
    V[rows, cols] = flat_v
    T[rows, cols] = flat_t
    return V, T, lens, codes.astype(np.int64)


def boundary_probe(spark, series, pairs, cfg) -> dict:
    """Time scoring.make_score_fn and, separately, twed.core.twed_pairs
    on the Arrow batches the score stage feeds its UDF (attach_series
    output, sorted within partitions by DP extent, at the session's
    Arrow batch size), in this process."""
    from pyspark.sql import functions as F

    from cutwed_spark.operators.scoring import attach_series, make_score_fn
    from cutwed_spark.twed.core import twed_pairs

    joined = attach_series(pairs, series, cfg.time_scale, cfg.transfer_dtype)
    table = joined.sortWithinPartitions(F.greatest(F.size("ta"), F.size("tb"))).toArrow()
    rows_per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = table.to_batches(max_chunksize=rows_per_batch)[:BOUNDARY_MAX_BATCHES]
    fn = make_score_fn(cfg.dim, cfg.nu, cfg.lamb, cfg.degree)
    fn_cpu = kernel_cpu = 0.0
    rows = uniq = cells = 0
    for b in batches:
        c0 = time.process_time()
        for _ in fn(iter([b])):
            pass
        fn_cpu += time.process_time() - c0
        Va, Ta, La, ia = _unique_stack(b.column("conv_id_a"), b.column("va"), b.column("ta"), cfg.dim)
        Vb, Tb, Lb, ib = _unique_stack(b.column("conv_id_b"), b.column("vb"), b.column("tb"), cfg.dim)
        c0 = time.process_time()
        twed_pairs(Va, Ta, La, ia, Vb, Tb, Lb, ib, cfg.nu, cfg.lamb, cfg.degree)
        kernel_cpu += time.process_time() - c0
        rows += b.num_rows
        uniq += len(La) + len(Lb)
        cells += int((La[ia] * Lb[ib]).sum())
    return {
        "boundary.batches": len(batches),
        "boundary.rows_per_batch": rows / max(len(batches), 1),
        "boundary.dedup_ratio": uniq / max(2 * rows, 1),
        "boundary.ms_per_kpair": 1e3 * (fn_cpu - kernel_cpu) / max(rows / 1e3, 1e-9),
        "kernel.pairs_per_cpu_s": rows / max(kernel_cpu, 1e-9),
        "kernel.mcells_per_cpu_s": cells / 1e6 / max(kernel_cpu, 1e-9),
    }


# --------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------


def stream_ingest(run: Run):
    import pandas as pd

    from cutwed_spark.plans.pipeline import PipelineConfig, evaluate_pairs
    from cutwed_spark.sources.synth import synth_corpus
    from cutwed_spark.streaming import ingest
    from cutwed_spark.streaming.ingest import finalize, run_incremental

    n_drops = STREAM_WARMUP + (STREAM_TRACED_TIMED if run.args.trace else n_timed(run.args))
    in_dir = os.path.join(run.work, "drops")
    er_dir = os.path.join(run.work, "er")
    os.makedirs(in_dir)
    labeled, convs, turns = [], [], 0
    t_base = time.time() - 3600
    for i in range(n_drops):
        seed = (run.args.seed * 1009 + i) % 2**32
        tr, lab = synth_corpus(
            seed=seed, **dict(BATCH_CORPUS, n_conversations=STREAM_DROP_CONVS)
        )
        prefix = f"s{i:02d}"  # disjoint conv_id space per drop
        tr = tr.assign(conv_id=prefix + tr["conv_id"], ts=tr["ts"].astype("datetime64[us]"))
        lab = lab.assign(conv_id_a=prefix + lab["conv_id_a"], conv_id_b=prefix + lab["conv_id_b"])
        path = os.path.join(in_dir, f"drop_{i:02d}.parquet")
        tr.to_parquet(path, index=False)
        # the file source takes the oldest file first: pin drop order
        os.utime(path, (t_base + 10 * i, t_base + 10 * i))
        labeled.append(lab)
        convs.append(int(tr["conv_id"].nunique()))
        turns += len(tr)
    lab_all = pd.concat(labeled, ignore_index=True)
    run.mark("inputs")
    run.env["corpus"] = dict(
        BATCH_CORPUS, n_conversations=STREAM_DROP_CONVS, drops=n_drops, seed=run.args.seed
    )
    run.env["conversations"] = sum(convs)
    run.env["turns"] = turns
    run.env["labeled_pairs"] = len(lab_all)
    cfg = PipelineConfig()
    spark, ldf = set_up(run, lambda s: checkpointed(s, lab_all))

    tracer = run.tracer = probe.Tracer(run.tree, run.run_id) if run.args.trace else None
    span = tracer.span if tracer else (lambda _name: nullcontext())
    steal0 = probe.steal_s()
    try:
        with span("stream"), probe.timed_calls(ingest, "_incremental_batch", run.tree) as batches:
            q = run_incremental(spark, in_dir, er_dir, cfg, max_files_per_trigger=1)
    except Exception:
        traceback.print_exc()
        run.fail(n_drops, "run_incremental raised")
        return spark
    run.mark("stream")
    run.env["steal_s_stream"] = probe.steal_s() - steal0
    run.env["microbatch_calls"] = batches
    run.tree.snapshot()
    prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    walls = [p["durationMs"]["triggerExecution"] / 1e3 for p in prog]
    run.env["microbatch_walls_s"] = walls
    run.env["microbatch_duration_ms"] = [p["durationMs"] for p in prog]
    for _ in range(len(prog)):
        run.op([])
    if len(prog) != n_drops:
        run.fail(n_drops - len(prog), f"stream ran {len(prog)} of {n_drops} microbatches")
    try:
        if len(batches) != len(prog):
            raise ValueError(f"{len(batches)} foreachBatch calls for {len(prog)} microbatches")
        _, timed = stats.split_warmup(walls, STREAM_WARMUP, n_drops - STREAM_WARMUP)
        _, timed_cpu = stats.split_warmup(
            [b["cpu_s"] for b in batches], STREAM_WARMUP, n_drops - STREAM_WARMUP
        )
    except ValueError as e:
        run.fail(1, f"microbatch latency refused: {e}")
        return spark

    scored = spark.read.parquet(os.path.join(er_dir, "scored"))
    state = spark.read.parquet(os.path.join(er_dir, "state"))
    run.env["candidate_pairs"] = n_scored = scored.count()
    run.metrics["stream.cold_s"] = walls[0]
    run.env["microbatch_timed_s"] = stats.timing_summary(timed)
    run.metrics["stream.microbatch_s"] = run.env["microbatch_timed_s"]["p50"]
    summary = run.env["microbatch_timed_cpu_s"] = stats.timing_summary(timed_cpu)
    run.metrics["cpu_s"] = summary["p50"]
    run.env["convs_per_cpu_s"] = sum(convs[STREAM_WARMUP:len(walls)]) / sum(timed_cpu)

    t0 = time.monotonic()
    with span("finalize"):
        edges, clusters = finalize(spark, er_dir, cfg)
        clusters = clusters.persist()
        n_clusters = clusters.select("cluster_id").distinct().count()
    finalize_s = time.monotonic() - t0
    errors = checks.check_clusters(edges, clusters)
    errors += checks.check_twed_sample(scored, state, cfg, run.args.seed)
    run.metrics["f1"] = evaluate_pairs(edges, ldf)["f1"]
    run.op(errors)
    run.mark("finalize_and_checks")
    clusters.unpersist()

    if run.args.trace:
        n_state = state.count()
        n_batches = len(walls)
        cpu = tracer.by_name("stream")["cpu"]["total"]
        grown = sum(probe.dir_bytes(os.path.join(er_dir, d)) for d in ("state", "block_keys", "scored"))
        run.metrics.update({
            "stream.batch_cpu_s": cpu / n_batches,
            "stream.new_pairs_per_batch": n_scored / n_batches,
            "stream.state_convs": n_state,
            "stream.state_mb_per_batch": grown / 2**20 / n_batches,
            "stream.flatness": stats.flatness(timed),
            "stream.finalize_s": finalize_s,
        })
    run.env["clusters"] = n_clusters
    return spark


# --------------------------------------------------------------------
# per-layer attribution and output
# --------------------------------------------------------------------


def attribute_task_metrics(run: Run, app_id: str) -> None:
    """Per-stage CPU and bytes for the traced er_batch stages: /proc
    deltas from the spans, Spark task metrics from the event log."""
    if run.tracer is None or not run.tracer.spark:
        return
    log = os.path.join(run.work, "eventlog", app_id)
    groups = probe.task_metrics_by_group(log)
    zero = {"cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for stage in ("assemble", "blocking", "score", "threshold", "cluster"):
        sp = run.tracer.by_name(stage)
        task = groups.get(sp["group"], zero)
        measured = {
            "wall_s": sp["end"] - sp["start"],
            "cpu_s": sp["cpu"]["total"],
            "jvm_cpu_s": task["cpu_s"],
            "python_cpu_s": sp["cpu"]["python"],
            "shuffle_write_mb": task["shuffle_write_mb"],
            "spill_mb": task["spill_mb"],
        }
        for key, value in measured.items():
            if f"{stage}.{key}" in PER_LAYER_UNITS:
                run.metrics[f"{stage}.{key}"] = value
    run.env["task_metrics_by_span"] = {
        sp["name"]: groups.get(sp["group"]) for sp in run.tracer.spans
    }


def result_line(run: Run) -> dict:
    units = PER_LAYER_UNITS if run.args.trace else END_TO_END_UNITS
    metrics = {}
    for name, unit in units.items():
        if name in run.metrics:
            metrics[name] = {"value": float(run.metrics[name]), "unit": unit}
        elif run.args.trace:
            # a layer this workload does not exercise did no work
            metrics[name] = {"value": 0.0, "unit": unit}
    missing = [n for n in END_TO_END_UNITS if not run.args.trace and n not in metrics]
    if missing:
        run.errors.append(f"metrics not measured: {missing}")
    correct = run.failed == 0 and not missing and not run.errors
    return {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}


def environment(run: Run) -> dict:
    import numpy
    import pyarrow
    import pyspark

    env = {
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": f"local[{NPROC}]",
        "shuffle_partitions": NPROC,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "workload": run.args.workload,
        "seed": run.args.seed,
        "trace": run.args.trace,
        # BASELINE.json's target, throughput efficiency >= 0.8 between N
        # and 4N executors, needs 4N cores; this benchmark runs one size.
        "scaling": f"not measured ({NPROC} cores)",
    }
    env.update(run.env)
    return env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import cutwed_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              f"repository root of a full checkout", file=sys.stderr)
        return 2
    # Python workers import cutwed_spark too; they inherit this path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    run = Run(args)
    # Every file the run writes stays in its work directory: Python and
    # JVM temp files (the launcher JVM too, hence the environment), Spark
    # scratch (SPARK_LOCAL_DIRS would override spark.local.dir), and no
    # JVM perf-data file.
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A heap sized to the benchmark's corpora rather than the engine's
    # 8g default, to keep a run small on a shared machine.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    try:
        try:
            spark = {"er_batch": er_batch, "stream_ingest": stream_ingest}[args.workload](run)
            app_id = spark.sparkContext.applicationId
            run.metrics["peak_rss_mb"] = run.tree.peak_rss_mb()
            run.env["peak_rss_mb_by_role"] = {
                k: v / 1024 for k, v in run.tree.peak_rss_kb_by_role.items()
            }
        finally:
            stop_jvm()
            run.mark("stop")
        if args.trace:
            attribute_task_metrics(run, app_id)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    os.makedirs(run.out_dir, exist_ok=True)
    stem = os.path.join(run.out_dir, run.run_id)
    env = environment(run)
    with open(stem + ".env.json", "w") as fh:
        json.dump(env, fh, indent=1, default=str)
    if run.tracer is not None:
        run.tracer.dump(stem + ".spans.jsonl")
    print(json.dumps({"env": env}, default=str))
    print(json.dumps(result_line(run)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
