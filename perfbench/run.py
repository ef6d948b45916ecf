"""The repository's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Every run builds one `local[4]` session,
times the workload's first pass through the program's public modules, checks
the outputs, and prints one JSON line last: {"correct", "attempted",
"failed", "metrics"}.  With --trace 0 the metrics are the end-to-end ones;
--trace 1 repeats the run with spans, Spark job labels and the Spark event
log on, adds the workload's traced extras, and reports the per-layer ones.  A
`RECEIPT {...}` line before it carries host facts, the workload's own named
metrics and the check details; the same receipt and the spans are written
under .perfbench_work/.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

# One Spark task == one core.  build_session pins the BLAS pools of the
# Python workers it spawns; this process pins its own before numpy is first
# imported (by the modules below), as bench.py does with its probe.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import checks
import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
# driver heap: session.py defaults to 24g, more than this 15 GB host should
# give one run
DRIVER_MEM = "3g"

# The nine headline queries, the same list as bench.HEADLINE (a
# self-test pins the two together).
HEADLINE = [
    "doc_near_dup_clusters",
    "doc_minhash_pairs",
    "doc_simhash_pairs",
    "emb_topk",
    "emb_ann_ivf",
    "emb_ann_lsh",
    "match_stats",
    "cluster_sizes_window",
    "events_windowed_agg",
]

# name -> (kind, sizes).  Sizes keep a run near one minute on a 4-core
# host, so a full set of runs fits its time budget; see README.md.
WORKLOADS = {
    "dedup_2k": ("dedup", {"files": 2000, "batch": 200}),
    "queries_sf0.01": ("queries", {"tdir": os.path.join(HERE, "data", "sf0.01")}),
}

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = [
    "session.start_s", "session.warmup_s", "sources.tables.scan_s",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.core_util",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.gc_s",
    "spark.py_worker_s", "spark.task_bytes_max_over_median", "trace.first_pass_s",
]
PER_LAYER_UNITS = {
    "_s": "s", "_bytes": "bytes", "jobs": "count", "tasks": "count",
    "core_util": "ratio", "max_over_median": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


class Run:
    """State of one benchmark run: walls, spans, checks, memory samples."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.dir = os.path.join(WORK, "runs", self.run_id)
        self.inputs = os.path.join(WORK, "inputs")
        self.log_dir = os.path.join(self.dir, "eventlog")
        os.makedirs(self.inputs, exist_ok=True)
        if trace:
            os.makedirs(self.log_dir, exist_ok=True)
        self.probe = tracing.throttle_probe()
        self.tracer = tracing.Tracer(self.run_id, trace)
        self.walls: dict[str, list[float]] = {}
        # (start, end, cores, pass) of timed operations; pass 0 is the
        # workload's first pass, later passes are the traced warm ones
        self.ops: list[tuple[float, float, int, int]] = []
        self.pass_no = 0
        self.cores = CORES
        self.checks: list[dict] = []
        self.rss: list[float] = []
        self.rss_peak: dict[str, float] = {}   # per process name, at the peak
        self.receipt: dict = {}
        self.layers: dict[str, float] = {}
        self.tasks: list[dict] = []          # event-log task rows (traced)
        self.stage_spans: list = []          # durable stage spans (traced dedup)
        self.spark = None
        self.java, self.heap_max_mb = "", 0.0    # read from the first session

    # -- timing ------------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """A timed operation of the workload: wall recorded under `name`,
        interval kept for the engine totals, memory sampled after."""
        t0 = time.time()
        with self.tracer.timed(name, self.walls):
            yield
        self.ops.append((t0, time.time(), self.cores, self.pass_no))
        self.sample_rss()

    def sample_rss(self) -> None:
        by_name = tracing.tree_hwm()
        if sum(by_name.values()) > sum(self.rss_peak.values()):
            self.rss_peak = by_name
        self.rss.append(sum(by_name.values()))

    def check(self, name: str, ok: bool, detail: str) -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    # -- sessions ----------------------------------------------------------

    def session(self, cores: int):
        """build_session at local[cores].  Untraced: one timed call (the
        setup_s of the local[4] session).  Traced: the bare session with
        CASCADE_WARM_WORKERS=0, then the warm-up as its own call."""
        from project_cascade_spark import session as ses

        extra = {}
        if self.trace:
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
            }
        kw = dict(app_name=f"perfbench-{self.workload}", master=f"local[{cores}]",
                  extra_conf=extra)
        if self.workload.startswith("dedup"):
            # bench.py's pipeline legs: shuffle partitions = 4x cores
            kw["shuffle_partitions"] = max(4 * cores, 16)
        tag = "" if cores == CORES else f".n{cores}"
        if self.trace:
            os.environ["CASCADE_WARM_WORKERS"] = "0"
            try:
                with self.tracer.timed("session.start" + tag, self.walls):
                    spark = ses.build_session(**kw)
            finally:
                del os.environ["CASCADE_WARM_WORKERS"]
            self.tracer.label = spark.sparkContext.setJobDescription
            with self.tracer.timed("session.warmup" + tag, self.walls):
                ses._warm_python_workers(spark)
        else:
            with self.tracer.timed("session.build" + tag, self.walls):
                spark = ses.build_session(**kw)
        self.spark, self.cores = spark, cores
        jvm = spark.sparkContext._jvm
        self.java = str(jvm.System.getProperty("java.version"))
        self.heap_max_mb = jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        self.sample_rss()
        return spark

    def stop_session(self) -> None:
        self.sample_rss()
        self.tracer.label = None
        self.spark.stop()
        self.spark = None

    def scan(self, frames: list) -> None:
        """sources.tables: load + count of the workload's inputs (traced).
        It runs after the first pass, so that the traced first pass follows
        the same history as the untraced one."""
        if self.trace:
            with self.tracer.timed("sources.tables.scan", self.walls):
                for df in frames:
                    df.count()

    # -- results -----------------------------------------------------------

    def engine(self) -> None:
        """spark.* totals of the local[4] session's first pass, read from
        the event log after the session stopped.  Warm passes are left out:
        how many fit in --seconds depends on the host and the program."""
        events = []
        for path in tracing.event_logs(self.log_dir):
            events += tracing.read_event_log(path)
        tasks = tracing.task_rows(events)
        ops = first_pass_intervals(self.ops)
        n_jobs, labelled = tracing.jobs_in(events, ops)
        self.layers.update(tracing.engine_totals(tasks, ops, CORES, n_jobs))
        self.layers["spark.unlabelled_jobs"] = n_jobs - labelled
        self.tasks = tasks
        self.receipt["spark_per_span"] = {
            s.name: tracing.span_totals(tasks, s) for s in self.tracer.spans
            if s.parent is None and not s.name.startswith("session")
        }


def first_pass_intervals(ops: list[tuple[float, float, int, int]]) -> list[tuple[float, float]]:
    """(start, end) of the local[4] first-pass operations."""
    return [(a, b) for a, b, cores, k in ops if cores == CORES and k == 0]


def load_files(spark, path: str):
    from project_cascade_spark.sources.tables import load_code_files

    return load_code_files(spark, path)


def stage_store_cls(run: Run):
    """A StageStore whose run() is the span of one durable stage.  The
    StageStore chain runs its stages one after another, so each stage's
    span covers exactly the jobs that stage submits."""
    from project_cascade_spark.sources.sinks import StageStore

    class SpanStageStore(StageStore):
        def run(self, stage, fn):
            with run.tracer.timed(f"plans.pipeline.{stage}", run.walls):
                return super().run(stage, fn)

    return SpanStageStore


# ------------------------------------------------------------ dedup

def _fused(run: Run, spark, path: str, name: str):
    """One fused dedup_pipeline run, timed from the call to the collected
    assignments, edges and substring pairs."""
    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.plans.pipeline import dedup_pipeline

    df = load_files(spark, path)
    with run.op(name):
        res = dedup_pipeline(df, CODE_CONFIG, store=None, with_substring_pass=True)
        assign = res.assignments.select(
            "file_id", "repo", "path", "commit", "content_sha", "cluster_id"
        ).toPandas()
        edges = res.edges.select("id_a", "id_b").toPandas()
        substr = res.substring_pairs.select("id_a", "id_b").toPandas()
    return assign, edges, substr


def _counts(out) -> tuple[int, int, int]:
    assign, edges, substr = out
    return assign["cluster_id"].nunique(), len(edges), len(substr)


def run_dedup(run: Run, files: int, batch: int) -> dict:
    """One fused run at local[4] over the whole corpus, the first pass after
    session build as in bench.py's pipeline legs.  Traced: the same pass,
    then either the durable chain (see durable_chain) or the pass again at
    local[1], in a new session on the same JVM."""
    import pandas as pd

    corpus = inputs.append_corpus(run.inputs, files - batch, batch, 1, run.seed)
    path = os.path.join(corpus, "union")
    spark = run.session(CORES)
    first = _fused(run, spark, path, "dedup.first_pass")
    run.scan([load_files(spark, path)])
    # Traced runs alternate by seed parity so each stays under 180 s on a
    # slow host: even seeds run the durable chain, odd seeds the local[1]
    # leg.
    if run.trace and run.seed % 2 == 0:
        durable_chain(run, spark, corpus, first)
    run.stop_session()
    if run.trace and run.seed % 2 == 1:
        spark1 = run.session(1)
        one = _fused(run, spark1, path, "dedup.n1")
        run.stop_session()
        ok, detail = checks.same_partition(first[0], one[0])
        run.check("n1_same_output", ok and _counts(one) == _counts(first), detail)

    truth = pd.read_parquet(os.path.join(corpus, "truth.parquet"))
    src = pd.read_parquet(path)
    assign, edges, substr = first
    recall = checks.dup_pair_recall(truth, assign)
    run.check("dup_pair_recall", recall >= checks.MIN_RECALL, f"{recall:.4f}")
    run.check("block_pairs", *checks.block_pairs(truth, assign, substr))
    run.check("content_sha256", *checks.content_sha(src, assign))

    n4 = run.walls["dedup.first_pass"][0]
    clusters, n_edges, n_sub = _counts(first)
    run.receipt["outputs"] = {"clusters": clusters, "edges": n_edges, "substring_pairs": n_sub}
    run.receipt["named"] = {
        "dedup_files_per_s": [files / n4, "files/s"],
        "dup_pair_recall": [recall, "ratio"],
    }
    if "dedup.n1" in run.walls:
        n1 = run.walls["dedup.n1"][0]
        run.receipt["named"].update({
            "dedup_files_per_s_n1": [files / n1, "files/s"],
            "scaling_eff_1_to_4": [n1 / (4 * n4), "ratio"],
        })
    return {"first_pass_s": n4}


def durable_chain(run: Run, spark, corpus: str, fused) -> None:
    """Traced only.  The corpus minus its interleaved batch through the
    durable, sequential StageStore path (one span per stage), a resumed
    re-run, then one append_batch epoch of the batch.  The chain must end
    where the fused run on the whole corpus did: the same clustering as a
    partition, and the same edge and substring-pair counts."""
    from pyspark.sql import functions as F

    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.plans.append import append_batch, write_config_marker
    from project_cascade_spark.plans.pipeline import dedup_pipeline

    base, batch = os.path.join(corpus, "base"), os.path.join(corpus, "batch0")
    root = os.path.join(run.dir, "durable")
    store_cls = stage_store_cls(run)

    def durable(name):
        store = store_cls(spark, root, fingerprint=f"perfbench:{run.seed}")
        write_config_marker(root, CODE_CONFIG)
        df = load_files(spark, base)
        with run.tracer.timed(name, run.walls):
            res = dedup_pipeline(df, CODE_CONFIG, store=store, with_substring_pass=True)
            res.assignments.agg(F.count(F.lit(1))).crossJoin(
                res.edges.agg(F.count(F.lit(1)))
            ).crossJoin(res.substring_pairs.agg(F.count(F.lit(1)))).first()
        return store

    durable("plans.pipeline.durable_sequential")
    written = inputs.dir_bytes(root)
    store = durable("sources.sinks.resume")
    run.check("resume_all_stages", store.computed == [], f"recomputed {store.computed}")
    run.layers.update(durable_stage_layers(run, root, "plans.pipeline.durable_sequential"))
    run.layers.update({
        "sources.sinks.bytes_written": written,
        "sources.sinks.bytes_per_input_byte": written / inputs.dir_bytes(base),
        "sources.sinks.resume_s": run.walls["sources.sinks.resume"][0],
    })

    df = load_files(spark, batch)
    with run.tracer.timed("plans.append", run.walls):
        res = append_batch(df, CODE_CONFIG, root)
        got = res.assignments.select("file_id", "cluster_id").toPandas()
        n_edges = res.edges.count()
        n_sub = res.substring_pairs.count()
    run.layers.update(append_layers(root, run.walls["plans.append"][0]))
    ok, detail = checks.same_partition(got, fused[0])
    run.check("durable_chain_equals_fused", ok, detail)
    run.check("durable_chain_counts", (n_edges, n_sub) == _counts(fused)[1:],
              f"edges, substring pairs {(n_edges, n_sub)} vs fused {_counts(fused)[1:]}")


def durable_stage_layers(run: Run, root: str, span_name: str) -> dict:
    """plans.pipeline.<stage>.{s,rows,task_s,shuffle_bytes,py_worker_s},
    unattributed time and the waste ratios of one durable pipeline run."""
    import duckdb
    import pandas as pd

    state = pd.read_parquet(os.path.join(root, "_state"))
    rows = dict(zip(state["stage"], state["n_rows"]))
    top = [s for s in run.tracer.spans if s.name == span_name][-1]
    stages = [s for s in run.tracer.spans
              if s.parent == top.sid and s.name.startswith("plans.pipeline.")]
    out: dict[str, float] = {}
    for s in stages:
        out[f"{s.name}.s"] = s.end - s.start
        out[f"{s.name}.rows"] = rows.get(s.name[len("plans.pipeline."):], 0)
    out["plans.pipeline.unattributed_s"] = (top.end - top.start) - sum(
        s.end - s.start for s in stages
    )
    out["operators.dedup.rep_ratio"] = rows["01_norm_reps"] / rows["00_input"]
    out["operators.minhash_lsh.candidates_per_rep"] = rows["03_lsh_pairs"] / rows["01_norm_reps"]
    cand = duckdb.sql(
        f"SELECT count(*) FROM (SELECT id_a, id_b FROM '{root}/03_lsh_pairs/*.parquet' "
        f"UNION SELECT id_a, id_b FROM '{root}/04_short_pairs/*.parquet')"
    ).fetchone()[0]
    out["operators.verify.yield"] = rows["05_edges"] / cand if cand else 0.0
    run.stage_spans = stages
    return out


def append_layers(root: str, epoch_wall: float) -> dict:
    """plans.append.* of epoch 1 from the span around append_batch and the
    epoch's e1_* rows of the _state ledger."""
    import pandas as pd

    state = pd.read_parquet(os.path.join(root, "_state"))
    rows = state[state["stage"].str.startswith("e1_")]
    walls = dict(zip(rows["stage"].str[3:], rows["wall_s"]))
    stage_s = float(rows["wall_s"].sum())
    return {
        "plans.append.s": epoch_wall,
        "plans.append.stage_s": stage_s,
        "plans.append.unattributed_s": epoch_wall - stage_s,
        "plans.append.new_edges_s": walls.get("new_edges", 0.0),
        "plans.append.clusters_s": walls.get("clusters", 0.0),
        "plans.append.prepared_new_s": walls.get("prepared_new", 0.0),
    }


# ------------------------------------------------------------ queries

def oracle_results(tdir: str, names: list[str], oracles: dict) -> dict:
    """The DuckDB twin of each headline query over the tables in `tdir`.
    Results are cached under the work directory, keyed by a hash of the
    twin's SQL, the table files and the DuckDB version: the tables are
    fixed, and the emb_ann_lsh twin alone takes about 10 s, a sixth of a
    run."""
    import hashlib

    import duckdb
    import pandas as pd

    base = hashlib.sha256(duckdb.__version__.encode())
    for t in names:
        with open(os.path.join(tdir, f"{t}.parquet"), "rb") as f:
            base.update(f.read())
    cache = os.path.join(WORK, "oracles")
    os.makedirs(cache, exist_ok=True)
    con, out = None, {}
    for name in HEADLINE:
        key = hashlib.sha256(base.digest() + oracles[name].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in names:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tdir}/{t}.parquet'")
            con.execute(oracles[name]).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def run_queries(run: Run, tdir: str) -> dict:
    """The nine headline queries over the sf0.01 test tables under data/.
    The tables are fixed; the seed does not change them."""
    # the IVF oracle trains its centroids from this directory's parquet
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = tdir
    from project_cascade_spark.queries import build_oracles, build_queries
    from project_cascade_spark.sources.tables import load_testdata

    names = ["documents", "embeddings", "lineitem", "orders", "events"]
    spark = run.session(CORES)
    qs = build_queries()
    failed: set[str] = set()

    def one_pass() -> dict:
        out = {}
        for name in HEADLINE:
            with run.op(f"queries.{name}"):
                try:
                    out[name] = qs[name](spark, tdir).toPandas()
                except Exception as exc:  # one failed query must not end the run
                    failed.add(name)
                    print(f"query {name} failed: {exc!r}", file=sys.stderr)
        return out

    def pass_sum(k: int) -> float:
        return sum(run.walls[f"queries.{n}"][k] for n in HEADLINE)

    t_start = time.time()
    cold = one_pass()
    n_pass = 1
    run.scan([load_testdata(spark, tdir, t) for t in names])
    # traced: warm passes too, for the per-query warm walls
    while run.trace and (n_pass < 2 or time.time() - t_start < run.seconds):
        run.pass_no = n_pass
        one_pass()
        n_pass += 1
    run.stop_session()

    wants = oracle_results(tdir, names, build_oracles())
    for name in HEADLINE:
        if name in failed:
            run.check(f"oracle.{name}", False, "query raised")
            continue
        run.check(f"oracle.{name}", *checks.same_result(cold[name], wants[name]))

    run.receipt["named"] = {"query_cold_sum_s": [pass_sum(0), "s"]}
    if run.trace:
        warm_sums = [pass_sum(k) for k in range(1, n_pass)]
        for n in HEADLINE:
            run.layers[f"queries.{n}.s"] = statistics.median(run.walls[f"queries.{n}"][1:])
        run.receipt["named"]["query_warm_sum_s"] = [statistics.median(warm_sums), "s"]
        run.receipt["named"]["warm_passes"] = [len(warm_sums), "count"]
    return {"first_pass_s": pass_sum(0)}


# ------------------------------------------------------------ main

def host_facts(run: Run) -> dict:
    import pyspark


    return {
        "nproc": len(os.sched_getaffinity(0)),
        "throttle_probe_s": run.probe,
        "pyspark": pyspark.__version__,
        "java": run.java,
        "driver_heap_max_mb": run.heap_max_mb,
        "git_sha": tracing.git_sha(ROOT),
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
    }


def result_line(failed: int, attempted: int, metrics: dict) -> str:
    """The last line a run prints."""
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this run is left (the Python
    worker daemon exits once its JVM is gone)."""

    deadline = time.time() + timeout
    while time.time() < deadline:
        kids = tracing.children_map().get(os.getpid(), [])
        if not kids:
            return
        for k in kids:
            try:
                os.waitpid(k, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "project_cascade_spark", "__init__.py")):
        print(f"perfbench: no project_cascade_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    sys.path.insert(0, ROOT)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # temporary files of Python and of the JVM stay inside the checkout too
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for d in (os.environ["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)


    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    kind, sizes = WORKLOADS[args.workload]
    try:
        e2e = {"dedup": run_dedup, "queries": run_queries}[kind](
            run, **sizes
        )
    finally:
        if run.spark is not None:
            run.spark.stop()
        shutdown_jvm()
        wait_children()

    setup = run.walls["session.start"][0] + run.walls["session.warmup"][0] if run.trace \
        else run.walls["session.build"][0]
    e2e["setup_s"] = setup
    e2e["peak_rss_mb"] = max(run.rss)
    if run.trace:
        run.engine()
        run.layers["session.start_s"] = run.walls["session.start"][0]
        run.layers["session.warmup_s"] = run.walls["session.warmup"][0]
        run.layers["sources.tables.scan_s"] = run.walls["sources.tables.scan"][0]
        # the traced twin of the untraced first_pass_s: their difference is
        # the tracing overhead
        run.layers["trace.first_pass_s"] = e2e["first_pass_s"]
        for sp in run.stage_spans:
            for k, v in tracing.span_totals(run.tasks, sp).items():
                run.layers[f"{sp.name}.{k}"] = v
        run.tracer.dump(os.path.join(run.dir, "spans.jsonl"))
        shutil.rmtree(os.path.join(run.dir, "durable"), ignore_errors=True)

    failed = sum(not c["ok"] for c in run.checks)
    attempted = len(run.ops) + len(run.checks)
    run.receipt.update({
        "run_id": run.run_id, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "host": host_facts(run),
        "walls_s": run.walls, "checks": run.checks, "peak_rss_mb_by_process": run.rss_peak,
        "failed_ops": [failed / attempted, "share"],
        "end_to_end": {k: [v, END_TO_END[k]] for k, v in e2e.items()},
    })
    if run.trace:
        run.receipt["per_layer"] = run.layers
        metrics = {k: {"value": run.layers[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    receipt_dir = os.path.join(WORK, "receipts")
    os.makedirs(receipt_dir, exist_ok=True)
    with open(os.path.join(receipt_dir, run.run_id + ".json"), "w") as f:
        json.dump(run.receipt, f, indent=1, default=str)
    print("RECEIPT " + json.dumps(run.receipt, default=str))
    print(result_line(failed, attempted, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
