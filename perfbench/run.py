#!/usr/bin/env python3
"""Benchmark of the KG-construction engine on local Spark.

    python3 perfbench/run.py --workload kg_skew_write --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Each workload runs from one process on
``local[nproc]`` as a closed loop with one client: a pass starts only after
the previous one has finished and its output has been checked against an
oracle (outside the timed window).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: ``--trace 0`` reports the
end-to-end metrics (set-up and pass cost in CPU seconds of the driver, JVM
and python workers together, and peak memory; the wall times are printed
above that line), ``--trace 1`` the per-layer ones, from a separate run
that labels (job group) and forces each public layer call in turn and reads
Spark's event log afterwards.  Every file a run writes (inputs, oracle
cache, Spark scratch, event logs, spans) stays under ``.perfbench_work/``.

Workloads (BENCHMARK.json says why each was chosen):

* ``kg_skew_write`` - ``run_pipeline`` with ``output_dir`` (parquet stages,
  triples partitioned by pred, lineage) over a seeded transcripts table with
  heavy-tailed conversation lengths and hot conversations.
* ``query_mix`` - one pass over registered ANN, near-duplicate and
  connected-components queries that no KG workload touches, over a seeded
  documents + embeddings corpus.  Traced runs also time the augmentation
  query, which the timed pass leaves out to keep runs short.

The traced run of either workload also sweeps the other workload's layers
on the same seed (the KG layers run over the corpus's documents there), so
every per-layer metric is measured on every workload.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import (  # noqa: E402  (found through the path above)
    PeakRss,
    Tracer,
    adopt_orphans,
    descendants,
    end_processes,
    event_log_by_group,
    tree_cpu_s,
)

WORKLOADS = ("kg_skew_write", "query_mix")
SKEW_TURNS = 3_000      # the corpus documents give 1.5k turns: a second scale
CORPUS_DOCS = 300
CORPUS_VECS = 300
HEAP = "1g"             # local mode: one JVM schedules and runs every task
MAX_FAILED = 2          # passes that may raise before a run gives up
CORES = len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(corpus_dir: str | None) -> None:
    """Session settings from the benchmark side: scratch paths inside the
    checkout and a JVM heap that fits a small box."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM spark-submit starts first to build the Spark JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_options()
    if corpus_dir:
        # read by plans/queries.py at import: the IVF twin trains on this dir
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = corpus_dir


def jvm_options() -> str:
    """JVM scratch inside the checkout, and no hsperfdata file outside it."""
    return f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"


def start_session(event_log_dir: str | None = None):
    """-> (spark, get_spark_s, first_job_s, cpu_s): a fresh JVM through
    get_spark, which also ships the package, then one trivial job; cpu_s is
    the CPU time the two took."""
    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap, so resident memory does not follow the heap
        # resizing heuristics run to run
        "spark.driver.extraJavaOptions": f"{jvm_options()} -Xms{HEAP}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    cpu_s = tree_cpu_s(os.getpid()) - c0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1, cpu_s


def end_spark() -> None:
    """Stop any Spark session, end its JVM and python workers, and wait for
    each to end.  A stopped session leaves the JVM running until it reads
    end-of-file on its stdin, which it otherwise only does once this
    process has exited, and the worker daemon outlives the JVM briefly."""
    tree = descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        steps = [lambda: SparkContext._active_spark_context
                 and SparkContext._active_spark_context.stop()]
        gateway = SparkContext._gateway
        if gateway is not None:
            steps.append(gateway.shutdown)
            if gateway.proc is not None:
                steps += [gateway.proc.stdin.close, lambda: gateway.proc.wait(timeout=30)]
        for step in steps:
            try:
                step()
            except Exception as e:  # noqa: BLE001 - the rest must still run
                log(f"ending Spark: {type(e).__name__}: {e}")
        SparkContext._gateway = SparkContext._jvm = None
    end_processes(tree)


class Outcome:
    """Passes attempted, failed (raised) and wrong (output differs from the
    oracle)."""

    def __init__(self):
        self.attempted = self.failed = self.wrong = 0

    def run(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, what: str, got, want) -> None:
        if got != want:
            self.wrong += 1
            log(f"WRONG {what}: got {got} want {want}")


# ------------------------------------------------------------ workloads


class KgSkewWrite:
    """``run_pipeline`` writing every stage under a fresh ``output_dir``,
    fed a seeded skewed transcripts table; checked against run_oracle."""

    warmup_passes = 0   # a pass costs 9-15 s; the cold pass warms enough
    min_passes = 1

    def __init__(self, seed: int):
        from inputs import write_skewed_transcripts
        from workloads import golden_triples, turns_from_table

        key = f"skew_{seed}_{SKEW_TURNS}"
        self.table = write_skewed_transcripts(
            os.path.join(WORK, "inputs", f"{key}.parquet"), seed, SKEW_TURNS)
        turns = turns_from_table(self.table)
        self.texts = [t[2] for t in turns]
        self.n_turns = len(turns)
        self.golden = golden_triples(os.path.join(WORK, "oracle"), key, turns)
        self.out_dir = os.path.join(WORK, "out", "pass")
        self.expected = None
        self.leaked = 0           # RDDs left persisted by the last pass
        self.written = (0, 0)     # (bytes, files) the last pass wrote

    def transcripts(self, spark):
        return spark.read.parquet(self.table)

    def run_pass(self, spark):
        from workloads import kg_write_pass, persistent_rdds, release, remove_tree, tree_size

        remove_tree(self.out_dir)
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        got, frames = kg_write_pass(spark, self.table, self.out_dir, self.transcripts(spark))
        dt = time.perf_counter() - t0
        self.cpu_s = tree_cpu_s(os.getpid()) - c0
        self.leaked = persistent_rdds(spark)
        self.written = tree_size(self.out_dir)
        release(spark, frames)
        remove_tree(self.out_dir)
        return dt, got

    def expect(self, spark, got) -> None:
        from workloads import TRIPLE_COLS, digest

        self.expected = digest(spark.read.parquet(self.golden), TRIPLE_COLS)

    def verify(self, outcome: Outcome, got) -> None:
        outcome.check("triples", got, self.expected)


class QueryMix:
    """The QUERY_MIX queries over a seeded corpus; checked against their
    DuckDB twins."""

    warmup_passes = 2   # its passes get 25% cheaper over the two after the cold one
    # passes keep getting cheaper for a while, so a fixed count (not as many
    # as fit in the time) keeps the median at the same place in that trend
    min_passes = 3

    def __init__(self, seed: int, corpus_dir: str):
        from workloads import turns_from_documents, twin_tables

        self.sf_dir = corpus_dir
        # the documents' turns: the KG layers' input when they are swept here
        self.turns = turns_from_documents(corpus_dir)
        self.n_turns = len(self.turns)
        self.twins = twin_tables(corpus_dir, threads=CORES)
        self.expected: dict = {}
        self.leaked = 0

    def run_pass(self, spark, tracer=None, names=None):
        from workloads import QUERY_MIX, persistent_rdds, query_pass, release

        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        got = query_pass(spark, self.sf_dir, tracer, names or QUERY_MIX)
        dt = time.perf_counter() - t0
        self.cpu_s = tree_cpu_s(os.getpid()) - c0
        self.leaked = persistent_rdds(spark)
        release(spark, [])
        return dt, got

    def expect(self, spark, got) -> None:
        """Twin digests, cast to the column types of the queries' results."""
        from workloads import twin_digest

        self.expected.update({name: twin_digest(spark, self.twins[name], schema)
                              for name, (_d, schema) in got.items()})

    def verify(self, outcome: Outcome, got) -> None:
        for name, (d, _schema) in got.items():
            outcome.check(f"query {name}", d, self.expected[name])


def corpus_for(seed: int) -> str:
    from inputs import write_corpus

    d = os.path.join(WORK, "inputs", f"corpus_{seed}_{CORPUS_DOCS}_{CORPUS_VECS}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        write_corpus(d, seed, CORPUS_DOCS, CORPUS_VECS)
    return d


def first_pass(spark, wl, outcome: Outcome) -> tuple[float, float]:
    """The cold pass -> (wall s, CPU s).  Its result also gives the query
    schemas the expected digests are cast to, so the oracle side runs
    after it."""
    outcome.attempted += 1
    dt, got = wl.run_pass(spark)
    cpu_s = wl.cpu_s
    wl.expect(spark, got)
    wl.verify(outcome, got)
    return dt, cpu_s


def checked_pass(spark, wl, outcome: Outcome) -> tuple[float, float] | None:
    """One warm pass, verified -> (wall s, CPU s), or None if it raised."""
    res = outcome.run(lambda: wl.run_pass(spark))
    if outcome.failed > MAX_FAILED:
        raise RuntimeError("passes keep failing")
    if res is None:
        return None
    wl.verify(outcome, res[1])
    return res[0], wl.cpu_s


def steady_passes(spark, wl, outcome: Outcome, seconds: float) -> list[tuple[float, float]]:
    """Closed loop: ``wl.warmup_passes`` untimed passes, then back-to-back
    passes until ``seconds`` have passed and ``wl.min_passes`` were
    measured.  A warm pass takes 3-15 s, so a run measures three query_mix
    passes or one kg_skew_write pass: the set-up and cold pass every run
    pays leave no time for more within the contract's total.  Returns (wall s, CPU s) per measured pass."""
    for _ in range(wl.warmup_passes):
        checked_pass(spark, wl, outcome)
    samples: list[tuple[float, float]] = []
    start = time.perf_counter()
    while len(samples) < wl.min_passes or time.perf_counter() - start < seconds:
        res = checked_pass(spark, wl, outcome)
        if res is not None:
            samples.append(res)
    return samples


# ------------------------------------------------------------------ runs


def end_to_end(name: str, seed: int, seconds: float):
    corpus = corpus_for(seed) if name == "query_mix" else None
    pin_environment(corpus)
    wl = KgSkewWrite(seed) if name == "kg_skew_write" else QueryMix(seed, corpus)
    outcome = Outcome()
    with PeakRss() as rss:
        spark, get_s, job_s, setup_s = start_session()
        try:
            first = first_pass(spark, wl, outcome)
            samples = steady_passes(spark, wl, outcome, seconds)
            env = session_env(spark)
        finally:
            spark.stop()
    # The bounded metrics are CPU seconds of the whole process tree: on a
    # shared host, other guests move wall time by 20-40% run to run, and
    # CPU time by a third of that.  Wall times are printed beside them.
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_cpu_s": (first[1], "s"),
        "pass_cpu_s": (statistics.median(c for _w, c in samples), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    walls = [w for w, _c in samples]
    pass_s = statistics.median(walls)
    shown = {
        "setup_wall_s": (get_s + job_s, "s"),
        "first_pass_s": (first[0], "s"),
        "pass_s": (pass_s, "s"),
        # a run's few passes leave no sample beyond any tail percentile,
        # so this is the slowest pass, with its sample count
        f"pass_s_tail.n{len(walls)}": (max(walls), "s"),
    }
    if name == "kg_skew_write":
        shown["turns_per_s"] = (wl.n_turns / pass_s, "turns/s")
    info = dict(env, pass_samples=samples, input_turns=wl.n_turns,
                shown={k: {"value": v, "unit": u} for k, (v, u) in shown.items()})
    return metrics, outcome, info


def traced(name: str, seed: int):
    """Per-layer run: a cold and a warm untraced pass of the workload, its
    traced pass, then a traced sweep of the other workload's layers."""
    from workloads import (
        QUERY_MIX,
        TRACED_QUERIES,
        TRIPLE_COLS,
        core_timings,
        digest,
        golden_triples,
        kg_layers,
        remove_tree,
    )

    corpus = corpus_for(seed)
    pin_environment(corpus)
    qm = QueryMix(seed, corpus)
    if name == "kg_skew_write":
        wl = kg = KgSkewWrite(seed)
        kg_texts = kg.texts
    else:
        wl = qm
        kg_texts = [t[2] for t in qm.turns]
        docs_golden = golden_triples(os.path.join(WORK, "oracle"),
                                     f"docs_{seed}_{CORPUS_DOCS}", qm.turns)
    log_dir = os.path.join(WORK, "eventlog", f"{name}_{seed}")
    remove_tree(log_dir)
    outcome = Outcome()
    m: dict = {}
    spark, m["session.get_spark_s"], m["session.first_job_s"], _cpu = start_session(log_dir)
    try:
        passes = Tracer(spark, "pass")
        with passes.span("cold"):
            first_pass(spark, wl, outcome)
        with passes.span("warm"):
            outcome.attempted += 1
            untraced_s, got = wl.run_pass(spark)
        wl.verify(outcome, got)
        leaked = wl.leaked

        own, sweep = Tracer(spark, "traced"), Tracer(spark, "sweep")
        kg_tracer, qm_tracer = (own, sweep) if wl is not qm else (sweep, own)
        outcome.attempted += 2
        t0 = time.perf_counter()
        if wl is qm:
            _dt, got = qm.run_pass(spark, own)
            traced_s = time.perf_counter() - t0
            qm.verify(outcome, got)
            _dt, extra = qm.run_pass(spark, own, TRACED_QUERIES)
            qm.expect(spark, extra)
            qm.verify(outcome, extra)
            from pytorch_bert_bilstm_crf_ner_spark.sources.transcripts import (
                transcripts_from_documents,
            )

            want = digest(spark.read.parquet(docs_golden), TRIPLE_COLS)
            kg_m, got, kg_leak = kg_layers(spark, sweep,
                                           transcripts_from_documents(spark, corpus))
            outcome.check("swept triples", got, want)
            written = (0, 0)  # the query mix writes nothing
        else:
            kg_m, got, kg_leak = kg_layers(spark, own, kg.transcripts(spark))
            traced_s = time.perf_counter() - t0
            outcome.check("traced triples", got, kg.expected)
            written = kg.written
            _dt, got = qm.run_pass(spark, sweep, QUERY_MIX + TRACED_QUERIES)
            qm.expect(spark, got)
            qm.verify(outcome, got)
        env = session_env(spark)
    finally:
        spark.stop()

    m.update(kg_m)
    m["pipeline.bytes_written"], m["pipeline.files_written"] = written
    m["cache.leaked_rdds"] = max(leaked, kg_leak)
    m["trace.overhead_share"] = traced_s / untraced_s - 1.0
    m.update(core_timings(kg_texts))
    core_s = m["core.emissions_s"] + m["core.viterbi_s"] + m["core.decode_s"]
    m["tagging.core_share"] = core_s / (m["tagging.s"] * CORES)

    groups = event_log_by_group(log_dir)

    def group(tracer, layer: str) -> dict:
        return groups.get(tracer.group(layer), {})

    tag = group(kg_tracer, "tagging")
    m["tagging.shuffle_write_bytes"] = tag.get("shuffle_write_bytes", 0)
    m["tagging.executor_run_s"] = tag.get("executor_run_s", 0.0)
    m["relations.shuffle_bytes"] = group(kg_tracer, "relations.triples").get(
        "shuffle_write_bytes", 0)
    m["relations.spill_bytes"] = sum(
        group(kg_tracer, f"relations.{x}").get("spill_bytes", 0)
        for x in ("adjacent", "cooccur", "triples"))
    for q in QUERY_MIX + TRACED_QUERIES:
        m[f"query.{q}.s"] = qm_tracer.seconds(f"query.{q}")
        m[f"query.{q}.shuffle_bytes"] = group(qm_tracer, f"query.{q}").get(
            "shuffle_write_bytes", 0)
    warm = group(passes, "warm")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = warm.get(k, 0)
    for t in (passes, own, sweep):
        for rec in t.spans:
            rec["spark"] = group(t, rec["name"])
        t.dump(os.path.join(WORK, "trace", f"{name}_{seed}_{t.pass_id}.json"))
    remove_tree(log_dir)
    info = dict(env, untraced_pass_s=untraced_s, traced_pass_s=traced_s)
    return {k: (v, layer_unit(k)) for k, v in m.items()}, outcome, info


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("share", "ratio")):
        return "ratio"
    return "count"


def session_env(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": CORES,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # fail before any work when the program is not in this checkout
    import pytorch_bert_bilstm_crf_ner_spark  # noqa: F401

    # a terminated run still ends every process it started
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    adopt_orphans()
    load_before, cpu_before = os.getloadavg(), cpu_times()
    try:
        if args.trace:
            metrics, outcome, info = traced(args.workload, args.seed)
        else:
            metrics, outcome, info = end_to_end(args.workload, args.seed, args.seconds)
    finally:
        end_spark()
    cpu_after = cpu_times()
    busy = sum(cpu_after) - sum(cpu_before)
    info.update(workload=args.workload, seed=args.seed,
                loadavg_before=load_before, loadavg_after=os.getloadavg(),
                # CPU time the hypervisor gave to other guests during the run
                steal_share=(cpu_after[7] - cpu_before[7]) / busy if busy else 0.0)
    failed_share = outcome.failed / outcome.attempted
    rows = dict(metrics)
    rows.update((k, (v["value"], v["unit"])) for k, v in info.get("shown", {}).items())
    for k, (v, unit) in rows.items():
        print(f"{k:40s} {v:16.6g} {unit}")
    print(f"{'wrong_outputs':40s} {outcome.wrong:16d} count")
    print(f"{'failed_share':40s} {failed_share:16.6g} ratio")
    print(json.dumps({"env": info}))
    print(json.dumps({
        "correct": outcome.wrong == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
