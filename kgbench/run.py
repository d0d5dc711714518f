"""End-to-end benchmark: transcripts parquet -> GraphSink commit.

Run from the repository root:

    python3 kgbench/run.py --workload chat_sim --seed 1 --seconds 5 --trace 0

It drives the production path from outside, through the public calls
``tools/submit_job.py`` makes: ``LexiconDims.from_lexicon``, then
``plans.checkpoint.run_partitioned`` with a benchmark-owned
``build_triples`` callback around ``plans.pipeline.run_pipeline`` and a
``sources.writers.GraphSink``, with the ancestor closure and the UMLS
tables enabled and ``checkpoint_dir`` set. A commit starts from the
generated parquet input and ends at the last ``done`` manifest record, and
its triples are checked against the DuckDB full-pipeline oracle.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see ``tracing.py``) that also crashes and resumes
a batched commit. Workloads, metrics and the known defect the resume run
surfaces (idf fit per batch with the TF-IDF tier on) are described in
``README.md`` next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
N_BUCKETS = 16
N_SETUPS = 3
RESUME_BATCH = 4
RESUME_CRASH_BATCH = 3  # 1-based batch whose callback raises
LONG_SAMPLE_CONVS = 8
# host_probe() median on this benchmark's reference host (4 vCPUs, quiet);
# timings are scaled to it, see run_untraced
PROBE_REF_S = 0.4


class InjectedCrash(RuntimeError):
    """The crash the resume run injects on purpose (not a failure)."""


def _cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Workload:
    name: str
    with_similarity: bool
    make_input: object  # (input_dir, seed) -> n_turns
    from_transcripts: bool


def _workloads():
    import inputs

    def longturn(d: str, seed: int) -> int:
        return inputs.write_long_transcripts(
            f"{d}/transcripts.parquet", inputs.LongTurnSpec(n_convs=500, turns_per_conv=4), seed)

    def chat(d: str, seed: int) -> int:
        return inputs.write_documents(f"{d}/documents.parquet", inputs.DocSpec(n_docs=1000), seed)

    return {
        "longturn_exact": Workload("longturn_exact", False, longturn, True),
        "chat_sim": Workload("chat_sim", True, chat, False),
    }


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

@dataclass
class Env:
    spark: object
    lexicon: object
    vocab_map: dict
    dims: object
    transcripts: object
    ancestors: object
    mrconso: object
    mrsty: object
    last_result: object = None  # PipelineResult of the latest build_triples call


def start_session(tmp: str, event_dir: str | None = None):
    from omop2obo_spark.session import get_spark

    cores = _cores()
    conf = {
        # fits a 15 GB host next to the Python workers and the page cache
        "spark.driver.memory": "4g",
        "spark.local.dir": f"{tmp}/local",
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="kgbench", master=f"local[{cores}]",
                     shuffle_partitions=max(8, 2 * cores), extra_conf=conf)


def setup(wl: Workload, tmp: str, input_dir: str, spans, event_dir=None) -> Env:
    from omop2obo_spark.fixtures.generators import (
        ancestors_df, lexicon_df, mrconso_df, mrsty_df, transcripts_from_documents,
        vocab_map_dict,
    )
    from omop2obo_spark.operators.linking import LexiconDims
    from omop2obo_spark.sources.readers import read_transcripts

    with spans("get_spark"):
        spark = start_session(tmp, event_dir)
    with spans("from_lexicon"):
        lexicon, vocab_map = lexicon_df(spark), vocab_map_dict()
        dims = LexiconDims.from_lexicon(lexicon, vocab_map)
    with spans("register"):
        if wl.from_transcripts:
            transcripts = read_transcripts(spark, f"{input_dir}/transcripts.parquet")
        else:
            transcripts = transcripts_from_documents(spark, input_dir)
        env = Env(spark, lexicon, vocab_map, dims, transcripts,
                  ancestors_df(spark), mrconso_df(spark), mrsty_df(spark))
    return env


def make_sink(root: str, spans=None):
    from omop2obo_spark.sources.writers import GraphSink

    if spans is None:
        return GraphSink(root, n_buckets=N_BUCKETS)

    class TracedSink(GraphSink):
        """GraphSink whose public methods run inside benchmark spans."""

        readback_s = 0.0
        _rb0 = None

        def completed_partitions(self, spark=None):
            with spans("sink.manifest"):
                return super().completed_partitions(spark)

        def record(self, run_id, part_id, status, spark=None, **metrics):
            if status == "done" and self._rb0 is not None:
                self.readback_s += time.time() - self._rb0
                self._rb0 = None
            with spans("sink.manifest"):
                super().record(run_id, part_id, status, spark, **metrics)

        def clear_partitions(self, part_ids, spark=None):
            with spans("sink.write"):
                super().clear_partitions(part_ids, spark)

        def write_partitions(self, triples):
            with spans("sink.write"):
                super().write_partitions(triples)
            # run_partitioned reads the written partitions back next
            self._rb0 = time.time()
            spans.mark("sink.readback")

    return TracedSink(root, n_buckets=N_BUCKETS)


def commit(env: Env, wl: Workload, tmp: str, sink, spans, batch=None,
           crash_batch: int | None = None) -> tuple[dict, float]:
    """One ``run_partitioned`` call; returns (summary, wall seconds)."""
    from omop2obo_spark.plans.checkpoint import run_partitioned
    from omop2obo_spark.plans.pipeline import run_pipeline

    calls = [0]

    def build_triples(subset):
        calls[0] += 1
        with spans("build_triples"):
            with spans("run_pipeline"):
                res = run_pipeline(
                    env.spark, subset, env.lexicon, env.vocab_map,
                    mrconso=env.mrconso, mrsty=env.mrsty, ancestors=env.ancestors,
                    with_similarity=wl.with_similarity, dims=env.dims,
                    checkpoint_dir=f"{tmp}/ckpt",
                )
            env.last_result = res
            if crash_batch == calls[0]:
                raise InjectedCrash(f"injected crash in batch {calls[0]}")
        spans.mark("tail")
        return res.triples

    t0 = time.perf_counter()
    with spans("run_partitioned"):
        summary = run_partitioned(env.spark, env.transcripts, build_triples, sink,
                                  batch_partitions=batch)
    return summary, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

class Checker:
    """Holds the oracle and compares committed sinks against it."""

    def __init__(self, wl: Workload, input_dir: str, seed: int):
        import duckdb
        import numpy as np

        import oracle

        self.o = oracle
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.sample = None
        if wl.from_transcripts:
            src = f"read_parquet('{input_dir}/transcripts.parquet')"
            convs = [r[0] for r in self.con.execute(
                f"SELECT DISTINCT conv_id FROM {src} ORDER BY 1").fetchall()]
            rng = np.random.default_rng([seed, 3])
            pick = sorted(rng.choice(len(convs), LONG_SAMPLE_CONVS, replace=False))
            self.con.execute("CREATE TABLE sample_convs (conv_id VARCHAR)")
            self.con.executemany("INSERT INTO sample_convs VALUES (?)",
                                 [(convs[i],) for i in pick])
            self.con.execute(
                f"CREATE VIEW transcripts AS SELECT conv_id, turn_idx, text FROM {src} "
                "WHERE conv_id IN (SELECT conv_id FROM sample_convs)")
            self.sample = "sample_convs"
        else:
            self.con.execute(
                f"CREATE VIEW documents AS SELECT doc_id, text "
                f"FROM read_parquet('{input_dir}/documents.parquet')")
        self.oracle_rows = oracle.load_oracle(self.con, wl.with_similarity, wl.from_transcripts)

    def compare(self, sink_root: str) -> dict:
        self.o.committed_view(self.con, f"{sink_root}/triples", conv_filter=self.sample)
        return self.o.compare(self.con)

    def compare_exact_tiers(self, sink_root: str) -> dict:
        """Compare only the triples outside the TF-IDF tier (subjects of
        the fallback tier are ``<conv>:<turn>:sim:0``)."""
        self.o.committed_view(self.con, f"{sink_root}/triples", conv_filter=self.sample)
        not_sim = "WHERE subj NOT LIKE '%:sim:0'"
        self.con.execute(f"CREATE OR REPLACE VIEW c_exact AS SELECT * FROM committed {not_sim}")
        self.con.execute(f"CREATE OR REPLACE VIEW o_exact AS SELECT * FROM oracle {not_sim}")
        return self.o.compare(self.con, "c_exact", "o_exact")

    def digest(self, sink_root: str) -> str:
        self.o.committed_view(self.con, f"{sink_root}/triples", name="whole")
        return self.o.digest(self.con, "whole")

    def manifest_ok(self, sink) -> bool:
        """Every bucket's latest record is ``done`` and the recorded
        counts add up to the committed rows."""
        latest = {}
        for rec in sink.manifest():
            latest[rec["part_id"]] = rec
        if sorted(latest) != list(range(N_BUCKETS)):
            return False
        if any(r["status"] != "done" for r in latest.values()):
            return False
        self.o.committed_view(self.con, f"{sink.root}/triples", name="whole")
        rows = self.con.execute("SELECT count(*) FROM whole").fetchone()[0]
        return rows == sum(r.get("triples_out", 0) for r in latest.values())

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------

def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Stop any Spark context and the JVM pyspark launched, and wait for
    it to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts: a
    descendant whose parent exits first (a Python worker of the Spark
    daemon, a shell the JVM ran) is re-parented here instead of to init,
    so ``reap_children`` can stop it and wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    pids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return pids


def reap_children(grace_s: float = 5.0, limit_s: float = 20.0) -> None:
    """Stop every process still running under this one and wait until
    each has ended: SIGTERM first, SIGKILL after ``grace_s``."""
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # no children left, running or exited
        waited = time.monotonic() - t0
        if waited > limit_s:
            print(f"kgbench: children {_children()} did not end", file=sys.stderr)
            return
        sig = signal.SIGTERM if waited < grace_s else signal.SIGKILL
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_untraced(wl, tmp, input_dir, n_turns, seconds, checker) -> dict:
    from tracing import RssSampler, Spans, host_probe

    probes = host_probe(_cores())
    spans = Spans()
    setups = []
    env = None
    for i in range(N_SETUPS):
        if env is not None:
            env.spark.stop()
        t0 = time.perf_counter()
        env = setup(wl, tmp, input_dir, spans)
        setups.append(time.perf_counter() - t0)
    walls, digests, attempted, failed = [], [], 0, 0
    checks = {}
    with RssSampler(jvm_pid(env.spark)) as rss:
        t_end = time.perf_counter() + seconds
        k = 0
        while k == 0 or time.perf_counter() < t_end:
            root = f"{tmp}/sink{k}"
            sink = make_sink(root)
            attempted += 1
            try:
                _, wall = commit(env, wl, tmp, sink, spans)
            except Exception as exc:  # a failed commit is reported, not fatal
                failed += 1
                print(f"commit {k} failed: {exc!r}", file=sys.stderr)
                k += 1
                continue
            walls.append(wall)
            if not checks:
                checks = checker.compare(root)
                checks["manifest_ok"] = checker.manifest_ok(sink)
            digests.append(checker.digest(root))
            shutil.rmtree(root, ignore_errors=True)
            k += 1
    env.spark.stop()
    probes += host_probe(_cores())
    if not walls:
        raise RuntimeError("no commit succeeded")
    correct = (checks["diff"] == 0 and checks["dup_rows"] == 0 and checks["manifest_ok"]
               and len(set(digests)) == 1 and failed == 0)
    # The shared host's speed drifts by a third within minutes, and every
    # timing of a run drifts with it. The probe brackets the timed work, so
    # timings are reported at the reference speed: raw x PROBE_REF_S / probe.
    probe = statistics.median(probes)
    scale = PROBE_REF_S / probe
    setup_raw, wall_raw = statistics.median(setups), statistics.median(walls)
    metrics = {
        "setup_s": (setup_raw * scale, "s"),
        "turns_per_ref_s": (n_turns / (wall_raw * scale), "turns/s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
        "oracle_jaccard": (checks["jaccard"], "ratio"),
    }
    info = {"oracle_diff": checks["diff"], "oracle_rows": checker.oracle_rows,
            "committed_rows_checked": checks["rows"], "commits": len(walls),
            "setups_s": setups, "walls_s": walls, "probe_s": probe,
            "raw_setup_s": setup_raw, "raw_turns_per_s": n_turns / wall_raw}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "info": info}


def run_traced(wl, tmp, input_dir, n_turns, checker) -> dict:
    import tracing as T

    cores = _cores()
    plain = T.Spans()
    env = setup(wl, tmp, input_dir, plain)

    # crash and resume, untraced: 16 buckets in batches of 4, the third
    # batch's callback raises after its pending records, then a second
    # run_partitioned call resumes. It also warms the JVM for the pair of
    # commits below.
    rsink = make_sink(f"{tmp}/resume")
    t0 = time.perf_counter()
    try:
        commit(env, wl, tmp, rsink, plain, batch=RESUME_BATCH, crash_batch=RESUME_CRASH_BATCH)
        raise RuntimeError("the injected crash did not fire")
    except InjectedCrash:
        pass
    crash_wall = time.perf_counter() - t0
    latest = {}
    for rec in rsink.manifest():
        latest[rec["part_id"]] = rec["status"]
    redone = sorted(p for p, s in latest.items() if s == "pending")
    rsummary, resume_wall = commit(env, wl, tmp, rsink, plain, batch=RESUME_BATCH)
    resume_checks = checker.compare(f"{tmp}/resume")
    resume_exact = checker.compare_exact_tiers(f"{tmp}/resume")
    resume_manifest_ok = checker.manifest_ok(rsink)

    # the untraced commit tracing is compared against
    _, wall_u = commit(env, wl, tmp, make_sink(f"{tmp}/untraced"), plain)
    checks = checker.compare(f"{tmp}/untraced")
    digest_u = checker.digest(f"{tmp}/untraced")
    env.spark.stop()

    # traced session: event log on, spans tag every job
    ev_dir = f"{tmp}/events"
    spans = T.Spans()
    with spans("setup"):
        env = setup(wl, tmp, input_dir, spans, event_dir=ev_dir)
    sc = env.spark.sparkContext
    spans.sc = sc
    broadcasts = []
    real_broadcast = sc.broadcast

    def sized_broadcast(value):
        import pickle

        from omop2obo_spark.operators.similarity import TfidfModel

        kind = "model" if isinstance(value, TfidfModel) else "other"
        broadcasts.append((kind, len(pickle.dumps(value, pickle.HIGHEST_PROTOCOL))))
        return real_broadcast(value)

    sc.broadcast = sized_broadcast
    sink = make_sink(f"{tmp}/traced", spans)
    with spans("commit"):
        summary, wall_t = commit(env, wl, tmp, sink, spans)
    sc.broadcast = real_broadcast
    digest_t = checker.digest(f"{tmp}/traced")

    # link-tier counts of the traced commit, outside its timed region
    from pyspark.sql import functions as F

    with spans("inspect"):
        links = env.last_result.exact_links
        tier = (F.when(F.col("LEVEL") == "ancestor", "ancestor")
                .when(F.col("CODE_COLUMN").isin("UMLS_CODE", "UMLS_CUI"), "umls")
                .when(F.col("CODE_COLUMN").startswith("MENTION_"), "string")
                .otherwise("dbxref"))
        tiers = {r["t"]: r["n"] for r in links.groupBy(tier.alias("t"))
                 .agg(F.count("*").alias("n")).collect()}
    env.last_result = None
    done = [r for r in rsink.manifest() if r["status"] == "done"]
    batch_walls = {tuple(r["batch"]): r["wall_ms"] / 1000 for r in done}
    env.spark.stop()  # flushes the event log

    jobs = T.read_event_log(ev_dir)
    commit_jobs = [j for j in jobs if (j.span or "").startswith("commit/")]
    groups = T.attribute(commit_jobs)
    m: dict[str, tuple[float, str]] = {}

    def cost(layer: str, keys: tuple[str, ...]):
        c = T.layer_costs(groups.get(layer, []), cores)
        for k in keys:
            unit = {"wall_s": "s", "task_s": "s", "core_util": "ratio"}.get(k, "MB")
            m[f"{layer}.{k}"] = (c[k], unit)
        return c

    m["session.start_s"] = (spans.total("setup/", "/get_spark"), "s")
    m["linking.dims_s"] = (spans.total("setup/", "/from_lexicon"), "s")
    mention = cost("mention", ("wall_s", "task_s", "py_mb", "core_util"))
    m["mention.mentions_out"] = (mention["out_rows"], "rows")
    cost("linking", ("wall_s", "task_s", "shuffle_mb", "core_util"))
    for t in ("umls", "dbxref", "string", "ancestor"):
        m[f"linking.links_{t}"] = (tiers.get(t, 0), "links")
    cost("sim", ("wall_s", "task_s", "shuffle_mb", "spill_mb", "py_mb", "core_util"))
    models = [b for k, b in broadcasts if k == "model"]
    m["sim.model_mb"] = (sum(models) / 1e6, "MB")
    if wl.with_similarity:
        checker.o.committed_view(checker.con, f"{tmp}/traced/triples")
        sc_ = checker.o.sim_counts(checker.con, wl.from_transcripts)
        n_unl, n_dist, n_hit = sc_["unlinked"], sc_["distinct_docs"], sc_["hit_docs"]
    else:
        n_unl = n_dist = n_hit = 0
    m["sim.unlinked_frac"] = (n_unl / n_turns, "ratio")
    m["sim.distinct_frac"] = (n_dist / n_unl if n_unl else 0.0, "ratio")
    m["sim.hit_rate"] = (n_hit / n_dist if n_dist else 0.0, "ratio")
    cost("compile", ("wall_s", "task_s", "shuffle_mb", "core_util"))
    checker.o.committed_view(checker.con, f"{tmp}/traced/triples", name="whole")
    m["compile.mappings_out"] = (checker.scalar(
        "SELECT count(DISTINCT subj) FROM whole WHERE pred = 'omop2obo:hasMappingCategory'"),
        "mentions")
    cost("tail", ("wall_s", "task_s", "shuffle_mb", "core_util"))

    pipe_jobs = [j for j in commit_jobs if "/run_pipeline" in (j.span or "")]
    m["pipeline.driver_s"] = (spans.total("commit/", "/run_pipeline")
                              - T.union_wall(pipe_jobs), "s")
    m["pipeline.ckpt_mb"] = (sum(j.out_b for j in commit_jobs if j.ckpt) / 1e6, "MB")
    m["pipeline.triples_out"] = (summary["rows"], "triples")

    files = list(Path(f"{tmp}/traced/triples").rglob("*.parquet"))
    m["sink.write_s"] = (spans.total("commit/", "/sink.write"), "s")
    m["sink.readback_s"] = (sink.readback_s, "s")
    m["sink.manifest_s"] = (spans.total("commit/", "/sink.manifest"), "s")
    m["sink.bytes_per_triple"] = (sum(f.stat().st_size for f in files) / summary["rows"], "B")
    m["sink.files"] = (len(files), "files")

    m["resume.commits"] = (len(batch_walls), "commits")
    m["resume.commit_s"] = (statistics.median(batch_walls.values()), "s")
    m["resume.skipped_buckets"] = (len(rsummary["skipped"]), "buckets")
    m["resume.redone_buckets"] = (len(redone), "buckets")
    m["resume.resume_s"] = (resume_wall, "s")
    m["resume.turns_per_s"] = (n_turns / (crash_wall + resume_wall), "turns/s")
    m["resume.oracle_diff"] = (resume_checks["diff"], "triples")

    all_commit = T.layer_costs(commit_jobs, cores)
    m["spark.gc_s"] = (all_commit["gc_s"], "s")
    m["spark.core_util"] = (all_commit["task_s"] / (wall_t * cores), "ratio")
    m["trace.overhead_frac"] = (wall_t / wall_u - 1.0, "ratio")
    m["check.oracle_diff"] = (checks["diff"], "triples")

    correct = (checks["diff"] == 0 and checks["dup_rows"] == 0 and digest_t == digest_u
               and resume_exact["diff"] == 0 and resume_manifest_ok
               and resume_checks["dup_rows"] == 0)
    info = {"digest_untraced": digest_u, "digest_traced": digest_t,
            "wall_untraced_s": wall_u, "wall_traced_s": wall_t,
            "resume_extra": resume_checks["extra"], "resume_missing": resume_checks["missing"],
            "resume_exact_tier_diff": resume_exact["diff"], "redone": redone,
            "fused": "tail = jobs run_partitioned runs outside the callback and the sink "
                     "(the persisted-triples probe): the triple build, plus linking and "
                     "compile when the TF-IDF tier is off; sim includes the scoring jobs "
                     "of the mappings checkpoint, compile the rest of it"}
    # commits tried: the crashed attempt, its resume, untraced, traced (the
    # crash is the injected one, not a failure)
    return {"correct": correct, "attempted": 4, "failed": 0, "metrics": m, "info": info}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(REPO))
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import omop2obo_spark  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"kgbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[args.workload]

    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    tmp = str(REPO / ".kgbench_tmp" / f"{wl.name}-{os.getpid()}")
    os.makedirs(f"{tmp}/input", exist_ok=True)
    os.makedirs(f"{tmp}/tmp", exist_ok=True)
    # the package must be importable in the Python workers too (the
    # TF-IDF model broadcast is unpickled there), and every scratch file
    # of Spark, the JVM and Python stays under the run's temp root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["TMPDIR"] = f"{tmp}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData"
    try:
        input_dir = f"{tmp}/input"
        n_turns = wl.make_input(input_dir, args.seed)
        checker = Checker(wl, input_dir, args.seed)
        if args.trace:
            out = run_traced(wl, tmp, input_dir, n_turns, checker)
        else:
            out = run_untraced(wl, tmp, input_dir, n_turns, args.seconds, checker)
    finally:
        try:
            stop_jvm()
        finally:
            # anything the JVM or the probes left behind is stopped too
            reap_children()
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(REPO / ".kgbench_tmp")
            except OSError:
                pass

    print(f"workload {wl.name} seed {args.seed} turns {n_turns} "
          f"trace {args.trace} correct {out['correct']}")
    for k, v in out["info"].items():
        print(f"  {k}: {v}")
    for name, (value, unit) in out["metrics"].items():
        print(f"{name:28s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": bool(out["correct"]), "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
