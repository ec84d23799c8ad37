#!/usr/bin/env python3
"""Cache-isolated benchmark of the tempel_spark entity-resolution engine.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. A run generates seeded inputs, then
drives the engine only through its public functions, as one
closed-loop client. One operation of `er_batch` is a batch rebuild of a
synthetic transcript corpus (`run_pipeline` plus a census of its
result); one operation of `operator_queries` is a pass over the
headline queries of the `QUERIES` registry. Operations repeat until
--seconds have passed. Spark's cache is cleared before every timed
operation, and every result is checked against the values stored in
perfbench/expected.json. The last stdout line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1
(see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from meter import descendants, read_jobs, summarize, tree_cpu_s  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")

# er_batch: the corpus is written in two slices by conversation range;
# slice 0 (the first `warm` conversations) is the warm-up's input, and
# the timed rebuild reads both.
CORPUS = {"convs": 6000, "entities": 300, "warm": 200}
# A seed picks one of N_CORPORA input sets (seed % N_CORPORA), so every
# seed has stored expected values; the full seed permutes query order.
N_CORPORA = 5
SNAPSHOTS = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]
PAIR_CAP = 150
MIN_F1 = 0.5
HEADLINE = [
    "q01_pricing_summary", "q05_nation_revenue", "q_alias_table", "q_er_components",
    "q_minhash_signature", "q_cosine_topk", "q_asof_stable", "q_dedup_exact",
    "q_dataset_balance", "q_title_scd",
]
STAGES = ["mentions", "surfaces", "norms", "blocks", "pairs", "scored", "surface_components", "components"]
# Times are CPU seconds of the benchmark's process tree (the Spark JVM
# and its Python workers): on a shared 4-core host the wall time of the
# same operation swings by a third from one minute to the next, its CPU
# time by a few percent. Wall times are per-layer metrics.
END_TO_END = {"setup_s": "s", "cpu_s": "s", "driver_rss_mb": "MB"}
PER_LAYER = (
    ["setup.wall_s", "op.wall_s"]
    + [f"{s}.{f}" for s in STAGES for f in ("wall_s", "jobs", "tasks", "busy_s", "shuffle_write_bytes", "rows_out")]
    + ["scored.decisive_ratio", "quality.pairwise_f1", "run.mentions_per_s", "run.jobs", "run.build_jobs",
       "run.driver_idle_s", "run.cache_mem_bytes", "run.tracing_overhead_s", "jvm.peak_rss_mb"]
    + [f"q.{q}.{f}" for q in HEADLINE for f in ("wall_s", "build_jobs", "jobs", "shuffle_write_bytes")]
)
# The layers (metric-name prefixes) each workload runs; per-layer
# metrics of the other workload's layers read 0.
LAYERS = {
    "er_batch": set(STAGES) | {"setup", "op", "quality", "run", "jvm"},
    "operator_queries": {"setup", "op", "q", "jvm"},
}
WORKLOADS = sorted(LAYERS)


def now_ms() -> float:
    return time.time() * 1000.0


def unit(metric: str) -> str:
    name = metric.rsplit(".", 1)[-1]
    if "bytes" in name:
        return "bytes"
    if "ratio" in name or "f1" in name:
        return "ratio"
    for suffix, u in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "count"


def census(df) -> tuple[int, int, int]:
    """Row count, distinct components and an order-independent digest
    of the (snapshot_ts, mention_id, component) assignment."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("c"),
        F.expr("bit_xor(xxhash64(snapshot_ts, mention_id, component))").alias("h"),
    ).collect()[0]
    return r["n"], r["c"], r["h"]


def digest(df) -> tuple[int, int]:
    """Row count and order-independent digest of a query result.
    Floating columns are rounded to 3 decimals first, so the digest does
    not depend on the order a sum was added up in."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [F.round(F.col(f"`{f.name}`"), 3) if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
    return r["n"], r["h"] or 0


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.corpus = args.seed % N_CORPORA
        self.work = work
        self.trans_dir = os.path.join(work, "data", "transcripts")
        self.gold_dir = os.path.join(work, "data", "gold")
        self.tables_dir = os.path.join(work, "data", "tables")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.windows: list[dict] = []  # operation time windows, for the traced run
        self.observed: dict[str, int] = {}
        self.expected_key = f"{args.workload}/{self.corpus}"
        self.expected: dict[str, int] = self.stored().get(self.expected_key, {})
        self.n_gold = 0
        self.passes = 0

    # -- bookkeeping ----------------------------------------------------
    @staticmethod
    def stored() -> dict:
        if not os.path.exists(EXPECTED):
            return {}
        with open(EXPECTED) as fh:
            return json.load(fh)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)
            raise RuntimeError(f"correctness check failed: {what}")

    def gate(self, key: str, value: int) -> None:
        """Compare one result value with the stored expected value for
        this workload and input set (with --record, store it instead)."""
        value = int(value)
        self.observed[key] = value
        if not self.args.record:
            want = self.expected.get(key)
            self.check(want == value, f"{key}: {value} != expected {want}")

    def op(self, kind: str, fn):
        """One timed operation: cleared cache, its own job group, failures counted."""
        self.attempted += 1
        self.spark.catalog.clearCache()
        if not self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
            raise RuntimeError("CacheManager not empty at the start of a timed operation")
        self.spark.sparkContext.setJobGroup(f"op{self.attempted}-{kind}", kind)
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted and the loop goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    # -- set-up -----------------------------------------------------------
    def start_session(self) -> None:
        from tempel_spark.session import get_spark

        local = os.path.join(self.work, "local")
        cpus = max(1, min(4, len(os.sched_getaffinity(0))))
        java_opts = f"-Duser.timezone=UTC -Djava.io.tmpdir={local} -Dderby.system.home={local}"
        self.spark = get_spark(
            "perfbench", cpus=cpus, driver_memory="3g",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.executor.extraJavaOptions": java_opts,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def generate(self) -> None:
        """er_batch: the seeded corpus → transcripts partitioned by slice
        and a separate gold file the engine never reads.
        operator_queries: the seeded query tables."""
        if self.args.workload == "operator_queries":
            from tables import write_tables

            write_tables(self.tables_dir, self.corpus)
            return
        from pyspark.sql import functions as F

        from tempel_spark.synth import synth_transcripts

        t = synth_transcripts(
            self.spark, n_convs=CORPUS["convs"], n_entities=CORPUS["entities"], n_snapshots=3,
            seed=self.corpus, with_gold=True,
        )
        cid = F.substring("conv_id", 6, 6).cast("int")
        t = t.withColumn("slice", (cid >= CORPUS["warm"]).cast("int")).persist()
        t.drop("gold_entity_id", "surface").write.mode("overwrite").partitionBy("slice").parquet(self.trans_dir)
        t.filter(F.col("gold_entity_id").isNotNull()).select(
            "conv_id", "turn_idx", "gold_entity_id"
        ).write.mode("overwrite").parquet(self.gold_dir)
        t.unpersist()
        # every turn that carries an anchor yields one mention
        self.n_gold = self.spark.read.parquet(self.gold_dir).count()

    def warm_up(self) -> None:
        """er_batch: one untimed, unchecked rebuild of slice 0, so the timed
        rebuilds start with warm JIT, code-generation and Python-worker
        caches. operator_queries has no warm-up: a pass costs as much as
        the timed one, and the run budget has no room for it."""
        from tempel_spark.plans.pipeline import run_pipeline

        census(run_pipeline(self.spark, self.transcripts("slice=0"), snapshots=SNAPSHOTS,
                            pair_cap=PAIR_CAP)["components"])
        self.spark.catalog.clearCache()

    def setup(self) -> float:
        """Session start, input generation and warm-up, measured once.
        Returns the CPU seconds they took."""
        t0, cpu = time.perf_counter(), tree_cpu_s()
        self.start_session()
        self.add("setup.session_s", time.perf_counter() - t0)
        t = time.perf_counter()
        self.generate()
        self.add("setup.gen_s", time.perf_counter() - t)
        if self.args.workload == "er_batch":
            t = time.perf_counter()
            self.warm_up()
            self.add("setup.warmup_s", time.perf_counter() - t)
        self.add("setup.wall_s", time.perf_counter() - t0)
        return tree_cpu_s() - cpu

    # -- operations -----------------------------------------------------
    def transcripts(self, part: str = ""):
        return self.spark.read.parquet(os.path.join(self.trans_dir, part)).drop("slice")

    def rebuild(self, traced: bool = False) -> None:
        """One batch rebuild of the whole corpus plus the census of its
        result. profile=True (traced) adds a count per stage."""
        from tempel_spark.plans.pipeline import run_pipeline

        def go():
            start = now_ms()
            t, cpu = time.perf_counter(), tree_cpu_s()
            res = run_pipeline(self.spark, self.transcripts(), snapshots=SNAPSHOTS, pair_cap=PAIR_CAP, profile=traced)
            built = now_ms()
            n, c, h = census(res["components"])
            wall, cpu = time.perf_counter() - t, tree_cpu_s() - cpu
            w = {"kind": "rebuild_traced" if traced else "rebuild", "start": start, "end": now_ms(),
                 "built": built, "wall": wall}
            self.windows.append(w)
            self.check(n == self.n_gold, f"n_mentions {n} != gold anchors {self.n_gold}")
            self.gate("rebuild.n_mentions", n)
            self.gate("rebuild.n_components", c)
            self.gate("rebuild.digest", h)
            if traced:
                w["timings"] = res["timings"]
                self.stage_rows(res)
            else:
                self.add("op.wall_s", wall)
                self.add("cpu_s", cpu)
                self.add("run.mentions_per_s", n / wall)
            if traced and "quality.pairwise_f1" not in self.samples:
                self.quality(res)

        self.op("rebuild", go)

    def quality(self, res) -> None:
        """Untimed, once per traced run: hidden-gold pairwise F1 of the
        rebuild, micro-averaged over snapshots, and the scored pair count
        (reported, not gated: pair pruning may change it)."""
        from pyspark.sql import functions as F

        from tempel_spark.operators.metrics import pairwise_f1

        gold = self.spark.read.parquet(self.gold_dir)
        g = res["mentions"].join(gold, ["conv_id", "turn_idx"]).select(
            F.col("mention_id").alias("node"), "gold_entity_id"
        )
        pred = res["components"].withColumnRenamed("mention_id", "node")
        r = pairwise_f1(pred, g, group_cols=["snapshot_ts"]).agg(
            F.sum("tp").alias("tp"), F.sum("pred_pairs").alias("p"), F.sum("gold_pairs").alias("g")
        ).collect()[0]
        p, rc = r["tp"] / max(r["p"], 1), r["tp"] / max(r["g"], 1)
        f1 = 2 * p * rc / (p + rc) if p + rc else 0.0
        self.add("quality.pairwise_f1", f1)
        self.add("info.n_pairs_scored", res["scored"].count())
        self.check(f1 >= MIN_F1, f"pairwise F1 {f1:.4f} < {MIN_F1}")

    def stage_rows(self, res) -> None:
        """Untimed, after a traced rebuild: rows out of each (cached)
        stage, the decisive share of scored pairs and the cache footprint."""
        from pyspark.sql import functions as F

        for s in STAGES:
            self.add(f"{s}.rows_out", res[s].count())
        n = res["scored"].count()
        decisive = res["scored"].filter(F.col("is_match") | F.col("is_partial")).count()
        self.add("scored.decisive_ratio", decisive / max(n, 1))
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.add("run.cache_mem_bytes", sum(i.memSize() for i in infos))

    def queries(self) -> None:
        """One pass of the headline queries in a seed-permuted order.
        Each query is one timed operation: build the DataFrame, then
        compute its row count and digest as the terminal action."""
        from tempel_spark.plans.testdata_queries import QUERIES

        self.passes += 1
        order = list(HEADLINE)
        random.Random(self.args.seed * 1000 + self.passes).shuffle(order)
        total = [0.0, 0.0]
        for q in order:
            def go(q=q):
                start = now_ms()
                t, cpu = time.perf_counter(), tree_cpu_s()
                df = QUERIES[q](self.spark, self.tables_dir)
                built = now_ms()
                n, h = digest(df)
                wall, cpu = time.perf_counter() - t, tree_cpu_s() - cpu
                self.windows.append({"kind": "query", "q": q, "start": start, "built": built, "end": now_ms(),
                                     "wall": wall})
                self.gate(f"q.{q}.rows", n)
                self.gate(f"q.{q}.digest", h)
                return wall, cpu

            spent = self.op("query", go)
            if spent is None:
                return
            total = [a + b for a, b in zip(total, spent)]
        self.add("op.wall_s", total[0])
        self.add("cpu_s", total[1])

    # -- the run --------------------------------------------------------
    def run(self) -> dict:
        if not self.args.record and not self.expected:
            raise SystemExit(f"no expected values for {self.expected_key} in {EXPECTED}")
        setup_s = self.setup()
        deadline = time.perf_counter() + self.args.seconds
        while True:
            if self.args.workload == "er_batch":
                self.rebuild()
                if self.args.trace:
                    self.rebuild(traced=True)
            else:
                self.queries()
            if time.perf_counter() >= deadline:
                break
        if self.args.record:
            self.record()
        if self.args.trace:
            metrics = self.layer_metrics()
        else:
            med = {k: statistics.median(v) for k, v in self.samples.items()}
            med["setup_s"] = setup_s
            med["driver_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            metrics = {k: (med.get(k), u) for k, u in END_TO_END.items()}
        print(json.dumps({"workload": self.args.workload, "seed": self.args.seed, "corpus": self.corpus,
                          "observed": self.observed, "errors": self.errors, "samples": self.samples}),
              file=sys.stderr)
        correct = not self.errors and self.failed == 0 and all(v is not None for v, _ in metrics.values())
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def record(self) -> None:
        """Store this run's gate values as the expected values of its
        workload and input set."""
        if self.errors or self.failed:
            raise SystemExit("not recording: the run had failures")
        stored = self.stored()
        stored[self.expected_key] = self.observed
        with open(EXPECTED, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
            fh.write("\n")

    def layer_metrics(self) -> dict:
        """Per-layer metrics of a traced run: the status-store counters of
        each operation window (stages of a traced rebuild are split by
        the stage walls run_pipeline(profile=True) returns, in order),
        medians over the run's repetitions."""
        jobs = read_jobs(self.spark)
        per: dict[str, list[float]] = {k: v for k, v in self.samples.items() if k in PER_LAYER}

        def put(name, v):
            per.setdefault(name, []).append(float(v))

        untraced, traced = [], []
        for w in self.windows:
            s = summarize(jobs, w["start"], w["end"])
            if w["kind"] == "rebuild":
                untraced.append(w["wall"])
                put("run.jobs", s["jobs"])
                put("run.driver_idle_s", s["driver_idle_s"])
                put("run.build_jobs", summarize(jobs, w["start"], w["built"])["jobs"])
            elif w["kind"] == "rebuild_traced":
                traced.append(w["wall"])
                b = w["start"]
                for st in STAGES:
                    e = b + w["timings"][st] * 1000.0
                    ss = summarize(jobs, b, e)
                    put(f"{st}.wall_s", w["timings"][st])
                    for f in ("jobs", "tasks", "busy_s", "shuffle_write_bytes"):
                        put(f"{st}.{f}", ss[f])
                    b = e
            else:  # query
                q = w["q"]
                put(f"q.{q}.wall_s", w["wall"])
                put(f"q.{q}.build_jobs", summarize(jobs, w["start"], w["built"])["jobs"])
                put(f"q.{q}.jobs", s["jobs"])
                put(f"q.{q}.shuffle_write_bytes", s["shuffle_write_bytes"])
        if traced and untraced:
            put("run.tracing_overhead_s", statistics.median(traced) - statistics.median(untraced))
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            put("jvm.peak_rss_mb", next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:")) / 1024.0)
        ran = LAYERS[self.args.workload]

        def value(k):
            if k in per:
                return statistics.median(per[k])
            return None if k.split(".")[0] in ran else 0.0

        return {k: (value(k), unit(k)) for k in PER_LAYER}


def adopt_orphans() -> None:
    """Become the reaper of every descendant whose parent ends first
    (Linux PR_SET_CHILD_SUBREAPER), so that each can be waited for."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(spark) -> None:
    """Stop Spark, its gateway JVM and every process under this one, and
    wait until each has ended. Left alone, the JVM would exit only after
    this process, when it reads EOF on its stdin."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second SIGTERM must not cut this short
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # whatever is left (Python workers, orphans adopted by adopt_orphans):
    # SIGTERM, SIGKILL after 10 s, reaped as they end
    start = time.monotonic()
    sent: dict[int, int] = {}
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants()
        if not left:
            return
        waited = time.monotonic() - start
        if waited > 60:
            print(f"processes {left} did not end", file=sys.stderr)
            return
        sig = signal.SIGKILL if waited > 10 else signal.SIGTERM
        for pid in left:
            if sent.get(pid) != sig:
                sent[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's gate values in perfbench/expected.json instead of checking them")
    args = ap.parse_args()

    # the engine is imported from the checkout; Spark's Python workers
    # need the same path
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import tempel_spark  # noqa: F401  (fail before any work when the engine is absent)

    # every way out runs the `finally` below, which stops what the run started
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGHUP, _terminate)
    adopt_orphans()

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    local = os.path.join(work, "local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        stop_processes(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
