"""The three Spark workloads: TPCx-BB power, curation power and 4-stream
mixed throughput.

Every number here is taken at the benchmark's own calls into the
product's public functions: `session.get_spark`, `datagen.write_dataset`,
`testdata_gen.write_testdata`, `runner.run_benchmark`,
`runner.run_registry_throughput` and the registry's `QuerySpec.fn`. A
traced pass additionally wraps `runner.tpcxbb_query`,
`registry.collect_boundary` and `registry.all_specs` for the length of
that pass, tags each construct and execute phase with its own Spark job
group, and reads stage metrics for those groups from the status store.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import os
import shutil
import signal
import threading
import time
from pathlib import Path

from perfbench import harness
from perfbench.harness import QueryRun, Tracer

#: Generated TPCx-BB data (datagen.write_dataset scale factor).
TPCXBB_SF = 1.0
#: Generated TPC-H-style corpus with events, documents and embeddings
#: (testdata_gen.write_testdata scale).
CORPUS_SF = 0.01

#: TPCx-BB queries of the power workload: three sessionize queries, the
#: naive-Bayes ML query and three relational ones -- what fits the
#: per-run time budget (README.md, "Why these lists").
TPCXBB_QUERIES = ("q02", "q03", "q04", "q09", "q14", "q22", "q28")

#: Curation entries: one bench-tagged registry entry per operators module
#: the curation surface leans on, the two heaviest (graph, linkage)
#: included.
CURATION_ENTRIES = (
    "pagerank_neardup", "jaccard_join_prefix", "dedup_exact",
    "text_quality", "holt_trend_daily",
)

#: The six cheap relational/text entries of the throughput workload
#: (the same set as bench.py's throughput phase).
THROUGHPUT6 = (
    "pricing_summary", "revenue_by_nation", "agg_stats",
    "token_counts", "sessionize_events", "window_rank_orders",
)
N_STREAMS = 4

#: Query -> the operators module its wall is attributed to. Queries
#: built from plain DataFrame code are absent.
MODULE_OF = {
    "q02": "sessionize", "q03": "sessionize", "q04": "sessionize",
    "q28": "ml",
    "pagerank_neardup": "graph", "jaccard_join_prefix": "linkage",
    "dedup_exact": "dedup", "text_quality": "text",
    "holt_trend_daily": "temporal",
    "token_counts": "text", "sessionize_events": "sessionize",
}

_STAGE_KEYS = ("task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "input_bytes")


def _error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}" \
        if str(exc) else type(exc).__name__


class StageProbe:
    """Spark jobs, stages and stage metrics for one job group, read from
    the status tracker and the status store (both work with the UI
    off). The store keeps only the last ~1000 stages, so callers read a
    group soon after its jobs finish."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every finished
        job's events to the status store."""
        self.bus.waitUntilEmpty(10_000)

    def read(self, group: str) -> dict[str, float]:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(("jobs", "stages", "tasks", *_STAGE_KEYS), 0.0)
        out["jobs"] = float(len(jobs))
        stage_ids = set()
        for job in jobs:
            info = self.tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never ran
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
            out["input_bytes"] += sd.inputBytes()
        return out


@contextlib.contextmanager
def _patched(module, name: str, replacement):
    original = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield original
    finally:
        setattr(module, name, original)


def _parquet_checks(paths: dict[str, list[str]]) -> dict[str, dict]:
    """Fingerprints of written results: {query: [parquet dirs]} ->
    {check key: fingerprint}, the key being the dir name without its
    `-results.parquet` suffix."""
    import pyarrow.parquet as pq

    out = {}
    for q, dirs in paths.items():
        if not dirs:
            out[q] = {"error": "no output written"}
        for p in dirs:
            key = os.path.basename(p).removesuffix("-results.parquet")
            try:
                out[key] = harness.arrow_fingerprint(pq.read_table(p))
            except Exception as exc:  # unreadable output is a failure
                out[key] = {"error": _error(exc)}
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class SparkWorkload(harness.Workload):
    """Shared session lifecycle, per-query tracing and pass summaries."""

    construct_layer = "registry"

    def __init__(self, work_dir: Path):
        self.work = work_dir
        self.spark = None
        self.probe: StageProbe | None = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self._local = threading.local()
        self._tracer: Tracer | None = None

    # ---------------------------------------------------- session

    def start_session(self) -> float:
        t0 = time.perf_counter()
        from gpu_bdb_spark.session import TUNED_CONF, get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # The heap is committed and touched in full at start: G1 otherwise
        # grows it, and touches its pages, at moments set by GC timing,
        # and peak RSS wanders by 10-25% between identical runs. C1 only:
        # within one run's budget C2 would still be compiling during the
        # timed passes, taking CPU from the task slots at moments set by
        # compile timing (README.md, "JVM settings"). C1 alone defaults
        # to a 48 MB code cache, which Spark's generated code fills --
        # the JVM then stops compiling -- so it gets the tiered default.
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        java_opts = (TUNED_CONF["spark.driver.extraJavaOptions"]
                     + f" -Xms{heap} -XX:+AlwaysPreTouch"
                     " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
                     f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            extra_conf={"spark.scheduler.mode": "FAIR",
                        "spark.driver.extraJavaOptions": java_opts})
        self.probe = StageProbe(self.spark)
        return time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started (the JVM and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        pids = [p for p in harness.descendants(os.getpid())
                if p != os.getpid()]
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        for pid in pids:
            while harness.alive(pid):
                if time.monotonic() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)
        self.spark = None

    # ---------------------------------------------------- tracing

    def _group(self, gid: str | None) -> None:
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(gid, gid)

    def _traced_boundary(self, original):
        def collect_boundary(spark):
            t0 = time.perf_counter()
            try:
                return original(spark)
            finally:
                t1 = time.perf_counter()
                self._tracer.add("boundary", t0, t1)
                rec = getattr(self._local, "rec", None)
                if rec is not None:
                    rec["boundary_s"] += t1 - t0
                else:
                    self._pass_boundary_s += t1 - t0
        return collect_boundary

    def _begin(self, qid: str, gid: str) -> dict:
        rec = {"query": qid, "gid": gid, "construct_s": 0.0,
               "boundary_s": 0.0, "execute_s": 0.0, "bytes_written": 0.0}
        self._local.rec = rec
        self._records.append(rec)
        return rec

    def _read_stages(self) -> None:
        """Fill stage metrics of every finished record, then forget the
        records (bounded by one query, or one throughput pass)."""
        self.probe.settle()
        for rec in self._records:
            con = self.probe.read(rec["gid"] + ":construct")
            exe = self.probe.read(rec["gid"] + ":execute")
            rec["construct_jobs"] = con["jobs"]
            for k in ("jobs", "stages", "tasks"):
                rec[f"execute_{k}"] = exe[k]
            for k in _STAGE_KEYS:
                rec[k] = con[k] + exe[k]
            self._done.append(rec)
        self._records = []

    def _pass_layers(self, wall: float) -> dict[str, float]:
        def total(key: str) -> float:
            return float(sum(r.get(key, 0.0) for r in self._done))

        c = self.construct_layer
        out = {
            f"{c}.construct_s": total("construct_s"),
            f"{c}.construct_jobs": total("construct_jobs"),
            "registry.boundary_s": total("boundary_s")
            + self._pass_boundary_s,
            "execute.wall_s": total("execute_s"),
            "execute.jobs": total("execute_jobs"),
            "execute.stages": total("execute_stages"),
            "execute.tasks": total("execute_tasks"),
            "execute.bytes_written": total("bytes_written"),
        }
        for k in _STAGE_KEYS:
            out[f"stages.{k}"] = total(k)
        task = out["stages.task_s"]
        out["stages.cpu_ratio"] = out["stages.cpu_s"] / task if task else 0.0
        out["stages.idle_slot_s"] = wall * self.cores - task
        return out

    @staticmethod
    def _walls_by_module(runs: list[QueryRun]) -> dict[str, float]:
        out = {f"operators.{m}.wall_s": 0.0
               for m in harness.OPERATOR_MODULES}
        for q in runs:
            m = MODULE_OF.get(q.query)
            if m is not None:
                out[f"operators.{m}.wall_s"] += q.wall_s
        return out

    def run_pass(self, idx, order, tracer, traced):
        self._tracer = tracer
        self._records: list[dict] = []
        self._done: list[dict] = []
        self._pass_boundary_s = 0.0
        w0 = time.perf_counter()
        runs, detail, streams = self._run(idx, order, tracer, traced)
        wall = time.perf_counter() - w0
        layers = self._walls_by_module(runs)
        walls = list(streams.values())
        layers["runner.stream_wall_max_s"] = max(walls)
        layers["runner.stream_skew"] = (max(walls) / min(walls)
                                        if min(walls) > 0 else 0.0)
        if traced:
            layers.update(self._pass_layers(wall))
        detail["order"] = order
        return runs, layers, detail

    # -------------------------------------------- serial power loop

    def _run(self, idx, order, tracer, traced):
        """One client running `order` serially; returns query runs, the
        detail record and {stream: wall}."""
        runs = []
        for q in order:
            t0 = time.perf_counter()
            err = None
            with tracer.span("query", query=f"{idx}:{q}") as span:
                try:
                    if traced:
                        self._traced_one(idx, q, span)
                    else:
                        self._execute(q)
                except Exception as exc:  # a failing query is counted
                    err = _error(exc)
            runs.append(QueryRun(idx, 0, q, time.perf_counter() - t0, err))
        detail = {"per_query": {r.query: r.wall_s for r in runs}}
        return runs, detail, {0: sum(r.wall_s for r in runs)}

    def _traced_one(self, idx: int, q: str, span) -> None:
        raise NotImplementedError

    def _execute(self, q: str) -> None:
        raise NotImplementedError


class TpcxbbPower(SparkWorkload):
    """The TPCx-BB power test: `TPCXBB_QUERIES` serially on one client
    over `datagen` output, each result written to parquet by
    `runner.run_benchmark(..., output_dir=...)`."""

    name = "tpcxbb_power"
    queries = TPCXBB_QUERIES
    construct_layer = "tpcxbb"

    def setup(self, tracer, seed):
        from gpu_bdb_spark import datagen

        with tracer.span("session"):
            start_s = self.start_session()
        self.data = str(self.work / "tpcxbb")
        self.out = str(self.work / "results")
        t0 = time.perf_counter()
        with tracer.span("datagen"):
            datagen.write_dataset(self.spark, self.data, sf=TPCXBB_SF)
        return {"session.start_s": start_s,
                "datagen.write_s": time.perf_counter() - t0}

    def _execute(self, q: str) -> None:
        from gpu_bdb_spark import runner

        runner.run_benchmark(self.spark, data_dir=self.data,
                             queries=[int(q[1:])], output_dir=self.out)

    def _outputs(self, q: str) -> list[str]:
        return sorted(glob.glob(f"{self.out}/{q}-*results.parquet"))

    def _traced_one(self, idx, q, span):
        from gpu_bdb_spark import runner

        rec = self._begin(q, f"pb:{idx}:{q}")
        marks = {}

        def traced_query(n):
            fn = original(n)

            def call(spark, tables, **kw):
                with self._tracer.span("construct"):
                    self._group(rec["gid"] + ":construct")
                    t0 = time.perf_counter()
                    out = fn(spark, tables, **kw)
                    marks["construct_end"] = time.perf_counter()
                    rec["construct_s"] = marks["construct_end"] - t0
                self._group(rec["gid"] + ":execute")
                return out
            return call

        with _patched(runner, "tpcxbb_query", traced_query) as original:
            try:
                self._execute(q)
            finally:
                self._group(None)
                end = time.perf_counter()
                if "construct_end" in marks:
                    rec["execute_s"] = end - marks["construct_end"]
                    self._tracer.add("execute", marks["construct_end"],
                                     end, parent=span)
                rec["bytes_written"] = float(sum(
                    _dir_bytes(p) for p in self._outputs(q)))
                self._read_stages()

    def check(self):
        return _parquet_checks({q: self._outputs(q) for q in self.queries})


class RegistryWorkload(SparkWorkload):
    """Workloads over registry entries on the generated corpus."""

    def setup(self, tracer, seed):
        from gpu_bdb_spark import testdata_gen
        from gpu_bdb_spark.queries.registry import all_specs

        with tracer.span("session"):
            start_s = self.start_session()
        self.data = str(self.work / "corpus")
        t0 = time.perf_counter()
        with tracer.span("datagen"):
            testdata_gen.write_testdata(self.spark, self.data, CORPUS_SF)
        gen_s = time.perf_counter() - t0
        self.specs = all_specs()
        return {"session.start_s": start_s, "testdata_gen.write_s": gen_s}

    def check(self):
        out = {}
        for name in self.queries:
            try:
                df = self.specs[name].fn(self.spark, self.data)
                out[name] = harness.arrow_fingerprint(df.toArrow())
            except Exception as exc:
                out[name] = {"error": _error(exc)}
        return out


class CurationPower(RegistryWorkload):
    """Curation power test: `CURATION_ENTRIES` serially on one client,
    each result written to parquet (the check then reads the files
    instead of running every entry once more)."""

    name = "curation_power"
    queries = CURATION_ENTRIES

    def _sink(self, q: str) -> str:
        return f"{self.work}/results/{q}-results.parquet"

    def _execute(self, q: str) -> None:
        df = self.specs[q].fn(self.spark, self.data)
        df.write.mode("overwrite").parquet(self._sink(q))

    def check(self):
        return _parquet_checks({
            q: [self._sink(q)] if os.path.isdir(self._sink(q)) else []
            for q in self.queries})

    def _traced_one(self, idx, q, span):
        from gpu_bdb_spark.queries import registry

        rec = self._begin(q, f"pb:{idx}:{q}")
        with _patched(registry, "collect_boundary",
                      self._traced_boundary(registry.collect_boundary)):
            try:
                with self._tracer.span("construct"):
                    self._group(rec["gid"] + ":construct")
                    t0 = time.perf_counter()
                    df = self.specs[q].fn(self.spark, self.data)
                    t1 = time.perf_counter()
                    rec["construct_s"] = t1 - t0
                with self._tracer.span("execute"):
                    self._group(rec["gid"] + ":execute")
                    df.write.mode("overwrite").parquet(self._sink(q))
                rec["execute_s"] = time.perf_counter() - t1
                rec["bytes_written"] = float(_dir_bytes(self._sink(q)))
            finally:
                self._group(None)
                self._local.rec = None
                self._read_stages()


class MixedThroughput(RegistryWorkload):
    """Four concurrent closed-loop streams in FAIR pools: each pass is one
    `runner.run_registry_throughput` call over the seeded order of
    `THROUGHPUT6`, which the runner rotates per stream."""

    name = "mixed_throughput"
    queries = THROUGHPUT6

    def _run(self, idx, order, tracer, traced):
        from gpu_bdb_spark import runner
        from gpu_bdb_spark.queries import registry

        pass_span = tracer.current()
        self._stream_spans: dict[int, object] = {}
        patches = contextlib.ExitStack()
        if traced:
            patches.enter_context(_patched(
                registry, "collect_boundary",
                self._traced_boundary(registry.collect_boundary)))
            patches.enter_context(_patched(
                registry, "all_specs",
                self._traced_specs(idx, pass_span)))
        t0 = time.perf_counter()
        try:
            with patches:
                tp = runner.run_registry_throughput(
                    self.spark, self.data, list(order), n_streams=N_STREAMS)
        except Exception as exc:  # the runner re-raises a stream's error
            wall = time.perf_counter() - t0
            err = _error(exc)
            runs = [QueryRun(idx, s, q, wall, err)
                    for s in range(N_STREAMS) for q in order]
            return runs, {"error": err}, {s: wall for s in range(N_STREAMS)}
        runs = [QueryRun(idx, int(s), q, w)
                for s, walls in tp["per_stream"].items()
                for q, w in walls.items()]
        if traced:
            self._finish_spans(idx, tp["per_stream"])
            self._read_stages()
        detail = {"per_stream": {str(s): w
                                 for s, w in tp["per_stream"].items()},
                  "runner_wall_s": tp["wall_s"],
                  "runner_qps": tp["queries_per_sec"]}
        streams = {int(s): sum(w.values())
                   for s, w in tp["per_stream"].items()}
        return runs, detail, streams

    def _stream_of(self) -> int:
        pool = self.spark.sparkContext.getLocalProperty(
            "spark.scheduler.pool") or "stream-0"
        return int(pool.rsplit("-", 1)[-1])

    def _traced_specs(self, idx: int, pass_span):
        lock = threading.Lock()

        def wrap(spec):
            def fn(spark, sf_dir):
                stream = self._stream_of()
                with lock:
                    if stream not in self._stream_spans:
                        self._stream_spans[stream] = self._tracer.add(
                            "stream", time.perf_counter(), None,
                            parent=pass_span, stream=stream)
                    rec = self._begin(spec.name,
                                      f"pb:{idx}:s{stream}:{spec.name}")
                rec["stream"] = stream
                t0 = time.perf_counter()
                qspan = self._tracer.add(
                    "query", t0, None, parent=self._stream_spans[stream],
                    query=f"{idx}:s{stream}:{spec.name}")
                with self._tracer.span("construct", parent=qspan):
                    self._group(rec["gid"] + ":construct")
                    df = spec.fn(spark, sf_dir)
                rec["t0"] = t0
                rec["construct_s"] = time.perf_counter() - t0
                rec["qspan"] = qspan
                self._group(rec["gid"] + ":execute")
                return df
            return fn

        def all_specs():
            return {name: dataclasses.replace(spec, fn=wrap(spec))
                    for name, spec in self.specs.items()}
        return all_specs

    def _finish_spans(self, idx: int, per_stream: dict) -> None:
        """Close query, execute and stream spans from the runner's
        per-stream walls (the runner, not the benchmark, runs the
        sink)."""
        for rec in self._records:
            wall = per_stream[rec["stream"]][rec["query"]]
            end = rec["t0"] + wall
            rec["execute_s"] = max(0.0, wall - rec["construct_s"])
            if rec["qspan"] is not None:
                rec["qspan"].end = end
                self._tracer.add("execute", rec["t0"] + rec["construct_s"],
                                 end, parent=rec["qspan"])
            stream_span = self._stream_spans.get(rec["stream"])
            if stream_span is not None:
                stream_span.end = max(stream_span.end or end, end)
            rec.pop("qspan")


WORKLOADS = {w.name: w for w in (TpcxbbPower, CurationPower,
                                 MixedThroughput)}


def clean_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
