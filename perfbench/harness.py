"""Engine-agnostic core of the benchmark: spans, the closed-loop pass
loop, process CPU/RSS readings, output fingerprints and the metric
tables. Nothing here imports Spark, so the tests exercise it with a
fake workload in milliseconds.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import hashlib
import math
import os
import random
import resource
import threading
import time
from dataclasses import dataclass, field

#: End-to-end metrics, printed by a plain (`--trace 0`) run.
E2E_UNITS: dict[str, str] = {
    "setup_s": "s",
    "wall_s": "s",
    "qps": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: Operators modules the per-layer split attributes query walls to.
OPERATOR_MODULES = ("dedup", "graph", "text", "temporal", "linkage", "ml",
                    "sessionize")

#: Per-layer metrics, printed by a traced (`--trace 1`) run. Every name
#: is emitted on every workload; a layer a workload never enters reads 0.
LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "datagen.write_s": "s",
    "testdata_gen.write_s": "s",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.boundary_s": "s",
    "tpcxbb.construct_s": "s",
    "tpcxbb.construct_jobs": "count",
    "execute.wall_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.bytes_written": "bytes",
    "stages.task_s": "s",
    "stages.cpu_s": "s",
    "stages.gc_s": "s",
    "stages.cpu_ratio": "ratio",
    "stages.shuffle_read_bytes": "bytes",
    "stages.shuffle_write_bytes": "bytes",
    "stages.spill_bytes": "bytes",
    "stages.input_bytes": "bytes",
    "stages.idle_slot_s": "s",
    **{f"operators.{m}.wall_s": "s" for m in OPERATOR_MODULES},
    "runner.stream_wall_max_s": "s",
    "runner.stream_skew": "ratio",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


# --------------------------------------------------------------- tracing


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    query: str | None = None
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, "query": self.query,
                **({"attrs": self.attrs} if self.attrs else {})}


class Tracer:
    """In-memory spans: name, start, end, parent and query id. Each
    thread keeps its own stack of open spans, so a span opened in a
    stream thread nests under that thread's innermost open span, or
    under the `parent` given explicitly. A disabled tracer records
    nothing and costs one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float | None,
            parent: Span | None = None, query: str | None = None,
            **attrs) -> Span | None:
        """Record a span whose interval is already known."""
        if not self.enabled:
            return None
        if parent is None:
            parent = self.current()
        if query is None and parent is not None:
            query = parent.query
        with self._lock:
            span = Span(len(self.spans), name,
                        parent.id if parent else None, start, end, query,
                        attrs)
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None,
             query: str | None = None, **attrs):
        span = self.add(name, time.perf_counter(), None, parent, query,
                        **attrs)
        if span is None:
            yield None
            return
        stack = self._stack()
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def as_json(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


# ------------------------------------------------------- process readings


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3): ppid is field 4, utime..cstime
    # are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _CLK_TCK


def descendants(root: int) -> list[int]:
    """`root` and every live process below it (the Spark JVM and its
    Python workers for a benchmark process)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by `root` and its live descendants,
    including the reaped children each one waited for."""
    total = 0.0
    for pid in descendants(root or os.getpid()):
        st = _proc_stat(pid)
        if st is not None:
            total += st[1]
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM, in MB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


# ------------------------------------------------------------ statistics


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int, want: float = 90.0) -> float:
    """The highest percentile up to `want` with at least ten samples
    beyond it, floored at the median (which is always reported)."""
    if n <= 0:
        return 50.0
    return max(50.0, min(want, math.floor(100.0 * (1.0 - 10.0 / n))))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# ----------------------------------------------------------- fingerprints


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        # 6 significant digits: verify.pseudo_equal's float tolerance
        return format(f, ".6g")
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def fingerprint(columns: list[str], rows) -> dict:
    """Row count plus an order-insensitive hash of `rows` (sequences
    aligned with `columns`). Columns are taken in name order and floats
    are rounded to 6 significant digits, so the same result from another
    engine or another partitioning hashes the same."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for row in rows:
        line = "\x1f".join(_canon(row[i]) for i in order)
        digest = hashlib.blake2b(line.encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "big")) % 2 ** 64
        n += 1
    head = ",".join(columns[i] for i in order)
    final = hashlib.blake2b(f"{head}|{n}|{acc}".encode(),
                            digest_size=8).hexdigest()
    return {"rows": n, "hash": final}


def arrow_fingerprint(table) -> dict:
    """Fingerprint of a pyarrow Table."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return fingerprint(cols, zip(*data) if cols else iter(()))


# --------------------------------------------------------- the pass loop


@dataclass
class QueryRun:
    """One query execution inside a timed pass."""
    pass_idx: int
    stream: int
    query: str
    wall_s: float
    error: str | None = None


@dataclass
class PassRun:
    idx: int
    traced: bool
    wall_s: float
    cpu_s: float
    queries: list[QueryRun]
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Workload:
    """What `run_workload` needs from a workload. `setup` returns the
    set-up timings by layer; `run_pass` runs one pass over `order` and
    returns its query runs, per-layer numbers (traced passes only) and
    a detail record; `check` returns {query: fingerprint} of the
    outputs, untimed."""

    name = "abstract"
    queries: tuple[str, ...] = ()

    def setup(self, tracer: Tracer, seed: int) -> dict[str, float]:
        raise NotImplementedError

    def run_pass(self, idx: int, order: list[str], tracer: Tracer,
                 traced: bool) -> tuple[list[QueryRun], dict, dict]:
        raise NotImplementedError

    def check(self) -> dict[str, dict]:
        raise NotImplementedError

    def jvm_pid(self) -> int | None:
        return None

    def close(self) -> None:
        pass


def pass_order(queries: tuple[str, ...], seed: int, idx: int) -> list[str]:
    """The seeded query order of pass `idx` (idx -1 is the warm pass)."""
    order = list(queries)
    random.Random(f"{seed}:{idx}").shuffle(order)
    return order


@dataclass
class RunResult:
    workload: str
    seed: int
    trace: bool
    setup: dict[str, float]
    setup_s: float
    warm: PassRun
    passes: list[PassRun]
    checks: dict[str, dict]
    goldens: dict[str, dict]
    mismatches: list[str]
    raised: list[str]
    peak_rss_mb: float

    @property
    def attempted(self) -> int:
        return (sum(len(p.queries) for p in [self.warm, *self.passes])
                + len(self.goldens))

    @property
    def failed(self) -> int:
        return len(self.raised) + len(self.mismatches)

    @property
    def correct(self) -> bool:
        return self.failed == 0


def run_workload(wl: Workload, *, seconds: float, seed: int, trace: bool,
                 goldens: dict[str, dict]) -> tuple[RunResult, Tracer]:
    """Set up, warm, then run whole passes back to back (one closed-loop
    client per stream) until `seconds` have elapsed, then check outputs.
    A traced run alternates untraced and traced passes, so one run gives
    both the per-layer split and the tracing overhead."""
    tracer = Tracer(trace)
    with tracer.span("workload", workload=wl.name) as root:
        t0 = time.perf_counter()
        setup = wl.setup(tracer, seed)
        w0 = time.perf_counter()
        with tracer.span("warm", parent=root):
            runs, _, _ = wl.run_pass(-1, pass_order(wl.queries, seed, -1),
                                     tracer, False)
        setup_s = time.perf_counter() - t0
        warm = PassRun(-1, False, time.perf_counter() - w0, 0.0, runs)
        passes: list[PassRun] = []
        start = time.perf_counter()
        idx = 0
        while True:
            kinds = {p.traced for p in passes}
            done = time.perf_counter() - start >= seconds
            if passes and done and (not trace or kinds == {True, False}):
                break
            traced = trace and idx % 2 == 1
            order = pass_order(wl.queries, seed, idx)
            cpu0, w0 = tree_cpu_s(), time.perf_counter()
            with tracer.span("pass", parent=root, pass_idx=idx,
                             traced=traced):
                runs, layers, detail = wl.run_pass(idx, order, tracer,
                                                   traced)
            wall = time.perf_counter() - w0
            passes.append(PassRun(idx, traced, wall, tree_cpu_s() - cpu0,
                                  runs, layers, detail))
            idx += 1
        with tracer.span("check"):
            checks = wl.check()
    raised = [f"pass{q.pass_idx}/{q.query}: {q.error}"
              for p in [warm, *passes] for q in p.queries if q.error]
    mismatches = []
    for q, want in sorted(goldens.items()):
        got = checks.get(q)
        if got is None or got.get("error"):
            raised.append(f"check/{q}: {got and got.get('error')}")
        elif got != want:
            mismatches.append(f"{q}: got {got} want {want}")
    result = RunResult(wl.name, seed, trace, setup, setup_s, warm, passes,
                       checks, goldens, mismatches, raised,
                       peak_rss_mb(wl.jvm_pid()))
    return result, tracer


def e2e_metrics(result: RunResult) -> dict[str, float]:
    """End-to-end metrics over the untraced passes."""
    plain = [p for p in result.passes if not p.traced]
    lats = [q.wall_s for p in plain for q in p.queries if not q.error]
    wall = sum(p.wall_s for p in plain)
    done = sum(1 for p in plain for q in p.queries if not q.error)
    return {
        "setup_s": result.setup_s,
        "wall_s": median([p.wall_s for p in plain]),
        "qps": done / wall if wall > 0 else 0.0,
        "latency_p50_s": percentile(lats, 50.0),
        "latency_p90_s": percentile(lats, tail_pct(len(lats))),
        "cpu_s": median([p.cpu_s for p in plain]),
        "peak_rss_mb": result.peak_rss_mb,
    }


def layer_metrics(result: RunResult, tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics: set-up layers once per run, pass layers as the
    median over the traced passes."""
    traced = [p for p in result.passes if p.traced]
    plain = [p for p in result.passes if not p.traced]
    out = {name: 0.0 for name in LAYER_UNITS}
    out.update({k: v for k, v in result.setup.items() if k in out})
    for name in LAYER_UNITS:
        vals = [p.layers[name] for p in traced if name in p.layers]
        if vals:
            out[name] = median(vals)
    if traced and plain:
        out["trace.overhead_s"] = (median([p.wall_s for p in traced])
                                   - median([p.wall_s for p in plain]))
    out["trace.spans"] = float(len(tracer.spans))
    return out


def result_line(result: RunResult, metrics: dict[str, float],
                units: dict[str, str]) -> dict:
    return {
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }
