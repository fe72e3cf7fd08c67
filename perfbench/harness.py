"""Benchmark plumbing: the Spark session, peak memory, full
materialization, the closed loop and the optional tracer.

Nothing here changes engine behaviour. With tracing off, the tracer is a
no-op and no module attribute of the engine is touched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

# Driver JVM heap: well below this box's 15 GiB, which the session
# factory's 16g default exceeds.
DRIVER_MEMORY = "1g"


def start_spark(tmp_dir: str, trace: bool):
    """One local[nproc] session whose scratch space lives under tmp_dir."""
    from local_search_engine_spark.session import get_spark

    conf = {
        "spark.local.dir": tmp_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    }
    if trace:
        # the tracer reads job and stage counts back from the status
        # store, so a traced run keeps every job
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    return get_spark("perfbench", cores=os.cpu_count() or 4, driver_memory=DRIVER_MEMORY, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Full materialization. A bare count() lets Catalyst prune every column the
# count does not need (on 2k docs, textstats.quality_scores took 0.34 s via
# count() and 3.4 s with every output column consumed), so a timed call
# always ends in collect() or in digest() below.
# ---------------------------------------------------------------------------


def digest(df) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over ALL columns): consumes every
    output column without shipping the rows to the driver."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c}`" for c in df.columns)
    r = df.agg(
        F.count("*").alias("n"), F.expr(f"bit_xor(xxhash64({cols}))").alias("h")
    ).first()
    return int(r["n"]), int(r["h"] or 0)


# ---------------------------------------------------------------------------
# Peak resident memory of this process and every descendant (the driver
# JVM and its Python workers), read from /proc.
# ---------------------------------------------------------------------------


class PeakRss:
    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        for pid in self._descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def mb(self) -> float:
        """Sum of each process's own peak (VmHWM), in MiB."""
        return sum(self.peak_kb.values()) / 1024.0


# ---------------------------------------------------------------------------
# Closed loop: one client, the next op is sent after the previous answer.
# ---------------------------------------------------------------------------


class Op:
    __slots__ = ("index", "shape", "spec", "seconds", "answer", "error")

    def __init__(self, index, shape, spec, seconds, answer, error):
        self.index, self.shape, self.spec = index, shape, spec
        self.seconds, self.answer, self.error = seconds, answer, error


def closed_loop(next_op, run_op, seconds: float, cycle: int, tracer, rss) -> list[Op]:
    """Send whole cycles of `cycle` ops until `seconds` have passed (at
    least one cycle), so every run sends the same mix of ops.

    next_op(i) -> (shape, spec); run_op(shape, spec) -> answer. An op
    that raises is recorded with its error and counts as failed."""
    ops: list[Op] = []
    t_end = time.perf_counter() + seconds
    i = 0
    while i % cycle or i == 0 or time.perf_counter() < t_end:
        shape, spec = next_op(i)
        with tracer.op(i, shape):
            t0 = time.perf_counter()
            try:
                answer, error = run_op(shape, spec), None
            except Exception as e:  # the benchmark must report, not die
                answer, error = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        ops.append(Op(i, shape, spec, dt, answer, error))
        rss.sample()
        i += 1
    return ops


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))]


# ---------------------------------------------------------------------------
# Tracing: spans around the engine's public functions, wrapped from
# outside; Spark job/stage/task counts per span from the status tracker.
# ---------------------------------------------------------------------------


class Tracer:
    """Spans carry (id, name, op, parent, start, end, job range). They are
    kept in memory and written once by dump(). With enabled=False every
    method is a no-op and nothing is wrapped."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._op = None
        self._spark = spark
        self._wrapped: list[tuple[object, str, object]] = []
        if enabled:
            self._sched = spark.sparkContext._jsc.sc().dagScheduler()

    def _jobs(self) -> int:
        return int(self._sched.numTotalJobs())

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
            "job0": self._jobs(),
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["job1"] = self._jobs()

    @contextlib.contextmanager
    def op(self, index: int, shape: str):
        """One op of the timed loop: its own job group and a root span."""
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext
        self._op = index
        sc.setJobGroup(f"op{index}", shape)
        try:
            with self.span(f"op.{shape}"):
                yield
        finally:
            sc.setJobGroup("", "")
            self._op = None

    def action(self, shape: str, fn):
        """The op's final action, as its own `action.<shape>` span."""
        with self.span(f"action.{shape}"):
            return fn()

    # -- wrapping the layers' public functions ------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._wrapped.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _traced(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def wrap(self, module, attr: str) -> None:
        """Span `<module path below the package>.<attr>` around a function."""
        if self.enabled:
            name = f"{module.__name__.removeprefix('local_search_engine_spark.')}.{attr}"
            self._patch(module, attr, self._traced(getattr(module, attr), name))

    def wrap_factory(self, module, attr: str, prefix: str, methods=()) -> None:
        """Wrap a factory whose result is a query callable carrying extra
        query methods as attributes (make_wand_topk, make_phrase_topk):
        the callable becomes span `<prefix>.query`, each method
        `<prefix>.<method>`."""
        if not self.enabled:
            return
        factory = getattr(module, attr)

        @functools.wraps(factory)
        def traced_factory(*a, **kw):
            q = factory(*a, **kw)
            out = self._traced(q, f"{prefix}.query")
            for m in methods:
                setattr(out, m, self._traced(getattr(q, m), f"{prefix}.{m}"))
            return out

        self._patch(module, attr, traced_factory)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    # -- reading the trace back ---------------------------------------------
    def finish(self) -> None:
        """Compute self time and Spark counts for every closed span."""
        if not self.enabled:
            return
        st = self._spark.sparkContext.statusTracker()
        job_stages: dict[int, list[int]] = {}
        stage_tasks: dict[int, tuple[int, int]] = {}

        def stages_of(j):
            if j not in job_stages:
                info = st.getJobInfo(j)
                job_stages[j] = list(info.stageIds) if info else []
            return job_stages[j]

        def tasks_of(s):
            if s not in stage_tasks:
                info = st.getStageInfo(s)
                stage_tasks[s] = (
                    (info.numCompletedTasks, info.numFailedTasks) if info else (0, 0)
                )
            return stage_tasks[s]

        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None and "end" in sp:
                child_time[sp["parent"]] = child_time.get(sp["parent"], 0.0) + (
                    sp["end"] - sp["start"]
                )
        for sp in self.spans:
            if "end" not in sp:
                continue
            sp["self_s"] = (sp["end"] - sp["start"]) - child_time.get(sp["id"], 0.0)
            stages = sorted({s for j in range(sp["job0"], sp["job1"]) for s in stages_of(j)})
            done = [tasks_of(s) for s in stages]
            sp["jobs"] = sp["job1"] - sp["job0"]
            sp["stages"] = len(stages)
            sp["tasks"] = sum(d for d, _ in done)
            sp["failed_tasks"] = sum(f for _, f in done)

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for sp in self.spans:
                row = dict(sp)
                row["start"] = round(sp["start"] - t0, 6)
                if "end" in sp:
                    row["end"] = round(sp["end"] - t0, 6)
                f.write(json.dumps(row) + "\n")

    # -- per-layer aggregates -------------------------------------------------
    def calls(self, name: str, ops=None) -> list[dict]:
        """Closed spans of `name` inside timed ops (optionally only the
        ops whose index is in `ops`)."""
        return [
            s
            for s in self.spans
            if s["name"] == name
            and s["op"] is not None
            and "end" in s
            and (ops is None or s["op"] in ops)
        ]

    def self_s(self, name: str) -> float:
        return median([s["self_s"] for s in self.calls(name)])

    def dur_s(self, name: str) -> float:
        return median([s["end"] - s["start"] for s in self.calls(name)])

    def per_call(self, name: str, key: str, ops) -> float:
        """Mean of a count per call, over a fixed set of ops, so that two
        traced runs with the same seed report the same number."""
        c = self.calls(name, ops)
        return sum(s[key] for s in c) / len(c) if c else 0.0
