"""Tracing for the benchmark's traced runs (``--trace 1``).

Nothing here is installed by an untraced run. A traced run
creates one :class:`Tracer`, which

- records spans (name, start, end, parent, batch id) in memory and
  writes them as JSON lines when the run ends;
- wraps the store layer's entry points (``KeyedParquetStore.merge``,
  ``read``, ``read_keys``, ``read_buckets``, ``batch_delta``,
  ``bootstrap`` and the background fold) from the outside for the
  whole run, timing them and labelling the Spark jobs they start;
- counts the py4j commands an operation sends (background folds and
  the tracer's own job-group commands excluded);
- reads job, stage and task counters of a Spark job group from the
  status store, which works with the UI disabled.

Job groups are named ``bench:<workload>:<op>:<n>``; a store merge
inside an op gets ``<op group>:merge:<k>`` and a background fold gets
``bench:<workload>:fold:<k>``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from py4j.java_gateway import GatewayClient

from tiflink_spark.store import KeyedParquetStore

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_STORE_READS = ("read", "read_keys", "read_buckets", "batch_delta")


class Totals(dict):
    """Named float accumulators (missing names read as 0)."""

    def __missing__(self, key):
        return 0.0

    def add(self, key, value=1.0):
        self[key] = self[key] + value


def _on_fold_thread() -> bool:
    return threading.current_thread().name.startswith("store-fold")


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()
        self.workload = workload
        self.spans: list[dict] = []
        self.totals = Totals()
        self.fold_groups: list[tuple[float, str]] = []
        self._stack: list[int] = []
        self._op_span: int | None = None
        self._op_group: str | None = None
        self._last_op: str | None = None
        self._batch = None
        self._merge_groups: list[str] = []
        self.merge_spans: list[tuple[float, float]] = []
        self._main = threading.get_ident()
        self._local = threading.local()  # .quiet: py4j commands not counted
        self._lock = threading.Lock()
        self._originals: dict = {}
        self._n_folds = 0

    # -- spans --------------------------------------------------------------

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.totals.add(key, value)

    @contextmanager
    def span(self, name: str):
        """A span. On a helper thread of the current op its parent is
        the op's span; a background fold belongs to no op or batch."""
        on_main = threading.get_ident() == self._main
        if on_main:
            parent = self._stack[-1] if self._stack else None
        else:
            parent = None if _on_fold_thread() else self._op_span
        batch = None if _on_fold_thread() else self._batch
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent,
               "batch": batch}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        if on_main:
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if on_main:
                self._stack.pop()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -- job groups -----------------------------------------------------------

    @contextmanager
    def _uncounted(self):
        """The tracer's own py4j commands, sent inside, are not counted."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    @contextmanager
    def group(self, name: str):
        """Label the Spark jobs this thread starts with ``name``."""
        with self._uncounted():
            prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
            self.sc.setLocalProperty(_GROUP, name)
            self.sc.setLocalProperty(_DESC, name)
        try:
            yield name
        finally:
            with self._uncounted():
                self.sc.setLocalProperty(_GROUP, prev[0])
                self.sc.setLocalProperty(_DESC, prev[1])

    @contextmanager
    def op(self, op: str, n, batch=None):
        """One traced operation: a span plus a job group. Store totals
        and py4j commands are counted per operation, on every thread
        but the background folds'."""
        name = f"bench:{self.workload}:{op}:{n}"
        self._op_group = self._last_op = name
        self._batch = batch
        self._merge_groups = []
        self.merge_spans = []
        self.totals = Totals()
        try:
            with self.span(f"app.{op}") as rec, self.group(name):
                self._op_span = rec["id"]
                yield name
        finally:
            self._op_group = self._op_span = self._batch = None

    def op_groups(self) -> list[str]:
        """The job groups of the last op: its own and its merges'."""
        return [self._last_op, *self._merge_groups]

    # -- status store ---------------------------------------------------------

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just finished."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_stats(self, groups: list[str], window: tuple[float, float] | None = None) -> dict:
        """Sum the counters of every job in ``groups``. With ``window``
        (epoch seconds) also return the part of it covered by no job."""
        tracker = self.sc.statusTracker()
        out = Totals()
        spans = []
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out.add("jobs")
                job = self.status.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    spans.append((job.submissionTime().get().getTime() / 1000.0,
                                  job.completionTime().get().getTime() / 1000.0))
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        st = self.status.lastStageAttempt(sid)
                    except Exception:  # stage evicted or never attempted
                        continue
                    done = st.numCompleteTasks()
                    if not done:
                        continue
                    out.add("stages")
                    out.add("tasks", done)
                    out.add("cpu_s", st.executorCpuTime() / 1e9)
                    out.add("shuffle_mb",
                            (st.shuffleWriteBytes() + st.shuffleReadBytes()) / 1e6)
                    out.add("output_rows", st.outputRecords())
                    out.add("output_mb", st.outputBytes() / 1e6)
        if window is not None:
            out["driver_only_s"] = uncovered(window, spans)
        return out

    # -- wrappers -------------------------------------------------------------

    def install(self) -> None:
        tracer = self
        cls = KeyedParquetStore
        self._originals = {
            name: getattr(cls, name)
            for name in ("merge", "bootstrap", "_fold_chain", *_STORE_READS)
        }
        self._originals["send_command"] = GatewayClient.send_command
        orig = self._originals

        def merge(store, changes, batch_id):
            # routes may merge several stores from helper threads at once
            group = None
            if tracer._op_group:
                with tracer._lock:
                    group = f"{tracer._op_group}:merge:{len(tracer._merge_groups)}"
                    tracer._merge_groups.append(group)
            t0 = time.time()
            with tracer.span("store.merge"):
                if group is None:
                    out = orig["merge"](store, changes, batch_id)
                else:
                    with tracer.group(group):
                        out = orig["merge"](store, changes, batch_id)
            t1 = time.time()
            with tracer._lock:
                tracer.merge_spans.append((t0, t1))
            tracer.add("merges")
            tracer.add("merge_s", t1 - t0)
            return out

        def bootstrap(store, df, batch_id=0):
            t0 = time.perf_counter()
            with tracer.span("store.bootstrap"):
                out = orig["bootstrap"](store, df, batch_id)
            tracer.add("bootstrap_s", time.perf_counter() - t0)
            return out

        def make_read(name):
            def read(store, *args, **kwargs):
                if _on_fold_thread():
                    return orig[name](store, *args, **kwargs)
                t0 = time.perf_counter()
                with tracer.span("store.read"):
                    out = orig[name](store, *args, **kwargs)
                tracer.add("reads")
                tracer.add("read_s", time.perf_counter() - t0)
                return out

            return read

        def fold(store):
            # a fold runs on its own thread, whatever op is in flight
            with tracer._lock:
                tracer._n_folds += 1
                group = f"bench:{tracer.workload}:fold:{tracer._n_folds}"
                tracer.fold_groups.append((time.time(), group))
            with tracer.span("store.fold"), tracer.group(group):
                return orig["_fold_chain"](store)

        def send_command(client, *args, **kwargs):
            if (tracer._op_group and not _on_fold_thread()
                    and not getattr(tracer._local, "quiet", False)):
                tracer.add("py4j_calls")
            return orig["send_command"](client, *args, **kwargs)

        cls.merge = merge
        cls.bootstrap = bootstrap
        cls._fold_chain = fold
        for name in _STORE_READS:
            setattr(cls, name, make_read(name))
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        for name, fn in self._originals.items():
            if name == "send_command":
                GatewayClient.send_command = fn
            else:
                setattr(KeyedParquetStore, name, fn)
        self._originals = {}


def uncovered(window: tuple[float, float], spans: list[tuple[float, float]]) -> float:
    """Length of ``window`` not covered by any of ``spans``."""
    lo, hi = window
    covered, cursor = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, cursor), min(e, hi)
        if e > s:
            covered += e - s
            cursor = e
    return max(0.0, (hi - lo) - covered)
