"""The benchmark's workloads and the measurements taken on them.

A workload has a timed part, which yields the end-to-end metrics, and
in a traced run also a short probe of the layers its timed part does
not reach, so that every per-layer metric is measured on every
workload (see README.md).

- ``bulk_topn_read`` times a materialized view loop: per-customer top-2
  orders (``IncrementalTopKMV``), batches of 3,000 order changes, the
  full view read back after every refresh. Its traced probe runs a
  warm-up and a measured pass of the headline queries.
- ``adhoc_headline`` times passes over the 13 headline registry queries
  (``bench.HEADLINE``), in an order the seed shuffles. Its traced probe
  maintains the flagship view (customer with a correlated order count,
  ``IncrementalAggMV``) over a few 150-change batches.

Load is one client in a closed loop: the next operation starts when the
previous one returned.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from bench import HEADLINE
from datagen import DATA_DIR, OrderChurn
from oracle import ChangelogOracle, compare_view
from tracing import uncovered
from tiflink_spark.app import MVApp
from tiflink_spark.queries import get_registry
from tiflink_spark.session import load_tables, read_parquet_normalized

@dataclass(frozen=True)
class View:
    """A materialized view over base tables, with a churned source."""

    name: str
    sql: str
    sources: dict  # source alias in ``sql`` -> (base table, primary key)
    key: list  # columns that identify a view row
    churned: str  # the alias whose table the changelog batches change
    batch_changes: int
    warm_batches: int
    timed_batches: int


TOPN = View(
    name="topn",
    sql="""SELECT o_custkey, o_orderkey, rn FROM (
             SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM ord) t WHERE rn <= 2""",
    sources={"ord": ("orders", ["o_orderkey"])},
    key=["o_custkey", "rn"],
    churned="ord",
    batch_changes=3000,
    # the warm-up covers the first, slowest batches of a warming JVM;
    # the timed batches one full cycle of the stores' 5-delta chain
    warm_batches=4,
    timed_batches=5,
)

FLAGSHIP = View(
    name="flagship",
    sql="""SELECT c_custkey, c_name,
                  (SELECT count(*) FROM ord o
                   WHERE o.o_custkey = c.c_custkey) AS order_cnt
           FROM cust c""",
    sources={"ord": ("orders", ["o_orderkey"]), "cust": ("customer", ["c_custkey"])},
    key=["c_custkey"],
    churned="ord",
    batch_changes=150,
    warm_batches=1,
    timed_batches=3,
)

WARM_PASSES = 1
# a run's first timed pass is still 5-10% slower than the next ones
QUERY_PASSES = 3
READS = 8
READ_QUERY = "flagship_correlated_count"


@dataclass
class Outcome:
    """What one run measured: samples, counts and layer values."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    gates: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)  # name -> list of seconds
    layers: dict = field(default_factory=dict)  # per-layer metric -> value
    info: dict = field(default_factory=dict)

    def call(self, fn, *args, **kwargs):
        """Run one counted operation; an exception counts as failed and
        is re-raised so the run stops."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            raise

    def sample(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)


def _mean(rows: list, key: str) -> float:
    return sum(r.get(key, 0.0) for r in rows) / len(rows) if rows else 0.0


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


def _await_folds(app) -> None:
    """Block until every background chain fold of ``app``'s stores has
    landed. The engine has no public hook for this; the store's own
    await is what its next merge would call."""
    for store in app._all_stores():
        store._await_fold()


def _fold_commits(app, since: float) -> list[dict]:
    """Fold commits (manifest ``__fold__`` lines) made after ``since``."""
    out = []
    for store in app._all_stores():
        for c in store.recent_commits(10**6):
            if str(c["batch_id"]).startswith("__fold__") and (c.get("ts") or 0) >= since:
                out.append(c)
    return out


class Runner:
    def __init__(self, spark, seed: int, work_dir: str, tracer, session_s: float):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.session_s = session_s
        self.out = Outcome()
        self.registry = get_registry()

    # -- helpers --------------------------------------------------------------

    def _op(self, op: str, n, batch=None):
        """A traced run traces every operation; an untraced one nothing."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.op(op, n, batch=batch)

    # -- materialized view loop -----------------------------------------------

    def _build(self, view: View, target: str):
        frames = {
            alias: read_parquet_normalized(self.spark, os.path.join(DATA_DIR, f"{t}.parquet"))
            for alias, (t, _pk) in view.sources.items()
        }
        t0 = time.perf_counter()
        builder = MVApp.builder(self.spark).query(view.sql).target(target)
        for alias, (_t, pk) in view.sources.items():
            builder = builder.source(alias, frames[alias], pk=pk)
        app = builder.build()
        return app, time.perf_counter() - t0

    def setup_view(self, view: View, timed: bool):
        """Build and bootstrap ``view`` into a fresh target. The set-up
        sample is the cold start: the session start plus reading the
        sources, the build and the bootstrap."""
        tr = self.tracer
        target = os.path.join(self.work, f"{view.name}-target")
        t0 = time.perf_counter()
        with self._op("build", 0):
            app, build_s = self._build(view, target)
        with self._op("bootstrap", 0):
            tb = time.perf_counter()
            app.bootstrap()
            boot_s = time.perf_counter() - tb
        if timed:
            self.out.sample("setup", self.session_s + time.perf_counter() - t0)
        L = self.out.layers
        L["app.build_s"] = build_s
        L["app.bootstrap_s"] = boot_s
        if tr is not None:
            L["store.bootstrap_s"] = tr.totals["bootstrap_s"]
            tr.drain()
            L["app.bootstrap_jobs"] = tr.job_stats(tr.op_groups())["jobs"]
        self.out.info[f"{view.name}.strategy"] = app.maintenance_strategy
        return app

    def run_view(self, view: View, timed: bool) -> None:
        """The closed loop: refresh one batch, read the full view back,
        repeat. ``timed`` marks the workload's own timed part (its
        samples feed the end-to-end metrics)."""
        out, tr = self.out, self.tracer
        app = self.setup_view(view, timed)
        churn = OrderChurn(self.seed)
        n_total = view.warm_batches + view.timed_batches
        check_at = view.warm_batches + view.timed_batches // 2
        batch_paths, versions, traced_rows = [], {}, []
        refresh_s, change_rows = [], 0
        timed_since = None
        try:
            for i in range(1, n_total + 1):
                path = os.path.join(self.work, f"{view.name}-batch-{i:04d}.parquet")
                rows = churn.batch(view.batch_changes, path)
                batch_paths.append(path)
                changes = read_parquet_normalized(self.spark, path)
                is_timed = i > view.warm_batches
                if is_timed and timed_since is None:
                    timed_since = time.time()
                rec = {"rows": rows}
                with self._op("refresh", i, batch=i):
                    w0 = time.time()
                    t0 = time.perf_counter()
                    out.call(app.refresh, {view.churned: changes}, batch_id=i)
                    dt = time.perf_counter() - t0
                    w1 = time.time()
                if tr is not None:
                    rec.update(tr.totals)
                    rec["derive_s"] = uncovered((w0, w1), tr.merge_spans)
                    tr.drain()
                    groups = tr.op_groups()
                    rec["refresh"] = tr.job_stats(groups, (w0, w1))
                    rec["merge"] = tr.job_stats(groups[1:])
                rec["wall"] = dt
                if is_timed:
                    refresh_s.append(dt)
                    change_rows += rows
                    if timed:
                        out.sample("op", dt)
                if i == check_at:
                    versions[i] = app.describe()["target_version"]
                self._read_view(app, i, rec, timed and is_timed)
                if tr is not None and is_timed:
                    traced_rows.append(rec)
        finally:
            _await_folds(app)
        out.info[f"{view.name}.batches"] = {"warm": view.warm_batches,
                                            "timed": len(refresh_s)}
        L = out.layers
        L["app.change_rows_per_s"] = change_rows / sum(refresh_s)
        L["store.disk_mb"] = _du_mb(app.target_path)
        if tr is not None:
            self._view_layers(app, traced_rows, timed_since, timed)
        self._check_view(app, view, batch_paths, versions, n_total)

    def _read_view(self, app, i: int, rec: dict, timed: bool) -> None:
        out = self.out
        if self.tracer is not None:
            chain = (app.describe()["recent_batches"] or [{}])[-1].get("pending_deltas", 0)
        with self._op("read", i, batch=i):
            t0 = time.perf_counter()
            df = out.call(app.read)
            t1 = time.perf_counter()
            out.call(df.collect)
            t2 = time.perf_counter()
        if self.tracer is not None:
            rec.update(read_plan_s=t1 - t0, read_collect_s=t2 - t1, chain=chain)
        if timed:
            out.sample("read", t2 - t0)

    def _view_layers(self, app, rows: list, since: float, timed: bool) -> None:
        L, tr = self.out.layers, self.tracer
        n = len(rows)
        L["app.refresh_jobs"] = sum(r["refresh"]["jobs"] for r in rows) / n
        L["app.refresh_tasks"] = sum(r["refresh"]["tasks"] for r in rows) / n
        L["app.refresh_driver_only_s"] = sum(r["refresh"]["driver_only_s"] for r in rows) / n
        L["app.refresh_executor_cpu_s"] = sum(r["refresh"]["cpu_s"] for r in rows) / n
        L["app.refresh_shuffle_mb"] = sum(r["refresh"]["shuffle_mb"] for r in rows) / n
        L["app.refresh_py4j_calls"] = _mean(rows, "py4j_calls")
        L["mv.derive_s"] = _mean(rows, "derive_s")
        L["store.merges_per_batch"] = _mean(rows, "merges")
        L["store.merge_s"] = _mean(rows, "merge_s")
        L["store.merge_jobs"] = sum(r["merge"]["jobs"] for r in rows) / n
        L["store.read_calls_per_batch"] = _mean(rows, "reads")
        L["store.read_s"] = _mean(rows, "read_s")
        L["store.rows_written_per_batch"] = sum(r["merge"]["output_rows"] for r in rows) / n
        L["store.mb_written_per_batch"] = sum(r["merge"]["output_mb"] for r in rows) / n
        L["store.chain_len_at_read"] = _mean(rows, "chain")
        L["app.read_plan_s"] = _mean(rows, "read_plan_s")
        L["app.read_collect_s"] = _mean(rows, "read_collect_s")
        folds = _fold_commits(app, since)
        L["store.folds_per_batch"] = len(folds) / n
        L["store.fold_s"] = sum((c.get("merge_secs") or 0.0) for c in folds) / n
        tr.drain()
        fold_groups = [g for t, g in tr.fold_groups if t >= since]
        L["store.fold_jobs"] = tr.job_stats(fold_groups)["jobs"] / n
        if timed:
            L["trace.op_p50_s"] = statistics.median(r["wall"] for r in rows)

    def _check_view(self, app, view, batch_paths, versions, n_total) -> None:
        oracle = ChangelogOracle(DATA_DIR, view.sources)
        try:
            for i, path in enumerate(batch_paths, start=1):
                oracle.apply(view.churned, path)
                if i in versions or i == n_total:
                    version = versions.get(i)
                    got = app.read(version).toPandas()
                    diff = compare_view(got, oracle.query(view.sql), view.key)
                    self.out.gates[f"{view.name}@batch{i}"] = diff or "ok"
        finally:
            oracle.close()

    # -- headline queries -----------------------------------------------------

    def setup_tables(self, timed: bool) -> None:
        """Register the base tables; the set-up sample is the session
        start plus the registration."""
        t0 = time.perf_counter()
        load_tables(self.spark, DATA_DIR)
        if timed:
            self.out.sample("setup", self.session_s + time.perf_counter() - t0)

    def gate_queries(self, data_dir: str) -> None:
        """One untimed pass that collects every headline query and
        compares it with its DuckDB oracle; it also warms the plans."""
        saved = list(sys.path)
        from tools.check_oracle import compare, duck_con  # edits sys.path on import

        sys.path[:] = saved
        con = duck_con(data_dir)
        con.execute("SET threads=1")
        try:
            for name in HEADLINE:
                spec = self.registry[name]
                got = self.out.call(lambda: spec.fn(self.spark, data_dir).toPandas())
                ok, msg = compare(got, con.execute(spec.oracle).df())
                self.out.gates[name] = "ok" if ok else msg
        finally:
            con.close()

    def run_queries(self, data_dir: str, warm: int, passes: int, timed: bool) -> None:
        """``warm`` untimed passes, then ``passes`` measured ones, each
        over every headline query in an order drawn from the seed."""
        out, tr = self.out, self.tracer
        rng = np.random.default_rng(self.seed)
        per_query: dict = {n: [] for n in HEADLINE}
        traced_passes = []
        for p in range(-warm, passes):
            order = [HEADLINE[i] for i in rng.permutation(len(HEADLINE))]
            total, groups = 0.0, []
            for name in order:
                fn = self.registry[name].fn
                run = lambda: fn(self.spark, data_dir).write.format("noop").mode(  # noqa: E731
                    "overwrite").save()
                with self._op("query", f"{name}:{p}") as g:
                    t0 = time.perf_counter()
                    out.call(run)
                    dt = time.perf_counter() - t0
                groups.append(g)
                per_query[name].append(dt)
                total += dt
            if p < 0:
                continue
            if timed:
                out.sample("op", total)
            if tr is not None:
                tr.drain()
                traced_passes.append((total, tr.job_stats(groups)))
        if timed:
            fn = self.registry[READ_QUERY].fn
            for k in range(READS):
                with self._op("read", k):
                    t0 = time.perf_counter()
                    out.call(lambda: fn(self.spark, data_dir).toPandas())
                    out.sample("read", time.perf_counter() - t0)
        if tr is None:
            return
        L = out.layers
        for name, vals in per_query.items():
            L[f"queries.{name}_s"] = statistics.median(vals[warm:])
        n = len(traced_passes)
        L["queries.jobs_per_pass"] = sum(s["jobs"] for _t, s in traced_passes) / n
        L["queries.executor_cpu_s_per_pass"] = sum(s["cpu_s"] for _t, s in traced_passes) / n
        L["queries.shuffle_mb_per_pass"] = sum(s["shuffle_mb"] for _t, s in traced_passes) / n
        if timed:
            L["trace.op_p50_s"] = statistics.median(t for t, _s in traced_passes)


def run(spark, workload: str, seed: int, work_dir: str, tracer, session_s: float) -> Outcome:
    """Run ``workload`` on ``spark``; return what it measured. A traced
    run keeps the tracer's wrappers installed from start to end."""
    r = Runner(spark, seed, work_dir, tracer, session_s)
    r.out.layers["session.start_s"] = session_s
    if tracer is not None:
        tracer.install()
    try:
        if workload == "bulk_topn_read":
            r.run_view(TOPN, timed=True)
            if tracer is not None:
                r.setup_tables(timed=False)
                r.run_queries(DATA_DIR, 1, 1, timed=False)
        else:
            r.setup_tables(timed=True)
            r.gate_queries(DATA_DIR)
            r.run_queries(DATA_DIR, WARM_PASSES, QUERY_PASSES, timed=True)
            if tracer is not None:
                r.run_view(FLAGSHIP, timed=False)
    except Exception:
        if not r.out.failed:
            raise
    finally:
        if tracer is not None:
            tracer.uninstall()
    return r.out
