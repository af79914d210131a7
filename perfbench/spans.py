"""Spans around calls into the program's public functions, plus the
reader for Spark's application status store (it works with the UI off).

The spans are installed from here, by replacing each traced function in
every ``sap_data_pipeline_spark`` module namespace that holds it, so the
program itself carries no tracing code.  A Spark job counts toward the
innermost span open when it was submitted: the scheduler's next job id
is read at every span boundary, so the ids between two boundaries belong
to the span on top of the stack.
"""

from __future__ import annotations

import functools
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (module, attribute) pairs; "Class.method" patches the class attribute.
TRACED = [
    ("session", "get_spark"),
    ("etl", "etl_movements"),
    ("etl", "etl_weekly_sales"),
    ("etl", "etl_store_rp_export"),
    ("etl", "admit_crawl_batch"),
    ("etl", "build_training_corpus"),
    ("sources.ledger", "ProcessedLedger.filter_new"),
    ("sources.ledger", "ProcessedLedger.record_all"),
    ("sources.readers", "read_sap_export"),
    ("sources.readers", "load_star"),
    ("sources.sinks", "write_parquet_atomic"),
    ("sources.sinks", "export_csv"),
    ("sources.artifacts", "load_or_build"),
    ("functions.cleaning", "cast_to_schema"),
    ("operators.merge", "ParquetMergeTable.merge"),
    ("operators.dedup", "exact_dedup"),
    ("operators.dedup", "minhash_dedup_pairs"),
    ("operators.dedup", "keep_best_per_cluster"),
    ("operators.dedup", "decontaminate_spans"),
    ("operators.dedup", "snapshot_admission"),
    ("operators.dedup", "connected_components"),
    ("operators.dedup", "near_dup_clusters"),
    ("operators.quality", "host_quality_gate"),
    ("operators.sampling", "mixture_plan"),
    ("operators.sampling", "pack_by_offset"),
    ("operators.graph", "pagerank"),
    ("operators.graph", "label_propagation"),
    ("operators.graph", "tree_root_depth"),
    ("operators.multimodal", "ahash_near_dup_pairs"),
    ("plans.weekly_sales", "weekly_sales"),
    ("plans.store_rp", "store_rp_report"),
    ("streaming.ingest", "stream_file_source"),
    ("streaming.ingest", "stream_merge_sink"),
]
PKG = "sap_data_pipeline_spark"
# the plan-node metrics of every operator that runs Python workers
# (MapInPandas, ArrowEvalPython, ...), by the names the SQL layer gives them
PY_METRICS = {
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "number of output rows": "rows",
}
# the steps whose MERGE calls land ingested rows (the weekly fact's is a report)
INGEST_STEPS = ("bench.daily_batch", "bench.replay", "bench.microbatch_drain")


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "child_s", "jobs", "mark")

    def __init__(self, name: str, parent: "Span | None", mark: int) -> None:
        self.name, self.parent, self.mark = name, parent, mark
        self.t0, self.t1, self.child_s = time.perf_counter(), 0.0, 0.0
        self.jobs: list[int] = []


class Tracer:
    """Keeps every closed span in memory; nothing is written until the
    benchmark asks for the summary."""

    def __init__(self) -> None:
        self._dag = None
        self._stack: list[Span] = []
        self._lock = threading.RLock()
        self.spans: list[Span] = []
        self.enabled = True

    def attach(self, spark) -> None:
        """Start reading job ids; spans opened before this see no jobs."""
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext
        self._sql_seen = 0

    def sql_mark(self) -> None:
        """The next ``python_workers`` reads only SQL executions after now."""
        self._sql_seen = int(self._sql.executionsCount())

    def python_workers(self) -> dict[str, float]:
        """Python-worker totals over the SQL executions since the last mark
        or read.  Values come from the driver's accumulators, not from the
        status store: the store drops the updates of a node that ran in
        another execution's job, which is how a lazy ``localCheckpoint``
        runs it."""
        n = int(self._sql.executionsCount())
        execs = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        # a plan node reused by later executions keeps its accumulators,
        # so each is read once
        accs: dict[int, str] = {}
        for i in range(execs.size()):
            nodes = self._sql.planGraph(execs.apply(i).executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not any(w in node.name() for w in ("Python", "Pandas", "Arrow")):
                    continue
                ms = node.metrics()
                ids = {ms.apply(q).name(): ms.apply(q).accumulatorId() for q in range(ms.size())}
                if "time to run Python workers" in ids:
                    accs.update((ids[name], key) for name, key in PY_METRICS.items() if name in ids)
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        for acc_id, key in accs.items():
            acc = self._acc.get(acc_id)
            if acc.isDefined():
                v = acc.get().value()
                out[key] += v / 1000.0 if key.endswith("_s") else v  # timings are ms
        return out

    def next_job(self) -> int:
        return int(self._dag.nextJobId()) if self._dag is not None else 0

    def _claim(self, upto: int) -> None:
        if self._stack:
            top = self._stack[-1]
            top.jobs.extend(range(top.mark, upto))
            top.mark = upto

    @contextmanager
    def span(self, name: str):
        with self._lock:
            mark = self.next_job()
            self._claim(mark)
            sp = Span(name, self._stack[-1] if self._stack else None, mark)
            self._stack.append(sp)
        try:
            yield sp
        finally:
            with self._lock:
                self._claim(self.next_job())
                sp.t1 = time.perf_counter()
                self._stack.remove(sp)
                if sp.parent is not None:
                    sp.parent.child_s += sp.t1 - sp.t0
                if self._stack:  # the child's jobs are not the parent's
                    self._stack[-1].mark = max(self._stack[-1].mark, sp.mark)
                self.spans.append(sp)

    def install(self) -> None:
        """Wrap every TRACED function wherever the package binds it."""
        import importlib

        for mod, attr in TRACED:
            module = importlib.import_module(f"{PKG}.{mod}")
            name = f"{mod}.{attr}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(module, cls_name)
                setattr(cls, meth, self._wrap(name, getattr(cls, meth)))
                continue
            orig = getattr(module, attr)
            wrapped = self._wrap(name, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)

    def _wrap(self, name: str, fn):
        builds = name == "sources.artifacts.load_or_build"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if builds:  # the last argument is the cold-build callback
                args = (*args[:-1], self._wrap("sources.artifacts.build", args[-1]))
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _opt_s(opt) -> float | None:
    """A ``scala.Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_table(spark, job_ids) -> dict[int, dict]:
    """Per job: time interval, tasks and the summed metrics of its stages,
    read from the application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages_seen: dict[int, dict] = {}
    out = {}
    for jid in job_ids:
        try:
            j = store.job(jid)
        except Py4JJavaError:  # not in the store: the job is left out
            continue
        sids = j.stageIds()
        rec = {"t0": _opt_s(j.submissionTime()), "t1": _opt_s(j.completionTime()),
               "tasks": j.numTasks(), "failed_tasks": j.numFailedTasks(),
               "stages": sids.size(), "skipped_stages": j.numSkippedStages(),
               "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "input_bytes": 0, "output_bytes": 0, "output_rows": 0}
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid not in stages_seen:
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stages have no attempt
                    stages_seen[sid] = {}
                    continue
                if str(s.status()) == "SKIPPED":
                    stages_seen[sid] = {}
                    continue
                stages_seen[sid] = {
                    "run_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "input_bytes": s.inputBytes(),
                    "output_bytes": s.outputBytes(),
                    "output_rows": s.outputRecords(),
                }
            for key, v in stages_seen[sid].items():
                rec[key] += v
            stages_seen[sid] = {}  # a stage shared by two jobs counts once
        out[jid] = rec
    return out


def union_s(intervals) -> float:
    """Length of the union of (t0, t1) intervals."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def span_totals(spans: list[Span], jobs: dict[int, dict]) -> dict[str, dict[str, float]]:
    """Per span name: ``s`` (wall time), ``self_s`` (minus child spans),
    ``calls``, ``jobs`` (jobs attributed to the span itself) and, over the
    span's jobs and its descendants' jobs, ``incl_jobs``, ``stages``,
    ``tasks``, ``input_bytes``, ``output_bytes`` and ``output_rows``."""
    incl: dict[int, list[int]] = {}
    for s in spans:
        p = s
        while p is not None:
            incl.setdefault(id(p), []).extend(s.jobs)
            p = p.parent
    agg: dict[str, dict[str, float]] = {}
    for s in spans:
        a = agg.setdefault(s.name, dict.fromkeys(
            ("s", "self_s", "calls", "jobs", "incl_jobs", "stages", "tasks",
             "input_bytes", "output_bytes", "output_rows"), 0))
        a["s"] += s.t1 - s.t0
        a["self_s"] += s.t1 - s.t0 - s.child_s
        a["calls"] += 1
        a["jobs"] += len(s.jobs)
        for j in incl.get(id(s), []):
            rec = jobs.get(j)
            if rec:
                a["incl_jobs"] += 1
                a["stages"] += rec["stages"] - rec["skipped_stages"]
                for k in ("tasks", "input_bytes", "output_bytes", "output_rows"):
                    a[k] += rec[k]
    return agg


def _under(span: Span, names) -> bool:
    p = span.parent
    while p is not None and p.name not in names:
        p = p.parent
    return p is not None


def layer_metrics(spark, tracer: Tracer, rounds: list[dict], setup: dict,
                  extra: dict | None) -> tuple[dict[str, float], dict]:
    """Per-layer metrics per traced round, and the per-span totals behind them.

    For every span name ``N`` the result has ``N.<k>`` for each total of
    ``span_totals``, divided by the number of traced rounds;
    ``setup.N.<k>``, the same totals over the set-up (session start,
    input generation and the warm rounds); and, when the workload has
    work that only traced runs make, ``extra.N.<k>`` over that work.
    ``extra.python_workers.<k>`` sums the plan nodes that run Python
    workers over the extra work.
    """
    traced = [r for r in rounds if r["traced"]]
    n = len(traced)
    windows = {"setup": setup, "extra": extra} if extra else {"setup": setup}
    job_ids = [j for r in traced for j in range(*r["jobs"])]
    jobs = job_table(spark, job_ids + [j for w in windows.values() for j in range(*w["jobs"])])
    in_rounds = [s for s in tracer.spans
                 if any(a <= s.t0 <= b for a, b in (r["t"] for r in traced))]
    agg = span_totals(in_rounds, jobs)
    m = {f"{name}.{k}": v / n for name, a in agg.items() for k, v in a.items()}
    window_agg = {}
    for label, w in windows.items():
        a, b = w["t"]
        window_agg[label] = span_totals([s for s in tracer.spans if a <= s.t0 <= b], jobs)
        m.update({f"{label}.{name}.{k}": v
                  for name, t in window_agg[label].items() for k, v in t.items()})

    merge = span_totals([s for s in in_rounds if _under(s, INGEST_STEPS)], jobs).get(
        "operators.merge.ParquetMergeTable.merge", {})
    if merge.get("input_bytes"):
        m["operators.merge.bytes_written_per_input_byte"] = (
            merge["output_bytes"] / merge["input_bytes"])
    source_rows = sum(r.get("merge_source_rows", 0) for r in traced)
    if merge.get("output_rows") and source_rows:
        m["operators.merge.useful_write_ratio"] = source_rows / merge["output_rows"]

    phases = [agg.get(f"bench.catalog.{p}", {}) for p in ("construct", "plan", "execute")]
    for p, a in zip(("construct", "plan", "execute"), phases):
        m[f"plans.catalog.{p}_s"] = a.get("s", 0) / n
    m["plans.catalog.construct_jobs"] = phases[0].get("incl_jobs", 0) / n
    for k in ("jobs", "stages", "tasks"):
        m[f"plans.catalog.{k}"] = sum(a.get("incl_jobs" if k == "jobs" else k, 0)
                                      for a in phases) / n

    calls = agg.get("sources.artifacts.load_or_build", {}).get("calls", 0)
    builds = agg.get("sources.artifacts.build", {}).get("calls", 0)
    m["sources.artifacts.load_or_build.builds"] = builds / n
    if calls:
        m["sources.artifacts.hit_ratio"] = (calls - builds) / calls
    if extra:
        m.update({f"extra.python_workers.{k}": v for k, v in extra["python"].items()})
    # the session starts before any round
    m["session.get_spark.s"] = sum(s.t1 - s.t0 for s in tracer.spans
                                   if s.name == "session.get_spark")

    recs = [jobs[j] for j in job_ids if j in jobs]
    jobs_s = union_s((r["t0"], r["t1"]) for r in recs) / n
    m["spark.jobs"] = len(recs) / n
    for key, name in (("stages", "stages"), ("skipped_stages", "skipped_stages"),
                      ("tasks", "tasks"), ("failed_tasks", "failed_tasks"),
                      ("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s"),
                      ("gc_s", "jvm_gc_s"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                      ("input_bytes", "input_bytes"), ("output_bytes", "output_bytes")):
        m[f"spark.{name}"] = sum(r[key] for r in recs) / n
    m["spark.jobs_s"] = jobs_s
    m["spark.driver_s"] = max(sum(r["wall_s"] for r in traced) / n - jobs_s, 0.0)

    round_s = [sum(s for _, s in r["steps"]) for r in rounds]
    m["trace.overhead_s"] = (
        statistics.median(x for x, r in zip(round_s, rounds) if r["traced"])
        - statistics.median(x for x, r in zip(round_s, rounds) if not r["traced"]))

    def top(totals: dict, per: int) -> str:
        name, self_s = max(((k, a["self_s"] / per) for k, a in totals.items()
                            if not k.startswith("bench.")), key=lambda kv: kv[1],
                           default=("none", 0.0))
        return f"{name} (self {self_s:.3f} s)"

    dominant = (f"{top(agg, n)} per round, with Spark jobs running {jobs_s:.3f} s and the "
                f"driver alone {m['spark.driver_s']:.3f} s; "
                + "; ".join(f"in {label} {top(t, 1)}" for label, t in window_agg.items()))
    return m, {"dominant": dominant, "rounds_traced": n,
               "spans": {k: {q: v / n for q, v in a.items()} for k, a in agg.items()},
               **{f"{label}_spans": t for label, t in window_agg.items()}}
