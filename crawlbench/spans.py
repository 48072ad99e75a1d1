"""In-memory spans around calls into the engine's layers.

Nothing here edits the package: `install` swaps the public functions of
each layer for thin wrappers at run time and `uninstall` puts them back.
A span records layer, name, start, end and its parent span. When a
SparkContext is attached, each span also sets its own Spark job group,
so `statusTracker()` can count the jobs a span started itself, and the
event log can attribute stage metrics to it (`eventlog_by_group`).

The eager actions `run_epoch` issues itself (`localCheckpoint`, `first`,
`count`) are traced only when called from `plans/epoch.py`, and each
such span is named after the statement at its call line (`sched`,
`fetched`, `cube`, ...), found with `ast` in the engine's source.
"""

from __future__ import annotations

import ast
import json
import os
import sys
import time
from typing import Callable, Dict, List, Optional


class Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "group",
                 "jobs", "attrs", "children")

    def __init__(self, sid: int, parent: Optional["Span"], layer: str,
                 name: str, t0: float):
        self.id = sid
        self.parent = parent
        self.layer = layer
        self.name = name
        self.t0 = t0
        self.t1 = t0
        self.group: Optional[str] = None
        self.jobs: List[int] = []
        self.attrs: dict = {}
        self.children: List["Span"] = []

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_time(self) -> float:
        """Duration minus the part covered by child spans (children of one
        span never overlap: the driver issues calls from one thread)."""
        return self.dur - sum(c.dur for c in self.children)

    def to_json(self) -> dict:
        return {"id": self.id,
                "parent": self.parent.id if self.parent else None,
                "layer": self.layer, "name": self.name,
                "t0": self.t0, "t1": self.t1, "self_s": self.self_time,
                "group": self.group, "jobs": self.jobs, "attrs": self.attrs}


class Tracer:
    def __init__(self, sc=None, clock: Callable[[], float] = time.perf_counter,
                 prefix: str = "cb"):
        self.sc = sc
        self.clock = clock
        self.prefix = prefix
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @property
    def current(self) -> Optional[Span]:
        return self._stack[-1] if self._stack else None

    def start(self, layer: str, name: str) -> Span:
        parent = self.current
        s = Span(len(self.spans), parent, layer, name, self.clock())
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        if self.sc is not None:
            s.group = f"{self.prefix}-{s.id}"
            self.sc.setJobGroup(s.group, f"{layer} {name}")
        return s

    def end(self, s: Span) -> None:
        assert self._stack and self._stack[-1] is s, "spans must nest"
        s.t1 = self.clock()
        self._stack.pop()
        if self.sc is not None:
            s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(s.group))
            parent = self.current
            if parent is not None:
                self.sc.setJobGroup(parent.group,
                                    f"{parent.layer} {parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def subtree(self, root: Span) -> List[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(s.children)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json(), default=str) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        self.span = self.tracer.start(self.layer, self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.span)


# ---------------------------------------------------------------------------
# naming run_epoch's own actions from their call line
# ---------------------------------------------------------------------------

class CallSiteNamer:
    """Maps a line of a source file to a short name for the innermost
    statement that contains it: the assignment target (`sched = sched
    .localCheckpoint(...)` -> `sched`) or, for a bare expression, the
    first 40 characters of it."""

    def __init__(self, source: str):
        self._by_line: Dict[int, str] = {}
        best: Dict[int, int] = {}
        for node in ast.walk(ast.parse(source)):
            if not isinstance(node, ast.stmt) or isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef,
                           ast.ClassDef, ast.If, ast.For, ast.While,
                           ast.With, ast.Try)):
                continue
            name = self._stmt_name(node)
            width = node.end_lineno - node.lineno
            for ln in range(node.lineno, node.end_lineno + 1):
                if ln not in best or width < best[ln]:
                    best[ln] = width
                    self._by_line[ln] = name

    @staticmethod
    def _stmt_name(node: ast.stmt) -> str:
        if isinstance(node, ast.Assign):
            return ast.unparse(node.targets[0])
        if isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            return ast.unparse(node.target)
        return ast.unparse(node)[:40]

    def name(self, lineno: int) -> str:
        return self._by_line.get(lineno, f"line{lineno}")


#: statement name of each eager action in run_epoch -> the layer it
#: belongs to (anything else in plans/epoch.py stays in plans.epoch)
ACTION_LAYERS = {
    "sched": "operators.politeness",
    "fetched": "functions.extract",
    "cube": "sources.tables",
    "host_budgets": "operators.pagerank",
}

#: table directory -> layer, for LakeTable/DeltaFrontier spans
TABLE_LAYERS = {"seen_shards": "operators.dedup",
                "link_edges": "operators.pagerank"}

LAKE_METHODS = ("append", "overwrite", "merge", "read", "stage_overwrite",
                "commit_staged_overwrite", "committed_epochs", "meta",
                "is_empty")
FRONTIER_METHODS = ("is_empty", "stats", "stage_delta", "stage_adds",
                    "commit_replace", "commit_delta", "overwrite",
                    "min_stat", "read", "maybe_compact")
#: table calls that write files (their file-system delta is recorded)
WRITE_METHODS = {"append", "overwrite", "merge", "stage_overwrite",
                 "commit_staged_overwrite", "stage_delta", "stage_adds",
                 "commit_replace", "commit_delta", "maybe_compact"}


def _files(path: str) -> Dict[tuple, tuple]:
    """(inode, mtime) -> (size, is_parquet) under path. Both survive the
    staging renames, so a staged-then-committed file counts once."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                st = os.stat(os.path.join(root, fn))
            except OSError:
                continue
            out[(st.st_ino, st.st_mtime_ns)] = (st.st_size,
                                                fn.endswith(".parquet"))
    return out


class Instrumentation:
    """Installs the wrappers; `uninstall()` restores every original."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: List[tuple] = []
        self._table_depth = 0

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = owner.__dict__[attr]
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- wrappers ------------------------------------------------------------
    def _plain(self, layer: str, name: str):
        tr = self.tracer

        def wrap(fn):
            def traced(*args, **kwargs):
                with tr.span(layer, name):
                    return fn(*args, **kwargs)
            traced.__wrapped__ = fn
            return traced
        return wrap

    def _table(self, method: str):
        tr, inst = self.tracer, self

        def wrap(fn):
            def traced(table, *args, **kwargs):
                tname = os.path.basename(os.path.normpath(table.path))
                layer = TABLE_LAYERS.get(tname, "sources.tables")
                writes = method in WRITE_METHODS and inst._table_depth == 0
                before = _files(table.path) if writes else None
                inst._table_depth += 1
                try:
                    with tr.span(layer, f"{tname}.{method}") as s:
                        out = fn(table, *args, **kwargs)
                        if method == "stage_delta":
                            s.attrs["del_rows"] = out["del"]["rows"]
                finally:
                    inst._table_depth -= 1
                if method == "read" and out is not None:
                    s.attrs["files"] = len(out.inputFiles())
                if writes:
                    new = [v for k, v in _files(table.path).items()
                           if k not in before]
                    s.attrs["bytes_written"] = sum(sz for sz, pq in new if pq)
                    s.attrs["files_written"] = sum(1 for _, pq in new if pq)
                return out
            traced.__wrapped__ = fn
            return traced
        return wrap

    def _action(self, method: str, epoch_file: str, namer: CallSiteNamer):
        tr = self.tracer

        def wrap(fn):
            def traced(df, *args, **kwargs):
                caller = sys._getframe(1)
                if caller.f_code.co_filename != epoch_file:
                    return fn(df, *args, **kwargs)
                stmt = namer.name(caller.f_lineno)
                layer = ACTION_LAYERS.get(stmt, "plans.epoch")
                with tr.span(layer, f"{stmt}.{method}") as s:
                    s.attrs["line"] = caller.f_lineno
                    out = fn(df, *args, **kwargs)
                    if method == "first" and out is not None:
                        s.attrs["row"] = out.asDict()
                    elif method == "count":
                        s.attrs["rows"] = out
                    return out
            traced.__wrapped__ = fn
            return traced
        return wrap

    def _epoch(self, fn):
        tr = self.tracer

        def traced(engine, epoch, *args, **kwargs):
            with tr.span("plans.epoch", "run_epoch") as s:
                s.attrs["epoch"] = epoch
                out = fn(engine, epoch, *args, **kwargs)
                s.attrs["result"] = dict(out)
            # manifest-only read, taken outside the span (no Spark job)
            stats = type(engine.frontier).stats
            s.attrs["frontier_stats"] = getattr(stats, "__wrapped__",
                                                stats)(engine.frontier)
            return out
        traced.__wrapped__ = fn
        return traced

    # -- install ---------------------------------------------------------------
    def install_epoch_timer(self) -> "Instrumentation":
        """Only `run_epoch` spans: the untraced run's epoch wall times."""
        from web_crawler_spark.plans.epoch import CrawlEngine
        self._patch(CrawlEngine, "run_epoch", self._epoch)
        return self

    def install(self) -> "Instrumentation":
        try:        # Spark 4: the methods live on the classic subclass
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from web_crawler_spark.functions import canonicalize, extract
        from web_crawler_spark.operators import dedup, pagerank, politeness
        from web_crawler_spark.plans import epoch as epoch_mod
        from web_crawler_spark.sources.tables import DeltaFrontier, LakeTable

        for m in LAKE_METHODS:
            self._patch(LakeTable, m, self._table(m))
        for m in FRONTIER_METHODS:
            self._patch(DeltaFrontier, m, self._table(m))
        self._patch(epoch_mod.CrawlEngine, "bootstrap",
                    self._plain("plans.epoch", "bootstrap"))
        self._patch(epoch_mod.CrawlEngine, "run_epoch", self._epoch)
        epoch_file = epoch_mod.__file__
        with open(epoch_file) as f:
            namer = CallSiteNamer(f.read())
        for m in ("localCheckpoint", "first", "count"):
            self._patch(DataFrame, m, self._action(m, epoch_file, namer))
        for mod, layer, names in (
                (politeness, "operators.politeness",
                 ("schedule_epoch", "hot_host_salts", "salted_repartition",
                  "backoff_requeue")),
                (dedup, "operators.dedup", ("seen_filter",
                                            "first_occurrence")),
                (pagerank, "operators.pagerank", ("pagerank_ranks",)),
                (canonicalize, "functions.canonicalize", ("with_canonical",)),
                (extract, "functions.extract", ("extract_any_udf",
                                                "finish_articles"))):
            for n in names:
                self._patch(mod, n, self._plain(layer, n))
        for n in ("build_bits_df", "or_merge_bits"):
            self._patch(dedup.BloomShards, n,
                        self._plain("operators.dedup", n))
        return self


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def eventlog_by_group(path: str) -> Dict[str, dict]:
    """Per job group: jobs, tasks, summed task run time and JVM CPU time,
    input records and shuffle bytes written — the fields
    tools/eventlog_stages.py reads, keyed by job group instead of stage.
    Expects a plain (uncompressed, non-rolling) event log file."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, dict] = {}

    def acc(g: str) -> dict:
        return out.setdefault(g, {"jobs": 0, "tasks": 0, "run_s": 0.0,
                                  "cpu_s": 0.0, "records_read": 0,
                                  "shuffle_write_bytes": 0})
    with open(path) as f:
        for ln in f:
            if '"SparkListenerJobStart"' not in ln and \
                    '"SparkListenerTaskEnd"' not in ln:
                continue
            e = json.loads(ln)
            if e["Event"] == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                acc(g)["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = g
            else:
                g = stage_group.get(e["Stage ID"])
                if g is None:
                    continue
                tm = e.get("Task Metrics") or {}
                a = acc(g)
                a["tasks"] += 1
                a["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["records_read"] += (tm.get("Input Metrics") or {}).get(
                    "Records Read", 0)
                a["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return out
