"""Crawl-engine benchmark: crawl a synthetic web, then query the lake.

Run from the repository root:

    python3 crawlbench/run.py --workload crawl_deep --seed 1 --seconds 10 --trace 0

One run = one workload in one fresh driver process:

1. stage the fixture web for (workload, seed) unless already staged;
2. set up `SETUP_PASSES` times (Spark session via `session.get_spark`,
   then read the fixture pages and seeds), report the median as setup_s;
3. crawl: `CrawlEngine(...).run(seeds)` to a drained frontier (crawl_s);
4. check the stored articles against the fixture's reference text;
5. query: one closed-loop client issues the CLI query mix over the lake
   the crawl wrote, in whole rounds, for `--seconds`; every answer is
   checked against DuckDB over the same parquet files.

`--trace 1` repeats the run with spans around every layer call, Spark job
groups and the event log on, and reports the per-layer metrics instead.
The last stdout line is the result JSON; the line before it ("# info")
holds the machine (cores, heap, RAM, multiprocessing control) and the
fixture build time. Exit code 1 if any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import spans  # noqa: E402
from stats import median, percentile, tail_percentile  # noqa: E402

#: synthetic web and engine config of each workload (see README.md)
WORKLOADS = {
    "crawl_wide": {
        "web": dict(n_articles=8_000, n_hosts=64, hot_frac=0.0,
                    cross_cite_frac=0.0),
        "config": dict(),
    },
    "crawl_deep": {
        "web": dict(n_articles=4_000, n_hosts=16, hot_frac=0.3,
                    cross_cite_frac=0.3),
        # hot host ~1,200 articles / budget 343: after the list epoch, 3
        # budget-bound epochs and a remainder epoch, 5 in all; the seen
        # shards are compacted once (epoch 3)
        "config": dict(per_host_budget=343, rank_host_budgets=True,
                       rank_budget_floor=172, bloom_min_articles=0,
                       seen_shards_compact_after=3),
    },
}
#: tiny webs with the same shapes, for the benchmark's own smoke tests
SMOKE_WEB = {
    "crawl_wide": dict(n_articles=300, n_hosts=8, hot_frac=0.0,
                       cross_cite_frac=0.0),
    "crawl_deep": dict(n_articles=300, n_hosts=4, hot_frac=0.3,
                       cross_cite_frac=0.3),
}
SMOKE_CONFIG = {"crawl_wide": dict(),
                "crawl_deep": dict(per_host_budget=40, rank_host_budgets=True,
                                   rank_budget_floor=20,
                                   bloom_min_articles=0,
                                   seen_shards_compact_after=2)}

SETUP_PASSES = 5
QUERY_MIX = ("search", "latest_with_source", "count_by_source_name",
             "stats", "count_total")
QUERY_LIMIT = 20                       # the CLI's DEFAULT_LIMIT
MAX_EPOCHS = 100
WORK = os.path.join(".bench_build", "crawlbench")

def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    ram_gb = mem_kb / 2 ** 20
    return {"cores": cores, "ram_gb": round(ram_gb, 1),
            "heap_gb": int(max(1, min(4, ram_gb // 4)))}


def mp_control(cores: int, per: int) -> dict:
    """tools/bench_scaling._mp_control at nproc: plain-multiprocessing
    extraction rate of this machine right now. Diagnostic only."""
    try:
        from tools import bench_scaling
        return {"docs_per_s": round(bench_scaling._mp_control(cores,
                                                               per=per), 1)}
    except Exception as e:                      # noqa: BLE001
        return {"error": repr(e)[:200]}


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def setup_pass(spark, cores: int, conf: dict, fixture_dir: str):
    """One set-up: (re)start the session, read the fixture pages and
    seeds. The first pass also launches the JVM."""
    from web_crawler_spark.session import get_spark
    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark = get_spark("crawlbench", cores=cores, extra_conf=conf)
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages"))
    seeds = spark.read.parquet(os.path.join(fixture_dir, "seeds.parquet"))
    pages.select("url", "html").count()
    seeds.count()
    return spark, pages, seeds, time.perf_counter() - t0


def query_params(rng: random.Random) -> dict:
    from web_crawler_spark import html_synth
    d0 = rng.randrange(4)
    return {"keyword": rng.choice(html_synth._WORDS),
            "start_date": f"2024-01-{1 + d0:02d}",
            "end_date": f"2024-01-{2 + d0 + rng.randrange(4 - d0):02d}",
            "limit": QUERY_LIMIT}


def run_query(spark, workdir: str, kind: str, p: dict):
    """One CLI query: open the tables the way every CLI invocation does
    (`cli._tables`, over LakeTable.read), run the queries.py function."""
    from web_crawler_spark import cli
    from web_crawler_spark import queries as Q
    articles, sources = cli._tables(spark, workdir)
    if kind == "search":
        df = Q.search(articles, sources, p["keyword"],
                      start_date=p["start_date"], end_date=p["end_date"],
                      limit=p["limit"])
    elif kind == "latest_with_source":
        df = Q.latest_with_source(articles, sources, limit=p["limit"])
    elif kind == "count_by_source_name":
        df = Q.count_by_source_name(articles, sources)
    elif kind == "stats":
        df = Q.stats(articles)
    else:
        df = Q.count_total(articles)
    return df.collect()


def query_result(kind: str, rows) -> list:
    if kind in ("search", "latest_with_source"):
        return [(r["url"], r["source_name"]) for r in rows]
    if kind == "count_by_source_name":
        return sorted((r["source_name"], r["n_articles"]) for r in rows)
    if kind == "stats":
        return [(r["total_articles"], r["n_sources"], r["min_published"],
                 r["max_published"]) for r in rows]
    return [(r["n_articles"],) for r in rows]


def cpu_ticks() -> tuple:
    """Machine-wide (busy, steal) seconds from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext
    try:
        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("VmHWM:"))
        return kb / 1024.0
    except (AttributeError, OSError, StopIteration):
        return 0.0


def shutdown(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()            # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:                 # noqa: BLE001
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# per-layer metrics from the traced run
# ---------------------------------------------------------------------------

def layer_metrics(tracer, crawl, queries, evlog: dict, lake, workdir: str,
                  jvm_rss_mb: float) -> dict:
    sub = tracer.subtree(crawl)
    epochs = [s for s in sub if s.name == "run_epoch"]

    def total(pred) -> float:
        return sum(s.dur for s in sub if pred(s))

    def named(*names):
        return lambda s: s.name in names

    # covered = maximal layer spans under the crawl (everything except
    # the crawl root and the run_epoch containers)
    covered = 0.0
    todo = list(crawl.children)
    while todo:
        s = todo.pop()
        if s.name == "run_epoch":
            todo.extend(s.children)
        else:
            covered += s.dur
    def ev(spans_, key):            # event-log task metrics of these spans
        return sum(evlog.get(s.group, {}).get(key, 0) for s in spans_)

    fetch = [s for s in sub if s.name == "fetched.localCheckpoint"]
    run_s, cpu_s = ev(fetch, "run_s"), ev(fetch, "cpu_s")
    frontier_in = sum(s.attrs["result"]["frontier_in"] for s in epochs)
    scheduled = sum(s.attrs["row"]["n"] for s in sub
                    if s.name == "sc.first")
    writes = [s for s in sub if "bytes_written" in s.attrs]
    q_all = [s for q in queries for s in tracer.subtree(q)]
    reads = [s for q in queries for s in tracer.subtree(q)
             if s.name.endswith(".read")]
    rows_ret = sum(q.attrs.get("rows", 0) for q in queries)
    all_spans = sub + q_all
    extract_rows = lake.table_rows(
        workdir, "partition_checkpoints", "SELECT sum(rows_in) FROM t")[0][0]
    skipped_dup = lake.table_rows(
        workdir, "metrics", "SELECT sum(s) FROM (SELECT epoch,"
        " max(skipped_dup) AS s FROM t GROUP BY epoch)")[0][0]
    m = {
        "plans.epoch.traced_crawl_s": crawl.dur,
        "plans.epoch.bootstrap_s": total(named("bootstrap")),
        "plans.epoch.epochs": len(epochs),
        "plans.epoch.spark_jobs_per_epoch":
            sum(len(x.jobs) for e in epochs for x in tracer.subtree(e))
            / max(1, len(epochs)),
        "plans.epoch.unattributed_s": crawl.dur - covered,
        "plans.epoch.span_coverage": covered / crawl.dur,
        "functions.extract.fetch_extract_s": sum(s.dur for s in fetch),
        "functions.extract.extract_rows": int(extract_rows or 0),
        "functions.extract.py_wait_s": run_s - cpu_s,
        "functions.extract.jvm_cpu_s": cpu_s,
        "operators.politeness.schedule_s":
            total(lambda s: s.layer == "operators.politeness"),
        "operators.politeness.scheduled_rows": scheduled,
        "operators.politeness.deferred_frac":
            (frontier_in - scheduled) / frontier_in if frontier_in else 0.0,
        "operators.dedup.seen_shards_write_s":
            total(named("seen_shards.append", "seen_shards.overwrite")),
        "operators.dedup.skipped_dup": int(skipped_dup or 0),
        "sources.tables.frontier_stage_s":
            total(named("frontier.stage_delta", "frontier.stage_adds")),
        "sources.tables.frontier_commit_s":
            total(named("frontier.commit_delta", "frontier.commit_replace")),
        "sources.tables.frontier_compact_s":
            total(named("frontier.maybe_compact")),
        "sources.tables.frontier_del_rows":
            sum(s.attrs.get("del_rows", 0) for s in sub),
        "sources.tables.frontier_snapshots":
            max([s.attrs["frontier_stats"]["snapshots"] for s in epochs]
                or [0]),
        "sources.tables.articles_append_s": total(named("articles.append")),
        "sources.tables.lineage_s": total(named(
            "partition_checkpoints.append", "metrics.append",
            "checkpoints.append", "cube.localCheckpoint")),
        "sources.tables.sources_stamp_s": sum(
            x.dur for e in epochs for x in e.children
            if x.name.startswith("sources.")),
        "sources.tables.bytes_written":
            sum(s.attrs["bytes_written"] for s in writes),
        "sources.tables.files_written":
            sum(s.attrs["files_written"] for s in writes),
        "sources.tables.read_plan_ms":
            1000.0 * median([s.dur for s in reads]),
        "sources.tables.files_per_read":
            sum(s.attrs.get("files", 0) for s in reads) / max(1, len(reads)),
        "operators.pagerank.rank_s": total(
            named("pagerank_ranks", "host_budgets.localCheckpoint")),
        "operators.pagerank.link_edges_append_s":
            total(named("link_edges.append")),
        "queries.rows_scanned_per_row_returned":
            ev(q_all, "records_read") / max(1, rows_ret),
        "session.jobs": ev(all_spans, "jobs"),
        "session.tasks": ev(all_spans, "tasks"),
        "session.shuffle_bytes": ev(all_spans, "shuffle_write_bytes"),
        "session.driver_peak_rss_mb": jvm_rss_mb + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    for kind in QUERY_MIX:
        m[f"queries.{kind}_p50_ms"] = 1000.0 * median(
            [q.dur for q in queries if q.name == kind])
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the query phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny web and 2 set-up passes (tests only)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import web_crawler_spark  # noqa: F401
        from pyspark import SparkContext  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: cannot import the engine from {root}: {e}",
              file=sys.stderr)
        return 2
    spec = WORKLOADS[args.workload]
    web = SMOKE_WEB[args.workload] if args.smoke else spec["web"]
    config = SMOKE_CONFIG[args.workload] if args.smoke else spec["config"]
    passes = 2 if args.smoke else SETUP_PASSES

    work = os.path.join(root, WORK)
    for d in ("tmp", "spark-local", "eventlog", "fixtures", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    mach = machine()
    os.environ["SPARK_DRIVER_MEM"] = f"{mach['heap_gb']}g"
    mach["mp_control"] = mp_control(mach["cores"],
                                    per=2000 if args.smoke else 10000)

    fixture_dir, fixture_s = fixtures.stage(
        os.path.join(work, "fixtures"), seed=args.seed, **web)
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "machine": mach,
            "fixture": {"dir": os.path.basename(fixture_dir),
                        "fixture_s": round(fixture_s, 3)}}

    from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
    import reference

    tracer = spans.Tracer()
    inst = spans.Instrumentation(tracer)
    spark = None
    attempted = failed = 0
    try:
        conf = session_conf(work, bool(args.trace))
        setup = []
        for _ in range(passes):
            spark, pages, seeds, dt = setup_pass(spark, mach["cores"], conf,
                                                 fixture_dir)
            setup.append(dt)
        info["setup_passes_s"] = [round(x, 3) for x in setup]
        if args.trace:
            tracer.sc = spark.sparkContext
            inst.install()
        else:
            inst.install_epoch_timer()

        workdir = os.path.join(work, f"lake-{args.workload}")
        shutil.rmtree(workdir, ignore_errors=True)
        eng = CrawlEngine(spark, workdir, pages, CrawlConfig(**config))
        attempted += 1
        busy0, steal0 = cpu_ticks()
        with tracer.span("bench", "crawl") as crawl:
            eng.run(seeds, max_epochs=MAX_EPOCHS)
        busy1, steal1 = cpu_ticks()
        info["crawl_cpu"] = {"busy_s": round(busy1 - busy0, 2),
                             "steal_s": round(steal1 - steal0, 2)}
        epochs = [s for s in tracer.subtree(crawl) if s.name == "run_epoch"]
        info["epochs_s"] = [round(s.dur, 3) for s in epochs]

        con = reference.connect()
        lake = reference.Lake(con, workdir)
        check = lake.crawl_check(fixture_dir)
        info["crawl_check"] = check
        if not check["ok"]:
            failed += 1
            print(f"crawlbench: crawl output check failed: {check}",
                  file=sys.stderr)
        lake_bytes = dir_bytes(workdir)

        # query phase: closed loop, one client, whole rounds of the mix;
        # the first round warms the query plans and is checked, not timed
        rng = random.Random(args.seed)
        answers = {}
        queries = []
        deadline, timed_rounds = None, 0
        while deadline is None or not timed_rounds or \
                time.perf_counter() < deadline:
            timed = deadline is not None
            params = query_params(rng)
            for kind in QUERY_MIX:
                attempted += 1
                key = (kind, json.dumps(params, sort_keys=True)
                       if kind == "search" else "")
                try:
                    with tracer.span("queries", kind) as q:
                        rows = run_query(spark, workdir, kind, params)
                    if timed:
                        queries.append(q)
                    q.attrs["rows"] = len(rows)
                    got = query_result(kind, rows)
                    if key not in answers:
                        answers[key] = lake.answer(kind, params)
                    if got != answers[key]:
                        failed += 1
                        print(f"crawlbench: {kind} {params} returned "
                              f"{got[:5]}..., DuckDB {answers[key][:5]}...",
                              file=sys.stderr)
                except Exception:                  # noqa: BLE001
                    failed += 1
                    traceback.print_exc()
            if timed:
                timed_rounds += 1
            else:
                deadline = time.perf_counter() + args.seconds
        inst.uninstall()
        q_ms = [1000.0 * q.dur for q in queries]
        info["queries"] = {"n": len(q_ms),
                           "ms": [round(x, 1) for x in q_ms],
                           "tail_percentile": tail_percentile(len(q_ms))}
        if info["queries"]["tail_percentile"]:
            info["queries"]["tail_ms"] = percentile(
                q_ms, info["queries"]["tail_percentile"])

        stored = check["stored"]
        if args.trace:
            rss = jvm_peak_rss_mb()
            app_id = spark.sparkContext.applicationId
            shutdown(spark)
            spark = None
            evlog = spans.eventlog_by_group(
                os.path.join(work, "eventlog", app_id))
            metrics = layer_metrics(tracer, crawl, queries, evlog, lake,
                                    workdir, rss)
            tracer.dump(os.path.join(
                work, "results", f"spans-{args.workload}-{args.seed}.jsonl"))
            for fn in os.listdir(os.path.join(work, "eventlog")):
                os.remove(os.path.join(work, "eventlog", fn))
        else:
            metrics = {
                "setup_s": median(setup),
                "crawl_s": crawl.dur,
                "articles_per_s": stored / crawl.dur,
                "epoch_p50_s": median([s.dur for s in epochs]),
                "lake_bytes_per_content_byte":
                    lake_bytes / max(1, check["content_bytes"]),
                "query_p50_ms": median(q_ms),
            }
        con.close()
    except Exception:                               # noqa: BLE001
        traceback.print_exc()
        inst.uninstall()
        print(json.dumps({"correct": False, "attempted": max(1, attempted),
                          "failed": max(1, failed), "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            shutdown(spark)

    units = _units(bool(args.trace))
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items() if k in units}}
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise SystemExit(f"crawlbench: metrics not produced: {missing}")
    info["failed_frac"] = failed / attempted
    with open(os.path.join(work, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1)
    print("# info " + json.dumps(info))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _units(trace: bool) -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"]
            for m in b["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
