"""Authority-weighted per-host budgets (opt-in PageRank frontier wiring).

The loop operators/pagerank.py promises: the engine logs the discovered
host→host link graph, ranks it with the integer-exact power method, and
scales each ranked host's epoch budget by its rank share at SCHEDULE time
(a broadcast dim join — the frontier table is never rewritten). Default-off
preserves reference semantics exactly."""

from pyspark.sql import functions as F

from web_crawler_spark import html_synth, refspec
from web_crawler_spark.functions import canonicalize
from web_crawler_spark.operators import politeness
from web_crawler_spark.operators.pagerank import pagerank_ranks
from web_crawler_spark.plans.epoch import SEQ_STRIDE, CrawlConfig, CrawlEngine

HA, HB, HC = ("www.ha.rbc.ua", "www.hb.rbc.ua", "www.hc.rbc.ua")


def _hub_web():
    """Three rbc-shaped hosts; archives on HB and HC also cite HA's
    articles (absolute links), so the host graph is {HB→HA, HC→HA}."""
    pages = {}

    def art(host, name, aid):
        url = f"https://{host}/news/{name}{aid}"
        pages[url] = (
            f'<html><body><h1 class="article__title">T {name}{aid}</h1>'
            f'<div class="article__text"><p>body {name}{aid}</p></div>'
            f"</body></html>").encode()
        return url

    a_urls = [art(HA, "a", i) for i in range(6)]
    b_urls = [art(HB, "b", i) for i in range(6)]
    c_urls = [art(HC, "c", i) for i in range(6)]

    def item(href):
        return (f'<div><a href="{href}">'
                f'<span class="time">09:00</span> item</a></div>')

    def archive(host, own, cite=()):
        url = f"https://{host}/rus/archive/2024/01/01"
        items = [item(u.replace(f"https://{host}", "")) for u in own]
        items += [item(u) for u in cite]          # absolute cross-host links
        pages[url] = (f'<html><body><div class="newsline">'
                      f'{"".join(items)}</div></body></html>').encode()
        return url

    seeds = [(archive(HA, a_urls), 0, "rbc"),
             (archive(HB, b_urls, cite=a_urls), 1, "rbc"),
             (archive(HC, c_urls, cite=a_urls), 2, "rbc")]
    return {"pages": pages, "seeds": seeds}


def test_schedule_epoch_applies_per_host_budgets(spark):
    rows = [(f"u{h}{i}", h, "article", "rbc", 0, 0, i, 0.0, 0, None, None,
             None, 0)
            for h in ("a", "b") for i in range(10)]
    frontier = spark.createDataFrame(
        rows, schema=("url string, host string, kind string, "
                      "parser_class string, source_id bigint, priority int, "
                      "discovered_seq bigint, next_fetch_ts double, "
                      "retries int, date_str string, list_title string, "
                      "list_summary string, epoch_added int"))
    budgets = spark.createDataFrame([("a", 7)], "host string, __budget int")
    sched = politeness.schedule_epoch(frontier, per_host_budget=3,
                                      approx_rows=20, host_budgets=budgets)
    got = {r["host"]: r["n"] for r in
           sched.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # host a: explicit budget 7; host b: not ranked -> default 3. The
    # approx_rows<=budget shortcut must NOT bypass truncation here.
    assert got == {"a": 7, "b": 3}
    # first-k by (priority, next_fetch_ts, discovered_seq) within each host
    seqs = sorted(r["discovered_seq"] for r in
                  sched.filter(F.col("host") == "a").collect())
    assert seqs == list(range(7))
    assert "__budget" not in sched.columns


def test_pagerank_string_nodes_match_bigint(spark):
    edges_s = spark.createDataFrame(
        [("7", "9"), ("8", "9"), ("9", "7")], "src string, dst string")
    edges_i = spark.createDataFrame(
        [(7, 9), (8, 9), (9, 7)], "src long, dst long")
    rs = {r["node"]: r["rank_micro"] for r in
          pagerank_ranks(edges_s, node_type="string").collect()}
    ri = {str(r["node"]): r["rank_micro"] for r in
          pagerank_ranks(edges_i).collect()}
    assert rs == ri


def test_engine_rank_budgets_e2e(spark, tmp_path):
    """Epoch 0 discovers the graph; epoch 1 schedules with rank-scaled
    budgets: the hub host gets the full budget, leaf hosts the floor."""
    web = _hub_web()
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages,
                      CrawlConfig(request_delay=0.0, per_host_budget=3,
                                  rank_host_budgets=True,
                                  rank_budget_floor=1))
    eng.bootstrap(seeds)
    eng.run_epoch(0)
    # the committed host graph: HB and HC cite HA, self-loops dropped
    edges = {(r["src"], r["dst"]) for r in
             eng.link_edges.read(spark).collect()}
    assert edges == {(HB, HA), (HC, HA)}
    eng.run_epoch(1)
    m = {r["host"]: r["fetched"] for r in
         eng.metrics.read(spark).filter(F.col("epoch") == 1).collect()}
    # rank(HA) = base + 0.85*(2*base_leaf) >> rank(HB) = rank(HC) = base
    # -> budget(HA) = 1 + 2*1 = 3 (full), budget(leaf) = 1 + 0 = 1
    assert m == {HA: 3, HB: 1, HC: 1}


def test_engine_discovery_runs_no_second_canonicalize_pass(
        spark, tmp_path, monkeypatch):
    """Discovered links come out of the extraction UDF canonical with their
    host: with the frame-level canonicalizer made to raise after bootstrap,
    a rank-budget epoch still commits the host graph and the exact frontier
    adds, in crawl order (list seq + 1 + page position, first occurrence)."""
    web = _hub_web()
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages,
                      CrawlConfig(request_delay=0.0, per_host_budget=3,
                                  rank_host_budgets=True,
                                  rank_budget_floor=1))
    eng.bootstrap(seeds)

    def _second_pass(*a, **k):
        raise AssertionError("links canonicalized outside the extraction UDF")
    monkeypatch.setattr(canonicalize, "with_canonical", _second_pass)
    eng.run_epoch(0)
    edges = {(r["src"], r["dst"]) for r in
             eng.link_edges.read(spark).collect()}
    assert edges == {(HB, HA), (HC, HA)}
    exp = {}
    for prio, (url, _, pc) in enumerate(web["seeds"]):
        links = refspec.extract_links(web["pages"][url], url, pc)
        for pos, lk in enumerate(links):
            cu = refspec.canonicalize_url(lk["url"])
            seq = prio * SEQ_STRIDE + 1 + pos
            if cu and (cu not in exp or seq < exp[cu][1]):
                exp[cu] = (refspec.url_host(cu), seq)
    got = {(r["url"], r["host"], r["discovered_seq"]) for r in
           eng.frontier.read(spark).filter(F.col("epoch_added") == 1)
           .collect()}
    assert got == {(u, h, s) for u, (h, s) in exp.items()}
    assert len(got) == 18                # 6 articles on each of 3 hosts


def test_engine_rank_budgets_off_is_uniform(spark, tmp_path):
    """Same web, flag off: every host gets the default budget in epoch 1."""
    web = _hub_web()
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages,
                      CrawlConfig(request_delay=0.0, per_host_budget=3))
    eng.bootstrap(seeds)
    eng.run_epoch(0)
    eng.run_epoch(1)
    assert eng.link_edges is None
    m = {r["host"]: r["fetched"] for r in
         eng.metrics.read(spark).filter(F.col("epoch") == 1).collect()}
    assert m == {HA: 3, HB: 3, HC: 3}
