"""The table DDL is the only schema: declared on read, enforced on write.

Opening a LakeTable or DeltaFrontier must start no Spark job (the DDL is
handed to the parquet scan, so nothing infers a schema from footers), a
staged delta's row count comes from its parquet footers, and every file
the engine writes carries exactly its table's DDL.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from web_crawler_spark import html_synth
from web_crawler_spark.plans.epoch import (ARTICLES_DDL, FRONTIER_DDL,
                                           CrawlConfig, CrawlEngine)
from web_crawler_spark.sources.tables import DeltaFrontier, LakeTable


def _frontier_rows(spark, n, start=0, next_fetch_ts=0.0):
    return spark.range(start, start + n).select(
        F.concat(F.lit("https://h.com/a/"), F.col("id").cast("string"))
        .alias("url"),
        F.lit("h.com").alias("host"), F.lit("article").alias("kind"),
        F.lit("rbc").alias("parser_class"), F.lit(1).alias("source_id"),
        F.lit(1).alias("priority"), F.col("id").alias("discovered_seq"),
        F.lit(float(next_fetch_ts)).alias("next_fetch_ts"),
        F.lit(0).alias("retries"),
        F.lit(None).cast("string").alias("date_str"),
        F.lit(None).cast("string").alias("list_title"),
        F.lit(None).cast("string").alias("list_summary"),
        F.lit(0).alias("epoch_added"))


def _jobs_in_group(spark, group, fn):
    """Run fn under a fresh job group; return (fn's result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_reads_start_no_spark_job(spark, tmp_path):
    f = DeltaFrontier(str(tmp_path / "f"), FRONTIER_DDL)
    f.overwrite(_frontier_rows(spark, 20), epoch=0)
    f.commit_delta(1, f.stage_delta(
        _frontier_rows(spark, 10, start=100, next_fetch_ts=500.0),
        _frontier_rows(spark, 5).select(*DeltaFrontier.KEY), 1))
    arts = LakeTable(str(tmp_path / "articles"), ARTICLES_DDL)
    arts.append(spark.range(3).select(
        F.col("id").alias("source_id"),
        F.col("id").cast("string").alias("url"),
        F.lit("t").alias("title"), F.lit("c").alias("content"),
        F.lit("2024-01-01").alias("published_date"),
        F.lit("2024-01-01").alias("scraped_date"),
        F.lit(0).alias("epoch"), F.lit(1).alias("priority"),
        F.col("id").alias("discovered_seq")), 0)
    empty = LakeTable(str(tmp_path / "empty"), ARTICLES_DDL)

    def open_all():
        return [f.read(spark), f.read(spark, due_before=100.0),
                arts.read(spark), arts.read(spark, before_epoch=0),
                empty.read(spark)]

    frames, n_jobs = _jobs_in_group(spark, "wcs-declared-open", open_all)
    assert n_jobs == 0
    full, due, a, a_none, e = frames
    assert full.schema == due.schema == f.schema
    assert a.schema == a_none.schema == e.schema == arts.schema
    # the tracker does see the group's jobs once an action runs
    counts, n_jobs = _jobs_in_group(
        spark, "wcs-declared-count",
        lambda: (full.count(), due.count(), a.count(), e.count()))
    assert n_jobs > 0
    assert counts == (25, 15, 3, 0)


def test_staged_rows_come_from_footers(spark, tmp_path):
    f = DeltaFrontier(str(tmp_path / "f"), FRONTIER_DDL)
    f.overwrite(_frontier_rows(spark, 30), epoch=0)
    staged, n_jobs = _jobs_in_group(
        spark, "wcs-declared-stage",
        lambda: f.stage_delta(_frontier_rows(spark, 7, start=100),
                              _frontier_rows(spark, 4).select(
                                  *DeltaFrontier.KEY), 1))
    for kind, want in (("add", 7), ("del", 4)):
        assert staged[kind]["rows"] == want == \
            spark.read.parquet(staged[kind]["staging"]).count()
    # only the two writes ran jobs: no inference or count job on top
    assert n_jobs == 2


def test_write_must_match_the_ddl(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"), "k string, v bigint")
    with pytest.raises(ValueError, match="missing"):
        t.append(spark.createDataFrame([("a",)], "k string"), 0)
    with pytest.raises(ValueError, match="extra"):
        t.append(spark.createDataFrame([("a", 1, 2)],
                                       "k string, v bigint, w int"), 0)
    f = DeltaFrontier(str(tmp_path / "f"), FRONTIER_DDL)
    with pytest.raises(ValueError, match="missing"):
        f.overwrite(_frontier_rows(spark, 3).drop("list_summary"), epoch=0)
    assert t.is_empty() and f.is_empty()
    # order and types are projected onto the DDL: (v int, k) lands as (k, v bigint)
    t.append(spark.createDataFrame([(1, "a")], "v int, k string"), 0)
    assert pq.read_schema(next(
        os.path.join(t.path, "epoch=0", fn)
        for fn in os.listdir(os.path.join(t.path, "epoch=0"))
        if fn.endswith(".parquet"))).names == ["k", "v"]
    assert [tuple(r) for r in t.read(spark).collect()] == [("a", 1)]


def test_engine_files_carry_their_table_ddl(spark, tmp_path):
    """A 3-epoch crawl with every optional table on (link graph, bloom
    seen-shards, tombstones): every parquet file's footer schema equals its
    table's DDL in names, order and types."""
    web = html_synth.synth_web(n_articles=120, n_hosts=4, seed=5,
                               cross_cite_frac=0.3)
    eng = CrawlEngine(spark, str(tmp_path / "w"),
                      html_synth.pages_df(spark, web),
                      CrawlConfig(request_delay=0.0, per_host_budget=4,
                                  rank_host_budgets=True,
                                  rank_budget_floor=2,
                                  bloom_min_articles=0))
    tables = [eng.articles, eng.metrics, eng.checkpoints,
              eng.partition_checkpoints, eng.sources, eng.seen_shards,
              eng.link_edges, eng.frontier]
    checked = set()

    def check_files():
        for t in tables:
            for root, _dirs, files in os.walk(t.path):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    is_del = os.path.basename(root).startswith("del=")
                    want = to_arrow_schema(t.del_schema() if is_del
                                           else t.schema)
                    got = pq.read_schema(os.path.join(root, fn))
                    assert [(x.name, x.type) for x in got] == \
                        [(x.name, x.type) for x in want], (root, fn)
                    checked.add((t.path, is_del))

    eng.bootstrap(html_synth.seeds_df(spark, web))
    for epoch in range(3):     # tombstones may be compacted away later
        eng.run_epoch(epoch)
        check_files()
    assert {p for p, _ in checked} == {t.path for t in tables}
    assert (eng.frontier.path, True) in checked, "no tombstones written"
