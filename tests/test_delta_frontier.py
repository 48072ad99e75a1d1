"""DeltaFrontier (merge-on-read frontier) — incremental-maintenance gates.

Round-3 verdict Next #3: the frontier must not be fully rewritten every
epoch. These tests pin (a) the delta-table semantics (equality deletes with
the Iceberg sequence-number rule, atomic adds+dels commit, compaction) and
(b) the engine-level efficiency criterion: an epoch that touches <1% of the
frontier's rows writes <~5% of the frontier's bytes.
"""

import os

from pyspark.sql import functions as F

from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
from web_crawler_spark.sources.tables import DeltaFrontier, _dir_bytes

DDL = ("url string, host string, kind string, parser_class string, "
       "source_id bigint, priority int, discovered_seq bigint, "
       "next_fetch_ts double, retries int, date_str string, "
       "list_title string, list_summary string, epoch_added int")


def _rows(spark, n, epoch_added=0, retries=0, host="h.com", start=0,
          next_fetch_ts=0.0):
    return spark.range(start, start + n).select(
        F.concat(F.lit(f"https://{host}/a/"), F.col("id").cast("string"))
        .alias("url"),
        F.lit(host).alias("host"), F.lit("article").alias("kind"),
        F.lit("rbc").alias("parser_class"), F.lit(1).alias("source_id"),
        F.lit(1).alias("priority"), F.col("id").alias("discovered_seq"),
        F.lit(float(next_fetch_ts)).alias("next_fetch_ts"),
        F.lit(retries).alias("retries"),
        F.lit(None).cast("string").alias("date_str"),
        F.lit(None).cast("string").alias("list_title"),
        F.lit(None).cast("string").alias("list_summary"),
        F.lit(epoch_added).alias("epoch_added"))


def test_delta_read_applies_equality_deletes(spark, tmp_path):
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    adds = _rows(spark, 3, epoch_added=1, start=100)
    dels = _rows(spark, 4).select("url", "discovered_seq", "retries", "epoch_added")
    staged = t.stage_delta(adds, dels, epoch=1)
    # staged but uncommitted: old snapshot still visible (crash window)
    assert t.read(spark).count() == 10
    t.commit_delta(1, staged)
    live = t.read(spark)
    assert live.count() == 10 - 4 + 3
    gone = {r.url for r in dels.collect()}
    assert not {r.url for r in live.collect()} & gone


def test_delta_sequence_rule_same_epoch_add_not_shadowed(spark, tmp_path):
    """Iceberg v2 sequence numbers: a delete written by snapshot E kills
    only rows with epoch_added <= E-1 — a row RE-ADDED in the same commit
    (same equality key, newer epoch_added) survives its own tombstone."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 5), epoch=0)                 # epoch_added=0
    readd = _rows(spark, 2, epoch_added=1)                # SAME url+seq+retries
    dels = _rows(spark, 5).select("url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(1, t.stage_delta(readd, dels, epoch=1))
    live = t.read(spark).collect()
    assert len(live) == 2
    assert all(r.epoch_added == 1 for r in live)


def test_delta_tombstone_kills_exactly_one_duplicate(spark, tmp_path):
    """ADVICE r4: when the same (url, discovered_seq, retries) coexists in
    the frontier under two epoch_added values (url rediscovered across
    epochs) and only ONE copy is consumed, the tombstone must kill exactly
    that copy — epoch_added is part of the equality key, so the unscheduled
    twin survives and the live-row arithmetic stays exact."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 5, epoch_added=0), epoch=0)
    t.commit_delta(1, t.stage_delta(
        _rows(spark, 5, epoch_added=1),        # same url+seq+retries twins
        _rows(spark, 0).select("url", "discovered_seq", "retries",
                               "epoch_added"), 1))
    assert t.read(spark).count() == 10
    # consume ONLY the epoch_added=0 copies of the first 3 urls
    dels = _rows(spark, 3, epoch_added=0).select(
        "url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(2, t.stage_delta(_rows(spark, 0, start=900), dels, 2))
    live = t.read(spark).collect()
    assert len(live) == 7
    survivors = {(r.url, r.epoch_added) for r in live}
    for r in _rows(spark, 3, epoch_added=1).collect():
        assert (r.url, 1) in survivors         # twins untouched
    for r in _rows(spark, 3, epoch_added=0).collect():
        assert (r.url, 0) not in survivors     # consumed copies gone


def test_delta_compaction_folds_tombstones(spark, tmp_path):
    t = DeltaFrontier(str(tmp_path / "f"), DDL, compact_ratio=0.3)
    t.overwrite(_rows(spark, 100), epoch=0)
    dels = _rows(spark, 60).select("url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(1, t.stage_delta(_rows(spark, 0, start=500), dels, 1))
    before = t.read(spark).count()
    assert t.maybe_compact(spark, 2)
    s = t.stats()
    assert s["del_rows"] == 0 and s["snapshots"] == 1
    assert t.read(spark).count() == before == 40
    # and a small delete set does NOT trigger compaction
    dels2 = _rows(spark, 2, start=60).select("url", "discovered_seq",
                                             "retries", "epoch_added")
    t.commit_delta(3, t.stage_delta(_rows(spark, 0, start=900), dels2, 3))
    assert not t.maybe_compact(spark, 4)
    assert t.read(spark).count() == 38


def test_epoch_writes_delta_not_frontier(spark, tmp_path):
    """The verdict's done-criterion: an epoch that consumes <1% of frontier
    rows writes <5% of the frontier's bytes (old design: 100% every epoch).
    Budget 2 hosts x 100 = 200 of 40,000 rows = 0.5% touched."""
    wd = str(tmp_path / "lake")
    pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    eng = CrawlEngine(spark, wd, pages,
                      CrawlConfig(per_host_budget=100, request_delay=0.0))
    big = _rows(spark, 20000, host="h1.com").unionByName(
        _rows(spark, 20000, host="h2.com", start=20000))
    eng.frontier.overwrite(big.repartition(8), epoch=0)
    base_bytes = eng.frontier.stats()["add_bytes"]
    stats = eng.run_epoch(0)
    assert stats["frontier_in"] == 40000
    assert stats["frontier_out"] == 39800          # 200 consumed, 0 added
    s = eng.frontier.stats()
    delta_bytes = (s["add_bytes"] + s["del_bytes"]) - base_bytes
    assert s["add_bytes"] >= base_bytes            # base files untouched
    assert delta_bytes < 0.05 * base_bytes, (delta_bytes, base_bytes)
    # the delta is REAL: the consumed rows are gone from the live view
    assert eng.frontier.read(spark).count() == 39800
    # no add/del dir beyond the expected snapshots, no rewrite of epoch 0
    dirs = sorted(d for d in os.listdir(eng.frontier.path)
                  if not d.startswith("_"))
    assert dirs == ["add=0", "del=1"]
    assert _dir_bytes(os.path.join(eng.frontier.path, "add=0")) == base_bytes


def test_fresh_dir_allocation_never_reuses_committed_names(spark, tmp_path):
    """Crash-safety invariant behind compaction-after-commit (code-review
    round 4): a new snapshot must never target a directory the manifest
    already references — otherwise the rewrite would rmtree committed data
    BEFORE the manifest swap and a crash in between loses the epoch."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    staged = t.stage_delta(_rows(spark, 3, epoch_added=1, start=50),
                           _rows(spark, 2).select("url", "discovered_seq",
                                                  "retries", "epoch_added"),
                           epoch=1)
    t.commit_delta(1, staged)
    assert t._alloc_dir("add", 1) != "add=1"       # committed name skipped
    before = {(r.url, r.epoch_added) for r in t.read(spark).collect()}
    # compaction with the SAME tag as the just-committed delta (the engine's
    # exact call pattern) must land in a fresh dir and preserve the view
    t.overwrite(t.read(spark), epoch=1)
    after = {(r.url, r.epoch_added) for r in t.read(spark).collect()}
    assert after == before and len(after) == 11
    s = t.stats()
    assert s["snapshots"] == 1 and s["del_rows"] == 0


def test_read_fails_loud_on_missing_committed_dir(spark, tmp_path):
    import pytest as _pytest
    import shutil as _shutil
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 5), epoch=0)
    name = list(t._manifest()["adds"])[0]
    _shutil.rmtree(os.path.join(t.path, name))
    with _pytest.raises(FileNotFoundError, match="corrupt"):
        t.read(spark)


def test_compaction_skipped_when_drained(spark, tmp_path):
    """live_rows=0 prunes the no-win compaction (full read, nothing out) —
    and the hint can only SKIP, never truncate, so a wrong count cannot
    destroy rows."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL, compact_ratio=0.3)
    t.overwrite(_rows(spark, 50), epoch=0)
    dels = _rows(spark, 50).select("url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(1, t.stage_delta(_rows(spark, 0, start=500), dels, 1))
    assert not t.maybe_compact(spark, 2, live_rows=0)
    assert t.stats()["del_rows"] == 50          # tombstones kept, no read
    assert t.read(spark).count() == 0
    # without the hint the same state compacts as before
    assert t.maybe_compact(spark, 2)
    assert t.stats()["del_rows"] == 0


def test_commit_replace_drain_fast_path(spark, tmp_path):
    """Full-consume epochs commit replace-with-adds: no tombstones ever,
    old dirs GC'd, and a DRAINED (0-row) frontier stays distinguishable
    from a never-bootstrapped one (is_empty gates bootstrap on resume)."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    staged = t.stage_adds(_rows(spark, 4, epoch_added=1, start=100), 1)
    assert t.read(spark).count() == 10           # staged, not yet visible
    t.commit_replace(staged)
    assert t.read(spark).count() == 4
    s = t.stats()
    assert s["del_rows"] == 0 and s["snapshots"] == 1
    # drain to zero: 0-row snapshot committed, table NOT "empty"
    t.commit_replace(t.stage_adds(_rows(spark, 0, start=900), 2))
    assert t.read(spark).count() == 0
    assert not t.is_empty()


def test_engine_drain_epoch_uses_replace(spark, tmp_path):
    """An epoch whose budget covers the whole frontier must leave NO
    tombstones (the drain fast path) while a budget-bounded epoch on the
    same engine still writes deltas."""
    pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    eng = CrawlEngine(spark, str(tmp_path / "lake"), pages,
                      CrawlConfig(per_host_budget=10_000,
                                  request_delay=0.0))
    eng.frontier.overwrite(_rows(spark, 500), epoch=0)
    stats = eng.run_epoch(0)                    # 500 <= budget: full consume
    assert stats["frontier_out"] == 0
    assert eng.frontier.stats()["del_rows"] == 0
    assert not eng.frontier.is_empty()          # drained, not uninitialized


def test_read_due_before_prunes_files_and_matches_filter(spark, tmp_path):
    """Round-4 verdict Next #2: read(due_before=t) must (a) SKIP add files
    whose manifest min(next_fetch_ts) exceeds t — assert via inputFiles(),
    the files the scan actually plans — and (b) be value-equal to
    read().filter(next_fetch_ts <= t)."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 20, next_fetch_ts=0.0), epoch=0)
    # epoch-1 delta: deferred retries, all far beyond the horizon
    t.commit_delta(1, t.stage_delta(
        _rows(spark, 15, epoch_added=1, start=100, next_fetch_ts=9_000.0),
        _rows(spark, 0).select(*DeltaFrontier.KEY), 1))
    # epoch-2 delta: due rows again
    t.commit_delta(2, t.stage_delta(
        _rows(spark, 5, epoch_added=2, start=200, next_fetch_ts=10.0),
        _rows(spark, 0).select(*DeltaFrontier.KEY), 2))
    man = t._manifest()
    assert all("stats" in e for e in man["adds"].values())
    pruned = t.read(spark, due_before=100.0)
    full = t.read(spark)
    # file-level assert: no file of the deferred delta is planned
    deferred_dir = [n for n, e in man["adds"].items()
                    if all(r and r[0] > 100.0 for r in e["stats"].values())]
    assert deferred_dir, "fixture must contain a fully-deferred delta"
    planned = set(pruned.inputFiles())
    for d in deferred_dir:
        assert not any(f"/{d}/" in p for p in planned), (d, planned)
    assert len(planned) < len(set(full.inputFiles()))
    # value equivalence with the naive full-scan filter
    naive = full.filter(F.col("next_fetch_ts") <= 100.0)
    assert sorted(r.url for r in pruned.collect()) == \
        sorted(r.url for r in naive.collect())
    assert pruned.count() == 25
    # horizon beyond everything == full read
    assert t.read(spark, due_before=1e12).count() == full.count() == 40
    # horizon before everything == empty, schema intact
    nothing = t.read(spark, due_before=-1.0)
    assert nothing.count() == 0
    assert nothing.columns == full.columns


def test_due_before_survives_replace_and_compaction(spark, tmp_path):
    """Stats must ride EVERY commit path (commit_delta, commit_replace,
    overwrite/compaction) or pruning silently degrades to full scans."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL, compact_ratio=0.1)
    t.overwrite(_rows(spark, 50, next_fetch_ts=5.0), epoch=0)
    assert all("stats" in e for e in t._manifest()["adds"].values())
    # compaction path (overwrite of the live view)
    dels = _rows(spark, 30, next_fetch_ts=5.0).select(*DeltaFrontier.KEY)
    t.commit_delta(1, t.stage_delta(
        _rows(spark, 10, epoch_added=1, start=100, next_fetch_ts=900.0),
        dels, 1))
    assert t.maybe_compact(spark, 2)
    assert all("stats" in e for e in t._manifest()["adds"].values())
    assert t.read(spark, due_before=10.0).count() == 20
    # commit_replace path (drain fast path)
    staged = t.stage_adds(_rows(spark, 7, epoch_added=3, start=300,
                                next_fetch_ts=50.0), 3)
    t.commit_replace(staged)
    assert all("stats" in e for e in t._manifest()["adds"].values())
    assert t.read(spark, due_before=10.0).count() == 0
    assert t.read(spark, due_before=60.0).count() == 7


def test_engine_fetch_horizon_defers_far_future_rows(spark, tmp_path):
    """Opt-in engine wiring: with fetch_horizon set, rows whose
    next_fetch_ts lies beyond epoch_start+horizon are NOT scheduled (they
    stay live in the frontier), and the frontier arithmetic stays exact.
    Default (None) schedules everything — reference semantics."""
    pages = spark.createDataFrame(
        [(f"https://h.com/a/{i}", None, None, None, None)
         for i in range(400)],
        schema="url string, warc_ts timestamp, html binary, "
               "text string, lang string")
    due = _rows(spark, 300, next_fetch_ts=0.0)
    deferred = _rows(spark, 100, start=10_000, next_fetch_ts=1e9)
    cfg = CrawlConfig(per_host_budget=10_000, request_delay=0.0,
                      fetch_horizon=3600.0)
    eng = CrawlEngine(spark, str(tmp_path / "lake"), pages, cfg)
    eng.frontier.overwrite(due.unionByName(deferred), epoch=0)
    stats = eng.run_epoch(0)
    assert stats["frontier_in"] == 400
    assert stats["frontier_out"] == 100          # deferred rows stay live
    live = eng.frontier.read(spark).collect()
    assert len(live) == 100
    assert all(r.next_fetch_ts == 1e9 for r in live)
    # default engine on the same input consumes everything in one epoch
    eng2 = CrawlEngine(spark, str(tmp_path / "lake2"), pages,
                       CrawlConfig(per_host_budget=10_000,
                                   request_delay=0.0))
    eng2.frontier.overwrite(due.unionByName(deferred), epoch=0)
    assert eng2.run_epoch(0)["frontier_out"] == 0
    # an epoch where EVERY row is deferred must not starve or spin: the
    # horizon fast-forwards (manifest min_stat, driver-side) to the
    # earliest cohort and consumes it — the horizon is a scheduling
    # preference ("no deferred scans while due work exists"), never a
    # fence that loses rows (review r5 starvation fix)
    eng3 = CrawlEngine(spark, str(tmp_path / "lake3"), pages, cfg)
    eng3.frontier.overwrite(_rows(spark, 50, next_fetch_ts=1e9), epoch=0)
    s3 = eng3.run_epoch(0)
    assert eng3._horizon_skew > 0          # fast-forward engaged
    assert s3["frontier_out"] == 0         # earliest cohort consumed
    assert eng3.frontier.read(spark).count() == 0


def test_fetch_horizon_converges_past_backoff_penalties(spark, tmp_path):
    """Review r5: with request_delay=0 the virtual clock is FROZEN, so a
    fixed horizon (epoch_start + 30) could never reach a 60 s backoff
    penalty — the retried url would starve forever. The engine must
    fast-forward the horizon (manifest min_stat / zero-progress skew) and
    still fetch the victim."""
    from web_crawler_spark import html_synth, refspec
    web = html_synth.synth_web(n_articles=40, n_hosts=2, seed=13)
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    victim = golden["articles"][0]["url"]
    eng = CrawlEngine(spark, str(tmp_path / "w"),
                      html_synth.pages_df(spark, web),
                      CrawlConfig(request_delay=0.0, fetch_horizon=30.0,
                                  fault_429={victim: 1}))
    eng.run(html_synth.seeds_df(spark, web), max_epochs=8)
    stored = {r["url"] for r in eng.articles.read(spark).collect()}
    assert victim in stored, "429'd url starved behind the frozen horizon"
    assert stored == {a["url"] for a in golden["articles"]}
    assert eng.frontier.read(spark).count() == 0


def test_read_rejects_3key_delete_dir(spark, tmp_path):
    """Delete files must carry the full 4-key equality key. A 3-key file
    (url, discovered_seq, retries, __del_epoch), the pre-round-5 form,
    would read as a null epoch_added under del_schema(), and the anti-join
    would silently resurrect every row it tombstoned — read() must refuse
    it, naming the dir, instead of joining or skipping it."""
    import pytest
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    old = _rows(spark, 4).select("url", "discovered_seq", "retries") \
        .withColumn("__del_epoch", F.lit(0).cast("int"))
    ddir = os.path.join(t.path, "del=1")
    old.coalesce(1).write.parquet(ddir)
    man = t._manifest()
    man["dels"]["del=1"] = {"rows": 4, "bytes": _dir_bytes(ddir)}
    t._write_manifest(man)
    with pytest.raises(ValueError, match="del=1"):
        t.read(spark)
    with pytest.raises(ValueError, match="del=1"):
        t.read(spark, due_before=1.0)
