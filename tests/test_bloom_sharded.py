"""Shard-aligned bloom probing (round-3 verdict Next #4).

The seen filter's one bloom plan: build_bits_df writes (shard, bits) rows,
candidates are repartitioned by pmod(h1, n_shards) and cogrouped with their
shard's rows, so each task holds exactly one shard's bit array as DATA.
The reference is a plain Python set. These tests pin (a) the bloom
contract — every inserted url is flagged (no false negatives), the
observed false-positive rate stays within 3x the design fpp, and
seen_filter equals the exact set difference — (b) that the serialized
probe task excludes the bits, (c) that every payload form (merged,
unmerged, dense, sparse, mixed) probes identically, and (d) the engine e2e
seen-set is unchanged on the bloom plan.
"""

from pyspark.sql import functions as F

from web_crawler_spark.operators import dedup


def _urls(spark, n, start=0, prefix="https://h/x"):
    return spark.range(start, start + n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url"))


def _names(start, stop):
    """The Python-set reference for _urls(spark, stop - start, start)."""
    return {f"https://h/x{i}" for i in range(start, stop)}


def _flags(b, cand, bits):
    return {r.url: r["__maybe_seen"]
            for r in b.flag_maybe_seen(cand, bits).collect()}


def _assert_bloom_contract(flags, seen, fpp, min_unseen=1000):
    """No false negatives on ``seen``; observed fpp <= 3x design fpp over
    at least ``min_unseen`` candidates outside ``seen``."""
    assert all(flags[u] for u in flags.keys() & seen)
    unseen = flags.keys() - seen
    assert len(unseen) >= min_unseen
    fp = sum(flags[u] for u in unseen)
    assert fp <= 3 * fpp * len(unseen), (fp, len(unseen), fpp)


def test_sharded_probe_matches_python_set_reference(spark):
    """Loaded AT design capacity (20k urls in a filter sized for 20k), so
    the observed-fpp bound is a real check, not a near-empty filter's."""
    fpp = 0.05
    seen = _urls(spark, 20_000)
    b = dedup.BloomShards.sized_for(20_000, fpp=fpp)
    bits = b.build_bits_df(seen)
    cand = _urls(spark, 4_000, start=18_000)   # 2000 seen, 2000 new
    flags = _flags(b, cand, bits)
    assert len(flags) == 4_000
    _assert_bloom_contract(flags, _names(0, 20_000), fpp)


def test_sharded_probe_closure_is_bitsfree(spark):
    """The task closure must ship ~KBs no matter how large the filter is:
    the bits ride the cogrouped (shard, bits) rows, not the function."""
    import pickle

    b = dedup.BloomShards(n_shards=16, n_bits_per_shard=1 << 22)  # 8 MB total
    bits = b.build_bits_df(_urls(spark, 1000))
    assert sum(len(r.bits) for r in bits.collect()) >= 8 << 20
    fn = dedup._sharded_probe_fn(b.n_bits, b.n_hashes)
    blob = pickle.dumps((fn.__code__.co_consts,
                         [c.cell_contents for c in fn.__closure__ or []]))
    assert len(blob) < 4096, len(blob)


def test_seen_filter_sharded_equals_exact(spark):
    seen = _urls(spark, 5000)
    b = dedup.BloomShards.sized_for(5000)
    bits = b.build_bits_df(seen)
    cand = _urls(spark, 4000, start=3000)
    got = {r.url for r in
           dedup.seen_filter(cand, seen, b, bits=bits).collect()}
    assert got == _names(3000, 7000) - _names(0, 5000)
    _assert_bloom_contract(_flags(b, cand, bits), _names(0, 5000), 0.01)


def test_engine_seen_set_unchanged_on_sharded_plan(spark, tmp_path):
    """Full-engine equality: the bloom-probed engine (persisted seen_shards
    table + shard-aligned cogroup, bloom always on) must store exactly the
    same article url set as an engine running the plain exact anti-join
    (bloom never engaged) on the same synthetic web."""
    from web_crawler_spark import html_synth
    from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine

    web = html_synth.synth_web(n_articles=120, n_hosts=4, seed=11)
    pages = html_synth.pages_df(spark, web, 8)
    seeds = html_synth.seeds_df(spark, web)

    eng_a = CrawlEngine(spark, str(tmp_path / "a"), pages,
                        CrawlConfig(bloom_min_articles=1 << 30))  # never
    eng_a.run(seeds, max_epochs=6)
    eng_b = CrawlEngine(spark, str(tmp_path / "b"), pages,
                        CrawlConfig(bloom_min_articles=0))        # always
    eng_b.run(seeds, max_epochs=6)

    a = {r.url for r in eng_a.articles.read(spark).select("url").collect()}
    bset = {r.url for r in eng_b.articles.read(spark).select("url").collect()}
    assert a == bset and len(a) > 0


def test_seen_shards_table_roundtrip_and_or_merge(spark, tmp_path):
    """The driver-free path (SURVEY §6 `seen_shards` table): build_bits_df
    (distributed) → parquet per epoch → union + or_merge →
    flag_maybe_seen(bits) — the filter bytes never visit the driver — must
    probe exactly like the unmerged union and like one build over the
    union of both epochs' urls."""
    b = dedup.BloomShards.sized_for(4000)
    epoch0, epoch1 = _urls(spark, 2000), _urls(spark, 2000, start=2000)
    p0, p1 = str(tmp_path / "s0"), str(tmp_path / "s1")
    b.build_bits_df(epoch0).write.parquet(p0)
    b.build_bits_df(epoch1).write.parquet(p1)
    unmerged = spark.read.parquet(p0).unionByName(spark.read.parquet(p1))
    merged = b.or_merge_bits(unmerged)
    assert merged.count() <= b.n_shards   # one row per shard after merge

    cand = _urls(spark, 3000, start=3000)  # 1000 seen, 2000 new
    got = _flags(b, cand, merged)
    assert got == _flags(b, cand, unmerged)
    assert got == _flags(b, cand, b.build_bits_df(epoch0.unionByName(epoch1)))
    _assert_bloom_contract(got, _names(0, 4000), 0.01)


def test_sharded_probe_ors_unmerged_epoch_tables(spark, tmp_path):
    """code-review round 4: a multi-epoch seen_shards table that was NOT
    or_merged has several (shard, bits) rows per shard — the probe must OR
    them all; reading only the first row would produce bloom false
    negatives, the one failure mode the two-stage seen filter can't absorb."""
    b = dedup.BloomShards.sized_for(4000)
    e0, e1 = _urls(spark, 2000), _urls(spark, 2000, start=2000)
    p0, p1 = str(tmp_path / "s0"), str(tmp_path / "s1")
    b.build_bits_df(e0).write.parquet(p0)
    b.build_bits_df(e1).write.parquet(p1)
    unmerged = spark.read.parquet(p0).unionByName(spark.read.parquet(p1))
    flags = _flags(b, _urls(spark, 4000), unmerged)
    assert all(flags[r.url] for r in e0.collect())   # no false negatives
    assert all(flags[r.url] for r in e1.collect())


def test_sparse_append_equals_dense_everywhere(spark, tmp_path):
    """Round 5: the sparse positions payload must be (a) byte-equal to the
    dense build after or_merge densification, (b) probe-equal when mixed
    dense+sparse rows coexist in one table, and (c) MUCH smaller than the
    dense form for a small epoch on a big-capacity filter — the property
    that makes the per-epoch seen_shards append O(bits set)."""
    import numpy as np
    b = dedup.BloomShards.sized_for(2_000_000)   # big capacity
    small = _urls(spark, 5_000)                  # small epoch
    dense_rows = {r.shard: bytes(r.bits)
                  for r in b.build_bits_df(small).collect()}
    sparse_rows = {r.shard: bytes(r.bits)
                   for r in b.build_bits_df(small, sparse=True).collect()}
    assert set(dense_rows) == set(sparse_rows)
    dense_total = sum(len(v) for v in dense_rows.values())
    sparse_total = sum(len(v) for v in sparse_rows.values())
    assert sparse_total < dense_total / 10, (sparse_total, dense_total)
    # (a) densify == dense, via or_merge
    p = str(tmp_path / "sparse")
    b.build_bits_df(small, sparse=True).write.parquet(p)
    merged = {r.shard: bytes(r.bits)
              for r in b.or_merge_bits(spark.read.parquet(p)).collect()}
    assert merged == dense_rows
    # (b) a mixed-format table probes like the all-dense and all-sparse
    # tables and like one dense build over the union of both epochs
    e1 = _urls(spark, 3_000, start=100_000)
    p0, p1 = str(tmp_path / "d0"), str(tmp_path / "s1")
    b.build_bits_df(small).write.parquet(p0)              # dense epoch
    b.build_bits_df(e1, sparse=True).write.parquet(p1)    # sparse epoch
    mixed = spark.read.parquet(p0).unionByName(spark.read.parquet(p1))
    cand = _urls(spark, 9_000).unionByName(e1)   # seen + unseen + e1
    got = _flags(b, cand, mixed)
    assert got == _flags(b, cand, b.build_bits_df(small.unionByName(e1)))
    assert got == _flags(b, cand, b.build_bits_df(small).unionByName(
        b.build_bits_df(e1)))
    assert got == _flags(b, cand, b.build_bits_df(small, sparse=True)
                         .unionByName(b.build_bits_df(e1, sparse=True)))
    _assert_bloom_contract(
        got, _names(0, 5_000) | _names(100_000, 103_000), 0.01)
    # (c) sparse payloads round-trip through _densify exactly
    for s, payload in sparse_rows.items():
        assert np.array_equal(dedup._densify(payload, b.n_bits),
                              np.frombuffer(dense_rows[s], dtype="uint8"))
