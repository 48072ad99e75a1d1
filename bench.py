"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall time of the headline set. A crawl-throughput
floor (articles stored per second across the full multi-epoch engine run)
is reported under "crawl_articles_per_sec"; the authoritative
URLs-fetched+parsed/sec scaling numbers come from tools/bench_scaling.py.

Usage: python bench.py [--sf-dir DIR] [--queries q1,q2] [--repeat N]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: The query registry as (name, tier), in run order. Tier 1 is the headline
#: set: the crawl pipeline (the engine's raison d'etre) + the widest
#: relational / training-data operators, frozen for cross-round
#: comparability and emitted as "value"/"queries". Later tiers hold
#: operators that landed after tier 1 froze (tier 2: round-4 verdict
#: Next #7; tier 3: the late-round-5 curation/selection/retrieval family).
#: They run after tier 1 in the same session, so they can never perturb
#: the comparable series, and are emitted as "value_vN"/"queries_vN".
#: Everything else in queries() still runs under the driver's correctness
#: gate.
QUERIES = [
    ("crawl_extract", 1),        # canonicalize -> fetch-join -> Arrow parse UDF
    ("crawl_discover", 1),       # link-extraction UDTF + explode + canonicalize
    ("crawl_full", 1),           # full multi-epoch engine w/ politeness + dedup
    ("pricing_summary", 1),      # scan-heavy aggregation (TPC-H Q1 shape)
    ("top_revenue_orders", 1),   # shuffle join + agg + top-k
    ("first_event_per_user", 1), # window dedup (D1 at scale)
    ("events_sessionize", 1),    # sessionization window
    ("dedup_exact", 1),          # content-hash dedup
    ("minhash_near_dup", 1),     # MinHash+LSH near-dup
    ("token_stats", 1),          # tokenization rollup
    ("quality_scores", 1),       # quality features, pure built-ins
    ("ann_cosine_topk", 1),      # brute-force cosine top-k
    ("ivf_cosine_topk", 1),      # IVF-flat ANN (probe n of k inverted lists)
    ("multimodal_features", 1),  # mapInPandas binary-payload feature plumbing
    ("langid_ngram", 2),         # trigram NB langid vs committed model table
    ("simhash_near_dup", 2),     # 64-bit simhash, 4x16-bit band blocking
    ("lsh_cosine_buckets", 2),   # hyperplane-LSH bucketing (committed planes)
    ("stream_politeness", 2),    # applyInPandasWithState token-bucket stream
    ("corpus_assembly", 2),      # decontaminate -> mixture-sample -> pack, fused
    ("dedup_clusters", 3),       # LSH pairs -> connected components -> canonical
    ("gopher_repetition", 3),    # exact-integer top-2gram / dup-3gram shares
    ("pii_redact", 3),           # regexp_count/replace scrub, pure JVM
    ("substring_dup_spans", 3),  # k-gram islands -> maximal duplicated spans
    ("decontam_flags", 3),       # 13-gram benchmark-overlap decontamination
    ("boilerplate_strip", 3),    # per-host line doc-frequency template removal
    ("pack_sequences", 3),       # concat-and-chunk token bin packing
    ("mixture_sample", 3),       # salted-hash deterministic mixture weights
    ("host_pagerank", 3),        # integer-exact link-graph power iterations
    ("dsir_weights", 3),         # DSIR hashed-ngram importance scores
    ("quality_classifier", 3),   # fasttext-style model-based quality gate
    ("bm25_topk", 3),            # integer-rational BM25 ranked retrieval
    ("chunk_documents", 3),      # sliding-window RAG chunking, map-side only
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of headline queries")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repeat", type=int, default=1,
                    help="best-of-N timing per query")
    ap.add_argument("--no-control", action="store_true",
                    help="skip the machine-control calibration")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from web_crawler_spark.session import get_spark

    # Machine-control calibration (run BEFORE the Spark JVM spins up so the
    # control sees the same idle/steal conditions the suite is about to):
    # pure-CPU mp.Pool article extraction at 2 procs and at --cores procs,
    # pinned with taskset — what the MACHINE gives those cores right now,
    # independent of Spark. This is a shared hypervisor VM with measured
    # steal windows (round-3 record: 23% steal / 0.40-of-linear at 32 busy
    # procs made an unchanged-plan suite read 2.3x slower), so every bench
    # json carries its own window health. Read it against BASELINE.md's
    # clean-window reference: ~13-17k docs/s/proc at 2 procs and
    # machine_scaling_efficiency_2_to_cores >= ~0.65 at 32 means a clean
    # window (SMT caps the upper bound well below 1.0 at 32 busy procs);
    # an efficiency near 0.4 reproduces the round-3 contaminated record —
    # there, the suite time is window noise, not a plan regression.
    control: dict = {}
    if not args.no_control:
        from tools.bench_scaling import _mp_control
        try:
            lo = _mp_control(2, per=20000)
            hi = _mp_control(args.cores, per=20000)
            control = {
                "machine_control_docs_per_sec": {
                    "2": round(lo, 0), str(args.cores): round(hi, 0)},
                "machine_scaling_efficiency_2_to_cores": round(
                    (hi / args.cores) / (lo / 2), 3),
            }
            print(f"# machine control: {lo:.0f} docs/s @2p, "
                  f"{hi:.0f} docs/s @{args.cores}p, "
                  f"eff={control['machine_scaling_efficiency_2_to_cores']}",
                  file=sys.stderr)
        except Exception as exc:  # control is diagnostic, never fatal
            control = {"machine_control_error": str(exc)[:200]}

    spark = get_spark("bench", cores=args.cores)
    qs = entrymod.queries()
    tiers: dict[int, list] = {}
    if args.queries:        # an explicit subset is timed alone, as tier 1
        tiers[1] = args.queries.split(",")
    else:
        for name, tier in QUERIES:
            tiers.setdefault(tier, []).append(name)
    # validate EVERY tier up front: a lost @_q registration must fail fast
    # with exit 2, not KeyError after the frozen suite already ran
    unknown = [n for names in tiers.values() for n in names if n not in qs]
    if unknown:
        print(f"error: unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    m = re.search(r"sf([\d.]+)", args.sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.0

    # Warm the JVM + parquet footers once so per-query times measure the
    # plan, not session startup.
    spark.read.parquet(f"{args.sf_dir}/documents.parquet").count()

    crawl_rows = 0
    crawl_sec = 0.0

    def run_set(set_names: list) -> dict:
        nonlocal crawl_rows, crawl_sec
        timings: dict[str, float] = {}
        for name in set_names:
            best = None
            rows = 0
            for _ in range(args.repeat):
                t0 = time.time()
                df = qs[name](spark, args.sf_dir)
                rows = df.count()  # full execution; driver collects separately
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
            if name == "crawl_full":
                crawl_rows, crawl_sec = rows, best
            print(f"# {name}: {best:.3f}s ({rows} rows)", file=sys.stderr)
        return timings

    timings = {t: run_set(tiers[t]) for t in sorted(tiers)}
    out = {
        "metric": "headline_suite_seconds",
        "value": round(sum(timings[1].values()), 3),
        "unit": "sec",
        "queries": timings[1],
        "sf": sf,
        "cores": args.cores,
    }
    for t in sorted(tiers)[1:]:
        out[f"value_v{t}"] = round(sum(timings[t].values()), 3)
        out[f"queries_v{t}"] = timings[t]
    out.update(control)
    if crawl_sec > 0:
        # articles stored / wall time of the full multi-epoch engine run —
        # a lower bound on fetch+parse throughput (dup-skips, date-drops and
        # list fetches also consumed frontier URLs). The north-rule
        # urls/sec numbers come from tools/bench_scaling.py.
        aps = crawl_rows / crawl_sec
        out["crawl_articles_per_sec"] = round(aps, 1)
        out["crawl_articles_per_sec_per_core"] = round(aps / args.cores, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
