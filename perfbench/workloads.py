"""The benchmark's workloads: which registry queries each runs and at what
scale (see README.md for why these, and for the sizing numbers)."""

from __future__ import annotations

from dataclasses import dataclass

# Scale of the self-test's traced passes.
SELFTEST_SF = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries": build + collect each query; "marts": write path
    sf: float  # scale of the timed passes
    queries: tuple[str, ...]
    # untimed passes in set-up; curation needs two: after one, its first
    # timed pass still spent 15-40% more CPU than the second (JIT and code
    # generation not settled), by an amount that varied from run to run
    warm_passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # the reference's spec ETL plus TPC-H-style SQL: JVM-only, Catalyst
        # and stage scheduling, no Python (runs by hand and in the self-test;
        # not in BENCHMARK.json, whose time budget holds two workloads)
        Workload(
            "etl_sql",
            "queries",
            0.01,
            (
                "spec_fetchid_order_count", "spec_join_fold", "spec_nested_rollup",
                "spec_dynamic_agg_sum", "spec_compat_param_scan",
                "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
            ),
        ),
        # training-data operators: eager driver-side construction, local
        # tiers and shuffles (dedup_ngram_jaccard is the shuffle chain,
        # dedup_canonical_docs the construction-heavy build); plus the
        # crawl-body decode that feeds them, the one query here that runs
        # Python workers (at 500 documents the MinHash pandas UDF gives way
        # to its driver-local tier)
        Workload(
            "curation",
            "queries",
            0.01,
            (
                "dedup_ngram_jaccard", "decontam_bloom", "dedup_canonical_docs",
                "dedup_minhash_lsh", "text_tfidf_topterms", "curation_pipeline",
                "warc_http_bodies",
            ),
            warm_passes=2,
        ),
        # queries whose rows depend on the input order, a defect (README.md,
        # "Known defects"): every run of this workload is incorrect until
        # the engine is fixed; then its queries move back into curation.
        # Not in BENCHMARK.json, whose workloads must run correctly.
        Workload(
            "known_defects",
            "queries",
            0.01,
            ("dedup_repeated_phrases",),
        ),
        # the write path: materialize (write, skip, rewrite) over spec marts,
        # then an availableNow streaming rollup into a parquet sink
        Workload(
            "mart_refresh",
            "marts",
            0.01,
            ("spec_fetchid_order_count", "spec_join_fold"),
        ),
    )
}

# mart_refresh: the tables whose seeded rewrite forces every mart to be
# rewritten (one is chosen per seed), and the number of files the events
# stream is split into (all read by one micro-batch: each micro-batch of
# the 32-partition stateful rollup costs about 1.5 s here, whatever its
# size, and the run budget has room for two, data and eviction).
REWRITE_TABLES = ("orders", "customer", "lineitem")
STREAM_FILES = 4
