"""What the benchmark measures: workload names and the end-to-end and
per-layer metrics with their units and direction. Imports nothing from the
engine, so the command line and the tests can use it without Spark;
BENCHMARK.json lists the same names (test_helpers.py checks)."""

from __future__ import annotations

# the benchmarked workloads and why each was chosen (BENCHMARK.json "why")
WORKLOADS = {
    "site_crawl": (
        "bench.py site, 96 seeds to an empty frontier: per-epoch and per-job fixed"
        " cost, driver-side admission and commit dominate; codec work is small and"
        " query plans are bypassed"
    ),
    "query_mix": (
        "the 15 bench.py headline queries, seed-permuted, on generated sf0.1-size"
        " tables: relational, text and ML plan leaves do the work; scheduler,"
        " fetcher, seen filter and checkpoints are bypassed"
    ),
}

# bench.py's headline queries, frozen here so the benchmark keeps measuring
# the same work if that script changes
HEADLINE = [
    "a1_pricing_summary",
    "j1_broadcast_enrich",
    "j4_dim_lookup_chain",
    "d1_ordered_dedup_first",
    "d1b_anti_join_seen",
    "o2_topk_per_group",
    "a2_collapse_concat",
    "w3_fill_forward",
    "e2_delimiter_split",
    "dd2_ngram_jaccard",
    "dd4_minhash_lsh_pairs",
    "dd7_simhash_pairs",
    "ml1_cosine_topk",
    "ml3_ann_topk",
    "dd6_embedding_near_dup",
]
PHASES = [
    "plan", "select", "fetch", "links_probe", "admission", "state_writes",
    "bloom", "tick_commit",
]
FILTER_KINDS = ("bloom", "cuckoo")
FILTER_METRICS = [
    ("add_ns_per_key", "ns", "lower"),
    ("probe_ns_per_key", "ns", "lower"),
    ("fpr", "frac", "lower"),
    ("save_ms", "ms", "lower"),
    ("load_ms", "ms", "lower"),
]
QUERY_METRICS = [
    ("build_ms", "ms", "lower"),
    ("exec_ms", "ms", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
]

# (name, unit, better) — BENCHMARK.json lists the same metrics. The
# bounded end-to-end set is the three that hold across seeds and co-tenant
# steal on a 4-core VM. The repetition wall moves with the seed's crawl
# size and the median operation wall spread up to the bound (see README),
# so both are reported per layer, unbounded. CPU is per unit of
# work (URL fetched, query run), so a seed that makes a bigger crawl does
# not move it
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("cpu_ms_per_unit", "ms", "lower"),
]
PER_LAYER = (
    [
        ("workload.rep_s", "s", "lower"),
        ("workload.op_ms.p50", "ms", "lower"),
        ("session.start_s", "s", "lower"),
        ("process.peak_rss_mb", "MB", "lower"),
    ]
    + [(f"crawl.phase.{p}_ms", "ms", "lower") for p in PHASES]
    + [
        ("crawl.unattributed_ms", "ms", "lower"),
        ("crawl.spark_jobs_per_epoch", "count", "lower"),
        ("crawl.spark_tasks_per_epoch", "count", "lower"),
        ("crawl.shuffle_bytes_per_epoch", "bytes", "lower"),
        ("crawl.core_busy_frac", "frac", "higher"),
        ("fetcher.us_per_url", "us", "lower"),
        ("fetcher.codec_task_ms", "ms", "lower"),
        ("fetcher.codec_share", "frac", "higher"),
        ("fetcher.payload_bytes_per_url", "bytes", "lower"),
    ]
    + [
        (f"seen_filter.{k}.{m}", u, b)
        for k in FILTER_KINDS
        for m, u, b in FILTER_METRICS
    ]
    + [
        ("ckpt.bytes_per_url", "bytes", "lower"),
        ("ckpt.files_per_epoch", "count", "lower"),
    ]
    + [(f"query.{q}.{m}", u, b) for q in HEADLINE for m, u, b in QUERY_METRICS]
    + [("trace.overhead_frac", "frac", "lower")]
)

