"""The crawl scheduler: a distributed, checkpointed epoch loop over a
partitioned URL frontier (BASELINE.json north_rule).

Replaces the reference's strictly sequential fetch loop (main.py:69-140, one
in-flight request, fresh Chrome per URL, no persistence) with per-epoch
DataFrame dataflow, planned from parquet footers first:

  plan: host_counts + politeness columns ─► n_frontier, constrained, n_selected
        (small unconstrained one-task epoch ⇒ driver epoch: the same steps
        below run in the driver process over pyarrow, and no DataFrame is
        built; otherwise the Spark-side inputs are built)
  frontier ─ join politeness budgets ─ top-k per host (O2) ─► selected
  selected ─ mapInArrow fetch (S3) ─► payloads + links
  links ─ route filter (P5) ─ robots anti-filter (T3) ─ keep-first window
        ─ seen-filter prefilter + exact anti-join vs seen (D1) ─► admitted
  commit: frontier' / politeness' / seen+ / fetched+ / crawl_log+ / metrics+
          / seen-filter, one manifest per epoch (T5, with its ``path``)

The seen-set prefilter is Bloom by default (append-only crawls) or a cuckoo
filter (crawler/cuckoo.py) when per-key deletion is needed: expire_seen
tombstones URLs out of the exact set and deletes them from the cuckoo
filter without a rebuild; reseed re-injects the seed pages — together the
TTL-recrawl lifecycle (tests/test_recrawl.py proves the second pass
reproduces the reference order bit-identically).

Determinism: selection and dedup order by the data-carried key
(priority, disc_epoch, seed_idx, page_idx, pos) — never by execution order —
so any parallelism level yields the reference crawl order exactly
(refsim.simulate is the oracle; ref keep-first semantics main.py:111).

Scale design (100 TB / 10^10 URLs): payload bytes never shuffle (fetched
in-partition, written in-partition); only ~100-byte link rows shuffle for
dedup; the seen anti-join is Bloom-prefiltered so definite-new URLs skip it;
the frontier shuffles hash-partitioned by host (politeness is a per-host
constraint, so host-partitioning also co-locates the budget join); skewed
hosts can't exceed their politeness budget, which bounds per-host *fetch*
work by construction, and the constrained selection window is salted
(operators/skew.py) so a dominant host's pending set never sorts in a
single task either — per-(host, salt) pre-truncation to budget rows, then
an exact re-rank of the ≤ salts·budget survivors.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..crawler.bloom import BloomFilter
from ..crawler.cuckoo import CuckooFilter
from ..crawler.fetcher import FETCH_OUT_SCHEMA, PA_SCHEMA, make_fetcher
from ..functions.urls import url_hash64, url_path
from ..operators.skew import with_salt
from ..sources import site_model as sm
from ..sources.site_model import SiteSpec
from ..streaming import checkpoint as ck

ORDER_KEY = ["priority", "disc_epoch", "seed_idx", "page_idx", "pos"]
FRONTIER_COLS = ORDER_KEY + ["kind", "url", "host"]
# selection windows order by ORDER_KEY + url: the url is a guaranteed-unique
# final tiebreaker, so the two-stage salted selection and the unsalted
# per-host window agree even if two rows ever tie on the 5-part key at a
# budget boundary (ADVICE r2; refsim sorts by the same extended key)
SELECT_ORDER = ORDER_KEY + ["url"]

# sub-windows per host in the constrained selection path: a dominant host's
# pending set sorts in N_SALT_PARTS parallel bounded tasks instead of one
N_SALT_PARTS = 16

_FRONTIER_SCHEMA = (
    "priority int, disc_epoch int, seed_idx int, page_idx int, pos int,"
    " kind string, url string, host string"
)


@dataclass
class CrawlResult:
    ckpt: str
    epochs: int
    spark: SparkSession

    def _union(self, dfs: list, schema: str) -> DataFrame:
        """unionByName over per-epoch reads; an empty frame of ``schema``
        when there are none (no epoch has fetched yet)."""
        if not dfs:
            return self.spark.createDataFrame([], schema)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _fetch_out(self) -> DataFrame:
        # per-path reads unioned (not a multi-root read: the row_type
        # partitioning inside fetch_out confuses cross-root discovery)
        paths = [
            ck.table_path(self.ckpt, e, "fetch_out")
            for e in ck.committed_epochs(self.ckpt)
            if os.path.isdir(ck.table_path(self.ckpt, e, "fetch_out"))
        ]
        return self._union(
            [self.spark.read.parquet(p) for p in paths], FETCH_OUT_SCHEMA
        )

    def crawl_order(self) -> DataFrame:
        """Total crawl order: (epoch, host, key...) ascending — the proof
        artifact compared against refsim (north rule). Fast-path epochs that
        fetched the whole frontier record a manifest pointer instead of
        re-writing the log; reassemble from the frontier snapshot."""
        parts = []
        for e in ck.committed_epochs(self.ckpt):
            log_dir = ck.table_path(self.ckpt, e, "crawl_log")
            if os.path.isdir(log_dir):
                parts.append(self.spark.read.parquet(log_dir))
                continue
            man = ck.read_manifest(self.ckpt, e)
            if man.get("crawl_log_from_frontier") and man.get("urls_fetched", 0):
                pe = man["processed_epoch"]
                parts.append(
                    ck.read_table(self.spark, self.ckpt, pe, "frontier")
                    .select(*FRONTIER_COLS)
                    .withColumn("epoch", F.lit(pe))
                )
        out = self._union(parts, _FRONTIER_SCHEMA + ", epoch int")
        return out.orderBy(["epoch", "host"] + SELECT_ORDER)

    def fetched(self) -> DataFrame:
        """Payload rows (input_hint schema + provenance), partition-pruned
        out of fetch_out — payload bytes are written exactly once."""
        return (
            self._fetch_out()
            .filter(F.col("row_type") == "payload")
            .select(
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "url", "host", "fetch_epoch",
                *ORDER_KEY,
            )
        )

    def failed(self) -> DataFrame:
        """Failed fetches (consumed budget, no payload; ref main.py:124-127)."""
        return (
            self._fetch_out()
            .filter(F.col("row_type") == "failed")
            .select("url", "host", "fetch_epoch", *ORDER_KEY)
        )

    def seen(self) -> DataFrame:
        """The current exact seen set (tombstone-aware: expire_seen's
        removals are subtracted unless the URL was re-admitted later)."""
        last = ck.last_committed(self.ckpt)
        return _seen_view(self.spark, self.ckpt, last if last is not None else 0)

    def metrics(self) -> DataFrame:
        """Per-partition fetch lineage rows emitted by the fetch UDF (T6)."""
        return (
            self._fetch_out()
            .filter(F.col("row_type") == "metric")
            .select(
                "fetch_epoch", "urls_fetched", "links_discovered",
                "payload_bytes", "wall_ms",
            )
        )


def _bloom_expected(spec: SiteSpec) -> int:
    per_seed = spec.max_list_pages * (1 + spec.max_links_per_page)
    return max(1024, spec.n_seeds * per_seed)


def _seen_view(spark: SparkSession, ckpt: str, upto_epoch: int) -> DataFrame:
    """The exact seen set as of ``upto_epoch``: union of per-epoch seen_new
    appends MINUS expiry tombstones (expire_seen). A row survives expiry iff
    it was re-admitted after its latest removal — (url, admit_epoch) vs the
    max removed_epoch per url — so TTL'd URLs become admissible again while
    later re-admissions stay seen. Zero-fetch (virtual-time) epochs commit
    neither table and are skipped."""
    seen_paths = [
        p
        for e in range(0, upto_epoch + 1)
        if os.path.isdir(p := ck.table_path(ckpt, e, "seen_new"))
    ]
    seen = spark.read.parquet(*seen_paths)
    removed_paths = [
        p
        for e in range(0, upto_epoch + 1)
        if os.path.isdir(p := ck.table_path(ckpt, e, "seen_removed"))
    ]
    if removed_paths:
        removed = (
            spark.read.parquet(*removed_paths)
            .groupBy("url")
            .agg(F.max("removed_epoch").alias("_removed_epoch"))
        )
        seen = (
            seen.join(removed, "url", "left")
            .filter(
                F.col("_removed_epoch").isNull()
                | (F.col("admit_epoch") > F.col("_removed_epoch"))
            )
            .drop("_removed_epoch")
        )
    return seen.select("url")


def _seed_frontier(spark: SparkSession, spec: SiteSpec) -> DataFrame:
    """The deduped seed frontier (keep-first on url — parity with refsim's
    seed admission loop), host-partitioned. Used by init_state and reseed."""
    n = spec.n_seeds

    def gen_seeds(batches):
        for pdf in batches:
            ids = pdf["id"].astype(int)
            yield pd.DataFrame(
                {
                    "priority": [sm.seed_priority(spec, i) for i in ids],
                    "disc_epoch": 0,
                    "seed_idx": ids,
                    "page_idx": 1,
                    "pos": -1,
                    "kind": "list",
                    "url": [sm.seed_url(spec, i) for i in ids],
                    "host": [sm.seed_host(spec, i) for i in ids],
                }
            )

    seeds = (
        spark.range(n)
        .repartition(max(1, min(32, n // 8 or 1)))
        .mapInPandas(
            gen_seeds,
            schema="priority int, disc_epoch int, seed_idx bigint, page_idx int,"
            " pos int, kind string, url string, host string",
        )
        .withColumn("seed_idx", F.col("seed_idx").cast("int"))
    )
    wdup = W.partitionBy("url").orderBy(*ORDER_KEY)
    return (
        seeds.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .repartition("host")
    )


def _init_state_driver(spec: SiteSpec, ckpt: str, filter_kind: str) -> None:
    """Epoch-0 state generated driver-side for SMALL seed sets (≤ the
    driver-commit gate): the distributed init cost ~6 Spark jobs (~1.5-2 s
    of fixed latency) to materialize a few hundred deterministic rows that
    pure Python produces in microseconds from the same site_model
    functions. Value-identical: same seed tuples, same keep-first dedup
    (min (priority, disc_epoch, seed_idx, page_idx, pos) per url — the
    window the distributed path ranks by), same tables and types."""
    import pyarrow as pa

    best: dict = {}
    for i in range(spec.n_seeds):
        key = (sm.seed_priority(spec, i), 0, i, 1, -1)
        url = sm.seed_url(spec, i)
        if key < best.get(url, (2**31, 0, 0, 0, 0)):
            best[url] = key
    rows = [
        {
            "priority": k[0], "disc_epoch": k[1], "seed_idx": k[2],
            "page_idx": k[3], "pos": k[4], "kind": "list", "url": u,
            "host": sm.seed_host(spec, k[2]), "url_hash": sm.h64(u),
        }
        for u, k in sorted(best.items())
    ]
    _write_frontier_tables_local(ckpt, 0, rows, write_seen_new=True)
    hosts = sorted({r["host"] for r in rows})
    politeness = pa.Table.from_arrays(
        [
            pa.array(hosts, type=pa.string()),
            pa.array([float(spec.burst)] * len(hosts), type=pa.float64()),
        ],
        names=["host", "tokens"],
    )
    ck.write_table_local(ckpt, 0, "politeness", politeness)
    robots = pa.Table.from_arrays(
        [
            pa.array(hosts, type=pa.string()),
            pa.array(
                [sm.robots_disallows(spec, h) for h in hosts],
                type=pa.list_(pa.string()),
            ),
        ],
        names=["host", "disallow_prefixes"],
    )
    ck.write_table_local(ckpt, 0, "robots", robots)
    bf = _make_seen_filter(filter_kind, _bloom_expected(spec))
    bf.add_many(
        np.fromiter((r["url_hash"] for r in rows), dtype=np.int64, count=len(rows))
    )
    bf.save(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    ck.commit_epoch(ckpt, 0, {"n_seeds": len(rows), "kind": "init"})


def init_state(
    spark: SparkSession, spec: SiteSpec, ckpt: str, filter_kind: str = "bloom"
) -> None:
    """Epoch-0 state: seed frontier, seen=seeds, politeness=burst, robots,
    seen-filter seeded with the seed URLs. Small seed sets commit
    driver-side (`_init_state_driver`); larger ones as Spark jobs."""
    if spec.n_seeds <= _DRIVER_COMMIT_MAX_ROWS:
        _init_state_driver(spec, ckpt, filter_kind)
        return
    frontier = _seed_frontier(spark, spec)
    ck.write_table(frontier.select(*FRONTIER_COLS), ckpt, 0, "frontier")
    ck.write_table(
        frontier.groupBy("host").agg(F.count(F.lit(1)).alias("n_pending")),
        ckpt,
        0,
        "host_counts",
    )

    seen = frontier.select(
        "url", url_hash64("url").alias("url_hash"), F.lit(0).alias("admit_epoch")
    )
    ck.write_table(seen, ckpt, 0, "seen_new")

    hosts = frontier.select("host").distinct()
    ck.write_table(
        hosts.withColumn("tokens", F.lit(float(spec.burst))), ckpt, 0, "politeness"
    )

    def gen_robots(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "host": pdf["host"],
                    "disallow_prefixes": [
                        sm.robots_disallows(spec, h) for h in pdf["host"]
                    ],
                }
            )

    robots = hosts.mapInPandas(
        gen_robots, schema="host string, disallow_prefixes array<string>"
    )
    ck.write_table(robots, ckpt, 0, "robots")

    bf = _make_seen_filter(filter_kind, _bloom_expected(spec))
    _filter_add_from_df(bf, seen.select("url_hash"), n_rows=spec.n_seeds)
    bf.save(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    ck.commit_epoch(ckpt, 0, {"n_seeds": frontier.count(), "kind": "init"})


# URLs a Python fetch task must carry to pay for its own start-up. Every
# Python task on this stack costs a fixed ~0.2 s before its first row, most
# of it CPU in one call: pyspark 4.1's worker runs
# importlib.invalidate_caches() per task, and on CPython 3.11 that re-reads
# the pyspark.zip directory (~1,300 entries) once per cached zipimporter
# (BENCH/BASELINE.md, "Python-task start-up"). The fetch itself costs
# ~185-225 µs of codec CPU per URL, so a task pays for its start-up at
# ~0.2 s / ~200 µs ≈ 1,000 URLs. An epoch below that is one task — run in
# the driver process when run_epoch may — and bigger epochs get one task
# per ~1,000 URLs up to the 2×-slots cap, which binds at scale, so the
# big-epoch plan is unchanged.
_MIN_URLS_PER_FETCH_TASK = 1000


def _fetch_in_driver(
    spec: SiteSpec, ckpt: str, epoch: int, out_epoch: int, n_selected: int
) -> int:
    """The one-task fetch, run in the driver process: the same
    ``make_fetcher(spec, epoch)`` (ingest validation on) over the whole
    frontier — the selected set of an unconstrained epoch — read with a
    bounded pyarrow read, written in the layout the Spark fetch job's
    ``partitionBy("row_type")`` writes: ``fetch_out/row_type=<t>/``, the
    row type in the path only, here one deterministic file per row type,
    with the job's parquet options (no compression, no dictionary).
    Returns the number of link rows written."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = pa.RecordBatch.from_pydict(
        ck.read_columns_local(ckpt, epoch, "frontier", FRONTIER_COLS, n_selected)
    )
    out = pa.Table.from_batches(
        make_fetcher(spec, epoch)(iter([rows])), schema=PA_SCHEMA
    )
    n_links = 0
    for row_type in sorted(set(out["row_type"].to_pylist())):
        part = out.filter(pc.equal(out["row_type"], row_type))
        if row_type == "link":
            n_links = part.num_rows
        ck.write_table_local(
            ckpt, out_epoch, f"fetch_out/row_type={row_type}",
            part.drop_columns(["row_type"]),
            compression="none", use_dictionary=False,
        )
    return n_links


_HOST_COUNTS_SCHEMA = "host string, n_pending bigint"


def _read_host_counts(spark: SparkSession, ckpt: str, epoch: int) -> DataFrame | None:
    """The carried per-host pending-count table for `epoch`'s frontier, or
    None when absent (pre-carry checkpoint, reseed/expiry epoch) — callers
    then recompute from the frontier. Explicit schema: no inference listing."""
    path = ck.table_path(ckpt, epoch, "host_counts")
    if not os.path.isdir(path):
        return None
    return spark.read.schema(_HOST_COUNTS_SCHEMA).parquet(path)


def _pending_stats_local(
    ckpt: str, epoch: int, default_budget: int
) -> tuple[tuple[int, int, int], dict, dict] | None:
    """Driver-side (n_frontier, constrained, n_selected) for small host
    sets — the same three scalars `_spark_epoch`'s aggregate computes, read
    straight from the carried host_counts + politeness parquet when both
    fit the bounded-local-read cap — plus the two column dicts read, which
    the driver commit reuses. run_epoch calls this first, from footers and
    two tiny column reads, and decides its path before any DataFrame
    exists. Returns None when either table is absent or exceeds the cap
    (10^6+ hosts at full scale) — callers then run the distributed
    aggregate, whose semantics this mirrors exactly: budget = floor(tokens)
    per politeness row, default for absent hosts;
    n_selected = Σ min(n_pending, budget)."""
    for t in ("host_counts", "politeness"):
        path = ck.table_path(ckpt, epoch, t)
        if not os.path.isdir(path):
            return None
        if ck.table_num_rows(ckpt, epoch, t) > _DRIVER_ADD_MAX_ROWS:
            return None
    hc = ck.read_columns_local(
        ckpt, epoch, "host_counts", ["host", "n_pending"], _DRIVER_ADD_MAX_ROWS
    )
    pol = ck.read_columns_local(
        ckpt, epoch, "politeness", ["host", "tokens"], _DRIVER_ADD_MAX_ROWS
    )
    budget_by_host = {
        h: int(np.floor(t)) for h, t in zip(pol["host"], pol["tokens"])
    }
    pending = hc["n_pending"].astype(np.int64)
    budgets = np.fromiter(
        (budget_by_host.get(h, default_budget) for h in hc["host"]),
        dtype=np.int64,
        count=len(pending),
    )
    n_frontier = int(pending.sum())
    constrained = int(bool((pending > budgets).any()))
    n_selected = int(np.minimum(pending, budgets).sum())
    return (n_frontier, constrained, n_selected), hc, pol


def _next_host_counts(
    host_counts: DataFrame, taken: DataFrame, admitted: DataFrame | None
) -> DataFrame:
    """Next epoch's per-host pending counts, incrementally:
    pending − taken (+ admitted-by-host), hosts at zero dropped (matching
    what a fresh frontier groupBy would produce). All inputs are tiny
    (|hosts| rows) or already persisted (admitted), so this adds one small
    overlapped write, not a frontier scan."""
    nxt = host_counts.join(taken, "host", "left").select(
        "host",
        (
            F.col("n_pending") - F.coalesce(F.col("n_taken"), F.lit(0))
        ).alias("n_pending"),
    )
    if admitted is not None:
        adm = admitted.groupBy("host").agg(F.count(F.lit(1)).alias("_n_adm"))
        nxt = (
            nxt.join(adm, "host", "full")
            .select(
                "host",
                (
                    F.coalesce(F.col("n_pending"), F.lit(0))
                    + F.coalesce(F.col("_n_adm"), F.lit(0))
                ).alias("n_pending"),
            )
        )
    return nxt.filter(F.col("n_pending") > 0)


def _write_tables_concurrently(
    ckpt: str, epoch: int, tables: list[tuple[DataFrame, str]]
) -> None:
    """Write independent epoch-state tables from one thread each so their
    fixed job-submission latencies overlap (Spark schedules concurrent jobs
    from one session; the writes target distinct dirs). Run serially these
    were ~1 s of a ~4.5 s small-epoch wall (phase_ms, r4 profile) — pure
    driver-side latency, invisible at big-epoch scale but the dominant term
    of the reference-site crawl."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(tables)) as ex:
        futs = [
            ex.submit(ck.write_table, df, ckpt, epoch, name) for df, name in tables
        ]
        for f in futs:
            f.result()


_BUILD_ROWS_PER_PART = 50_000_000  # ~1 partial per 50M hashes per task


def _build_partitions(n_rows: int | None) -> int:
    """Partition count for the distributed filter builds. The trade: each
    partition yields one partial (an m/8-byte bitmap or an m×4 fingerprint
    table), so reduce cost is partitions × partial-size — but a CONSTANT 8
    means an epoch admitting 10^9 URLs hashes 1.25×10^8 rows per task,
    single-threaded (VERDICT r3 item 4). Scale with the batch at ~50M
    hashes/task; treeReduce keeps the merge log-depth regardless."""
    if n_rows is None:
        return 8
    return max(8, n_rows // _BUILD_ROWS_PER_PART)


def _bloom_add_from_df(
    bf: BloomFilter, hashes_df: DataFrame, n_rows: int | None = None
) -> None:
    """Distributed Bloom build: per-partition bitmaps OR-reduced (treeReduce)
    — the 10^10-scale path; no driver-side row collection."""
    m, k = bf.m, bf.k

    def part(rows):
        local = BloomFilter.__new__(BloomFilter)
        local.m, local.k = m, k
        local.bits = np.zeros(m // 8, dtype=np.uint8)
        h = np.fromiter((r[0] for r in rows), dtype=np.int64)
        local.add_many(h)
        yield local.bits

    # few fat partitions: each yields an m/8-byte bitmap, so the reduce cost
    # is partitions × bitmap, not rows — count scaled by the caller's batch
    # size hint (_build_partitions)
    rdd = hashes_df.coalesce(_build_partitions(n_rows)).rdd.mapPartitions(part)
    bf.bits |= rdd.treeReduce(np.bitwise_or)


def _cuckoo_add_from_df(
    cf: CuckooFilter, hashes_df: DataFrame, n_rows: int | None = None
) -> None:
    """Distributed cuckoo build: per-partition partial filters (same bucket
    count), tree-merged by fingerprint re-insertion (cuckoo.py merge) —
    the deletion-capable counterpart of the Bloom bitmap OR."""
    m = cf.m

    def part(rows):
        local = CuckooFilter.empty(m)
        h = np.fromiter((r[0] for r in rows), dtype=np.int64)
        local.add_many(h)
        yield local

    rdd = hashes_df.coalesce(_build_partitions(n_rows)).rdd.mapPartitions(part)
    cf.merge(rdd.treeReduce(lambda a, b: a.merge(b)))


def _filter_add_from_df(flt, hashes_df: DataFrame, n_rows: int | None = None) -> None:
    if isinstance(flt, CuckooFilter):
        _cuckoo_add_from_df(flt, hashes_df, n_rows)
    else:
        _bloom_add_from_df(flt, hashes_df, n_rows)


# Full-row collect gate for the small-epoch driver commit: an admission
# batch this small (≤2^18 rows ≈ 50 MB of ~200 B link rows) is collected to
# the driver in ONE job and the four next-epoch state tables (frontier,
# host_counts, politeness, seen_new) are written with write_table_local —
# replacing four Spark write jobs (plus their join/shuffle stages) whose
# fixed latencies dominated the small-site epoch (r6 phase profile:
# state_writes 1.1-1.4 s of a ~2.9 s epoch). Large admission batches keep
# the distributed write path unchanged — at 10^8-row epochs the gate never
# passes and nothing collects. The admission SEMANTICS (route filter,
# robots, keep-first, bloom prefilter, exact anti-join) stay in Spark
# either way; only the final materialization moves.
_DRIVER_COMMIT_MAX_ROWS = 1 << 18


def _py_url_path(url: str) -> str:
    """Python mirror of functions.urls.url_path (parse_url(url, 'PATH')):
    the path component without query/fragment, '/' when absent. Exactness
    matters only up to prefix matching against the robots table — both
    forms agree on every prefix test for scheme://host/path[?query] URLs."""
    rest = url.split("//", 1)[1] if "//" in url else url
    slash = rest.find("/")
    if slash == -1:
        return "/"
    path = rest[slash:]
    for sep in ("?", "#"):
        k = path.find(sep)
        if k != -1:
            path = path[:k]
    return path or "/"


def _seen_rows_small(ckpt: str, upto_epoch: int, cap: int) -> bool:
    """True iff the exact seen view's input rows total ≤ cap (parquet
    footer counts only — no reads)."""
    total = 0
    for e in range(upto_epoch + 1):
        for t in ("seen_new", "seen_removed"):
            if os.path.isdir(ck.table_path(ckpt, e, t)):
                total += ck.table_num_rows(ckpt, e, t)
                if total > cap:
                    return False
    return True


def _seen_view_local(ckpt: str, upto_epoch: int) -> set:
    """`_seen_view` as a driver-side url set (callers gate the size via
    `_seen_rows_small`): union of per-epoch seen_new MINUS expiry
    tombstones, a url surviving iff some seen row's admit_epoch exceeds its
    latest removal — term-for-term the DataFrame view's semantics."""
    removed: dict = {}
    for e in range(upto_epoch + 1):
        if os.path.isdir(ck.table_path(ckpt, e, "seen_removed")):
            cols = ck.read_columns_local(
                ckpt, e, "seen_removed", ["url", "removed_epoch"],
                _DRIVER_ADD_MAX_ROWS,
            )
            for u, r in zip(cols["url"], cols["removed_epoch"]):
                ri = int(r)
                if removed.get(u, -1) < ri:
                    removed[u] = ri
    seen: set = set()
    for e in range(upto_epoch + 1):
        if not os.path.isdir(ck.table_path(ckpt, e, "seen_new")):
            continue
        cols = ck.read_columns_local(
            ckpt, e, "seen_new", ["url", "admit_epoch"], _DRIVER_ADD_MAX_ROWS
        )
        if not removed:
            seen.update(cols["url"].tolist())
        else:
            for u, a in zip(cols["url"], cols["admit_epoch"]):
                r = removed.get(u)
                if r is None or int(a) > r:
                    seen.add(u)
    return seen


def _admit_links_driver(
    ckpt: str, epoch: int, out_epoch: int, fetch_out_path: str
) -> list:
    """The admission pipeline (route filter → robots → keep-first → exact
    seen anti-join) over a SMALL discovered-link batch, driver-side — the
    same four steps the distributed path runs, mirrored operation for
    operation (the callers' gates bound both the link batch and the seen
    view). Returns admitted rows as dicts carrying FRONTIER_COLS +
    url_hash, sorted by url (unique after keep-first) so downstream writes
    are deterministic.

    Semantics mirrored exactly: route drop is `kind != 'list' AND (route
    missing OR unknown)`; robots drops when the host's disallow_prefixes
    prefix-match the url path (hosts absent from the robots table pass);
    keep-first takes the minimum (priority, disc_epoch, seed_idx, page_idx,
    pos, kind, host) struct per url (disc_epoch is constant out_epoch across
    the batch, string comparisons are ASCII so Python tuple order ==
    Spark's UTF8 binary struct order); the anti-join is exact (a Bloom
    prefilter adds nothing driver-side — set membership IS the exact
    test)."""
    import pyarrow.parquet as pq

    robots_cols = ck.read_columns_local(
        ckpt, 0, "robots", ["host", "disallow_prefixes"], _DRIVER_ADD_MAX_ROWS
    )
    robots = {
        h: list(p) if p is not None else None
        for h, p in zip(robots_cols["host"], robots_cols["disallow_prefixes"])
    }
    seen = _seen_view_local(ckpt, epoch)

    link_dir = os.path.join(fetch_out_path, "row_type=link")
    if not os.path.isdir(link_dir):
        # n_links rides an accumulator that can only over-count (task
        # retries); if no link rows were actually written there is nothing
        # to admit — mirrors the distributed path's empty result
        return []
    cols = [
        "priority", "disc_epoch", "seed_idx", "page_idx", "pos",
        "kind", "url", "host", "route",
    ]
    best: dict = {}
    for fn in sorted(os.listdir(link_dir)):
        if not fn.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(link_dir, fn), columns=cols)
        d = {c: t.column(c).to_pylist() for c in cols}
        for prio, seed_idx, page_idx, pos, kind, url, host, route in zip(
            d["priority"], d["seed_idx"], d["page_idx"], d["pos"],
            d["kind"], d["url"], d["host"], d["route"],
        ):
            if kind != "list" and (route is None or route == sm.ROUTE_UNKNOWN):
                continue
            prefixes = robots.get(host)
            if prefixes:
                path = _py_url_path(url)
                if any(path.startswith(p) for p in prefixes):
                    continue
            key = (prio, out_epoch, seed_idx, page_idx, pos, kind, host)
            cur = best.get(url)
            if cur is None or key < cur:
                best[url] = key
    admitted = []
    for url in sorted(best):
        if url in seen:
            continue
        prio, de, seed_idx, page_idx, pos, kind, host = best[url]
        admitted.append(
            {
                "priority": prio, "disc_epoch": de, "seed_idx": seed_idx,
                "page_idx": page_idx, "pos": pos, "kind": kind, "url": url,
                "host": host, "url_hash": sm.h64(url),
            }
        )
    return admitted


def _commit_small_epoch_state(
    ckpt: str,
    out_epoch: int,
    spec: SiteSpec,
    adm_rows: list,
    hc: dict,
    pol: dict,
    write_seen_new: bool = True,
) -> None:
    """Driver-side materialization of the four next-epoch state tables from
    an already-collected admission batch, on the UNCONSTRAINED fast path
    only (selected == whole frontier ⇒ remaining is empty, per-host taken
    == pending). ``hc``/``pol`` are the host_counts and politeness columns
    `_pending_stats_local` read in the plan phase. Value-identical to the
    distributed writes it replaces:
    same politeness token arithmetic term-for-term (tokens − taken + refill,
    capped at burst, full-outer over active hosts), same next host_counts
    (pending − taken + admitted, zeros dropped ⇒ admitted counts by host),
    same row sets with explicitly matched parquet types (int32 frontier
    keys — cross-epoch unions require it). Deterministic row order (sorted
    by url / host) keeps resume replay byte-identical."""
    import pyarrow as pa

    taken = {h: int(n) for h, n in zip(hc["host"], hc["n_pending"])}
    tokens = {h: float(t) for h, t in zip(pol["host"], pol["tokens"])}
    refill = float(spec.rate_per_sec * spec.epoch_seconds)
    burst = float(spec.burst)
    # _advance_politeness mirror (active = hosts with pending this epoch):
    # identical float64 expression shape: min(burst, (tokens - taken) + refill)
    new_tokens = {}
    for h in set(tokens) | set(taken):
        base = tokens.get(h, burst)
        if h in taken:
            base = min(burst, base - float(taken[h]) + refill)
        new_tokens[h] = base
    _write_frontier_tables_local(ckpt, out_epoch, adm_rows, write_seen_new)

    pol_sorted = sorted(new_tokens)
    politeness = pa.Table.from_arrays(
        [
            pa.array(pol_sorted, type=pa.string()),
            pa.array([new_tokens[h] for h in pol_sorted], type=pa.float64()),
        ],
        names=["host", "tokens"],
    )
    ck.write_table_local(ckpt, out_epoch, "politeness", politeness)


def _write_frontier_tables_local(
    ckpt: str, out_epoch: int, rows: list, write_seen_new: bool
) -> None:
    """frontier + host_counts (+ seen_new) for ``out_epoch`` from
    driver-held frontier rows (dicts with FRONTIER_COLS + url_hash), with
    types matched to the distributed writers (int32 frontier keys)."""
    import pyarrow as pa

    int_cols = {"priority", "disc_epoch", "seed_idx", "page_idx", "pos"}
    fr_schema = pa.schema(
        [
            (c, pa.int32() if c in int_cols else pa.string())
            for c in FRONTIER_COLS
        ]
    )
    frontier = pa.Table.from_arrays(
        [
            pa.array([r[c] for r in rows], type=fr_schema.field(c).type)
            for c in FRONTIER_COLS
        ],
        schema=fr_schema,
    )
    ck.write_table_local(ckpt, out_epoch, "frontier", frontier)

    if write_seen_new:  # zero-discovery epochs commit no seen_new table
        seen_new = pa.Table.from_arrays(
            [
                pa.array([r["url"] for r in rows], type=pa.string()),
                pa.array([r["url_hash"] for r in rows], type=pa.int64()),
                pa.array([out_epoch] * len(rows), type=pa.int32()),
            ],
            names=["url", "url_hash", "admit_epoch"],
        )
        ck.write_table_local(ckpt, out_epoch, "seen_new", seen_new)

    n_by_host: dict[str, int] = {}
    for r in rows:
        n_by_host[r["host"]] = n_by_host.get(r["host"], 0) + 1
    hosts_sorted = sorted(n_by_host)
    host_counts = pa.Table.from_arrays(
        [
            pa.array(hosts_sorted, type=pa.string()),
            pa.array([n_by_host[h] for h in hosts_sorted], type=pa.int64()),
        ],
        names=["host", "n_pending"],
    )
    ck.write_table_local(ckpt, out_epoch, "host_counts", host_counts)


# Below this many admitted URLs the seen-filter add runs driver-side from
# the just-written seen_new parquet (≤8 MB of int64 hashes — same bound as
# expire_seen's chunks) instead of launching a Spark job: the distributed
# build is one full job of fixed ~0.5 s latency to hash a few hundred rows,
# the dominant term of the small-site epoch's `bloom` phase (r5 phase_ms
# profile). Big admission batches keep the treeReduce path unchanged.
_DRIVER_ADD_MAX_ROWS = 1 << 20


def _filter_add_after_write(
    flt, ckpt: str, epoch: int, hashes_df: DataFrame, n_rows: int
) -> None:
    """Add an admission batch whose hashes are ALREADY persisted as the
    epoch's seen_new table: small batches read the column driver-side (no
    Spark job), large ones go distributed. Replay-deterministic either way
    (sorted part files / deterministic coalesce), so resume stays
    byte-identical."""
    if n_rows <= _DRIVER_ADD_MAX_ROWS:
        flt.add_many(
            ck.read_column_local(
                ckpt, epoch, "seen_new", "url_hash", max_rows=_DRIVER_ADD_MAX_ROWS
            )
        )
    else:
        _filter_add_from_df(flt, hashes_df, n_rows=n_rows)


# growth trigger for the cuckoo seen-filter: above ~90% of slot capacity,
# eviction cascades lengthen and add_many can hit its _MAX_KICKS RuntimeError
# mid-commit (ADVICE r3) — grow BEFORE inserting the batch that would cross it
_CUCKOO_GROW_LOAD = 0.9


def _grown_m(old_m: int, n_total: int) -> int:
    """Bucket count for a rebuilt seen-filter: ≥2× the old table (amortized
    O(1) growth) and sized so ``n_total`` keys land at ≤0.72·0.95 ≈ 0.68
    load — always below the 0.9 grow trigger, so a rebuild can never be
    immediately re-triggered by its own admission batch."""
    return max(2 * old_m, CuckooFilter.m_for(int(n_total / 0.72) + 1))


def _grow_cuckoo(
    spark: SparkSession, ckpt: str, upto_epoch: int, old: CuckooFilter,
    n_total: int,
) -> CuckooFilter:
    """Rebuild the cuckoo seen-filter into a larger table from the EXACT
    seen view as of ``upto_epoch`` (which must already include the epoch's
    seen_new append). A cuckoo table cannot be grown from its own
    fingerprints — doubling m adds an index bit that only the original
    64-bit key carries — so growth is one distributed pass over the seen
    table, with its partition count scaled by ``n_total`` (the caller's
    exact key count — the single largest build in the system must not run
    on the constant-8 floor). The new table is at least 2× the old (so
    growth amortizes to O(1) per admitted URL) AND sized with explicit
    headroom: ``m_for(n_total)`` alone only bounds load at ≤95% (next_pow2
    worst case), which is ABOVE the 0.9 grow trigger — a rebuild landing
    there would force another full rebuild on the very next admission
    (round-4 ADVICE). Feeding ``n_total / 0.72`` through m_for caps the
    rebuilt load at 0.72·0.95 ≈ 0.68, comfortably below the trigger."""
    new = CuckooFilter.empty(_grown_m(old.m, n_total))
    remaining = _seen_view(spark, ckpt, upto_epoch).select(
        url_hash64("url").alias("url_hash")
    )
    _cuckoo_add_from_df(new, remaining, n_total)
    return new


def _seen_filter_load(flt) -> float | None:
    """The saturation gauge recorded in every committed manifest — visible
    BEFORE it becomes fatal (cuckoo: fraction of slots; bloom: fraction of
    set bits, fpr ≈ fill^k)."""
    if flt is None:
        return None
    if isinstance(flt, CuckooFilter):
        return round(flt.load_factor(), 4)
    return round(flt.fill_fraction(), 4)


def _make_seen_filter(kind: str, n_expected: int):
    """Seen-set prefilter factory. 'bloom' (default — the seen set is
    append-only in a plain crawl) or 'cuckoo' (supports expire_seen's
    per-key deletion without a rebuild; north rule's fallback)."""
    if kind == "cuckoo":
        return CuckooFilter(n_expected)
    if kind == "bloom":
        return BloomFilter(n_expected)
    raise ValueError(f"unknown seen-filter kind {kind!r}")


def _load_seen_filter(path: str):
    """Load whichever filter the checkpoint stored (the .npz embeds a
    ``kind`` field; legacy Bloom files have none)."""
    z = np.load(path)
    if "kind" in z.files and str(z["kind"]) == "cuckoo":
        return CuckooFilter.load(path)
    return BloomFilter.load(path)


def _seen_filter_udf(flt):
    contains = flt.maybe_contains  # bound method pickles the filter arrays

    @F.pandas_udf("boolean")
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(contains(h.to_numpy(dtype=np.int64)))

    return maybe_seen


def _advance_politeness(
    spec: SiteSpec, politeness: DataFrame, active: DataFrame, taken: DataFrame | None
) -> DataFrame:
    """Token-bucket transition (T2): refill only hosts with pending rows this
    epoch (spec shared with refsim — idle hosts keep stale tokens). One left
    join tree (no inner/anti/union split) so the update is a single stage."""
    refill = float(spec.rate_per_sec * spec.epoch_seconds)
    # FULL outer: an active host the table has never seen (first discovered
    # this epoch) enters with a fresh burst-sized bucket instead of silently
    # never existing — without this the politeness table could only shrink
    out = politeness.join(
        active.withColumn("_active", F.lit(1)), "host", "full"
    ).withColumn("tokens", F.coalesce("tokens", F.lit(float(spec.burst))))
    if taken is not None:
        out = out.join(taken, "host", "left")
    else:
        out = out.withColumn("n_taken", F.lit(None).cast("long"))
    return out.withColumn(
        "tokens",
        F.when(
            F.col("_active").isNotNull(),
            F.least(
                F.lit(float(spec.burst)),
                F.col("tokens")
                - F.coalesce(F.col("n_taken"), F.lit(0))
                + F.lit(refill),
            ),
        ).otherwise(F.col("tokens")),
    ).drop("n_taken", "_active")


@dataclass
class _SparkEpoch:
    """An epoch's Spark-side inputs: lazy DataFrames, ``cache`` holding the
    persisted ones until the commit releases them."""

    frontier: DataFrame
    politeness: DataFrame
    host_counts: DataFrame
    active: DataFrame
    selected: DataFrame
    remaining: DataFrame
    taken: DataFrame
    cache: list

    def unpersist(self) -> None:
        for df in self.cache:
            df.unpersist()


def _spark_epoch(
    spark: SparkSession,
    spec: SiteSpec,
    ckpt: str,
    epoch: int,
    stats: tuple[int, int, int] | None,
) -> tuple[tuple[int, int, int], _SparkEpoch]:
    """Build epoch `epoch`'s Spark-side inputs — frontier, politeness,
    budgets, host_counts and the selected/remaining/taken split — for the
    distributed path, or lazily for a driver-fetched epoch whose admission
    outgrows the driver gates. ``stats`` None (no carried host_counts, or
    more hosts than the local-read cap) runs the plan aggregate here.
    Returns the (n_frontier, constrained, n_selected) stats with the
    inputs."""
    # explicit schemas: a schema-less spark.read.parquet eagerly lists the
    # dir and reads a footer to infer one; the schemas are ours and fixed
    frontier = (
        spark.read.schema(_FRONTIER_SCHEMA)
        .parquet(ck.table_path(ckpt, epoch, "frontier"))
        .persist()
    )
    politeness = spark.read.schema("host string, tokens double").parquet(
        ck.table_path(ckpt, epoch, "politeness")
    )
    # a frontier host missing from the politeness table (discovered this
    # run) starts with a fresh bucket — floor(burst), exactly what
    # init_state grants; without the coalesce a null budget made the
    # constrained filters silently drop the host's rows and the fast path
    # fetch with no cap at all
    default_budget = int(spec.burst)
    budgets = politeness.withColumn("budget", F.floor("tokens").cast("int"))

    # per-host pending counts: they feed (a) the tiny agg below that decides
    # everything the driver needs — total pending and whether any host's
    # pending exceeds its budget (if not, the per-host top-k window — the
    # only sort in the loop — is skipped entirely; this is the steady-state
    # fast path when politeness isn't the binding constraint, and the drain
    # phase of every crawl) — (b) the active-host set for the politeness
    # refill, and (c) the fast path's per-host taken counts (selected ==
    # frontier there). Round 5: the previous commit CARRIES these counts
    # (pending − taken + admitted, a host_counts epoch table), so the plan
    # phase normally aggregates |hosts| rows instead of re-shuffling the
    # whole frontier — at 10^10-URL scale that removes a full frontier
    # groupBy per epoch. Fallback (pre-carry checkpoints, reseed/expiry
    # epochs that skip the carry): recompute from the frontier;
    # tests/test_host_counts_carry.py pins carried == recomputed on every
    # committed epoch.
    host_counts = _read_host_counts(spark, ckpt, epoch)
    if host_counts is None:
        host_counts = frontier.groupBy("host").agg(
            F.count(F.lit(1)).alias("n_pending")
        )
    host_counts = host_counts.persist()
    cache = [frontier, host_counts]
    if stats is None:
        pending_stats = (
            host_counts.join(F.broadcast(budgets), "host", "left")
            .withColumn("budget", F.coalesce("budget", F.lit(default_budget)))
            .agg(
                F.sum("n_pending").alias("n_frontier"),
                F.max(
                    F.when(F.col("n_pending") > F.col("budget"), 1).otherwise(0)
                ).alias("constrained"),
                # the salted top-budget below takes exactly min(pending,
                # budget) per host, so the selected-set size is known BEFORE
                # selection — one aggregate over |hosts| rows replaces a
                # count job over the selected rows (10^8+/epoch at scale)
                F.sum(F.least("n_pending", "budget")).alias("n_selected"),
            )
            .first()
        )
        stats = (
            int(pending_stats["n_frontier"] or 0),
            int(pending_stats["constrained"] or 0),
            int(pending_stats["n_selected"] or 0),
        )

    if stats[1] == 0:
        selected = frontier.select(*FRONTIER_COLS)
        remaining = frontier.select(*FRONTIER_COLS).limit(0)
        taken = host_counts.withColumnRenamed("n_pending", "n_taken")
    else:
        # Skew-safe per-host top-budget (Zipf host distributions are the
        # norm — site_model.py:55): a plain PARTITION BY host window sorts
        # one dominant host's ENTIRE pending set (10^9 rows at 10^10-URL
        # scale) in a single task, because the budget bounds the window's
        # output, not its input. Stage 1 salts each host's rows into
        # N_SALT_PARTS sub-windows and keeps only the per-salt top-budget —
        # sound because any row in the global top-budget has < budget rows
        # ahead of it overall, hence < budget ahead within its own salt.
        # Stage 2 ranks the ≤ salts·budget survivors exactly. Rows dropped
        # in stage 1 are provably unselected and go straight to remaining,
        # so the result set is bit-identical to the unsalted window
        # (test_crawl_skew.py proves it against refsim under 90% skew).
        wpre = W.partitionBy("host", "_salt").orderBy(*SELECT_ORDER)
        pre = (
            with_salt(frontier, N_SALT_PARTS, "url")
            .join(F.broadcast(budgets), "host", "left")
            .withColumn("budget", F.coalesce("budget", F.lit(default_budget)))
            .withColumn("_prn", F.row_number().over(wpre))
            .persist()
        )
        survivors = pre.filter(F.col("_prn") <= F.col("budget")).drop(
            "_salt", "_prn"
        )
        dropped = pre.filter(F.col("_prn") > F.col("budget")).select(*FRONTIER_COLS)
        wsel = W.partitionBy("host").orderBy(*SELECT_ORDER)
        ranked = survivors.withColumn("rn", F.row_number().over(wsel)).persist()
        cache += [pre, ranked]
        selected = ranked.filter(F.col("rn") <= F.col("budget")).select(*FRONTIER_COLS)
        remaining = dropped.unionByName(
            ranked.filter(F.col("rn") > F.col("budget")).select(*FRONTIER_COLS)
        )
        # derived from |hosts|-row metadata, not from the selected rows:
        # per-host take is exactly min(pending, budget) (proved bit-identical
        # to the window output by test_crawl_skew/test_crawl_equivalence), so
        # no groupBy shuffle over the selected set
        taken = (
            host_counts.join(F.broadcast(budgets), "host", "left")
            .withColumn("budget", F.coalesce("budget", F.lit(default_budget)))
            .select(
                "host", F.least("n_pending", "budget").alias("n_taken")
            )
        )
    return stats, _SparkEpoch(
        frontier, politeness, host_counts, host_counts.select("host"),
        selected, remaining, taken, cache,
    )


def run_epoch(
    spark: SparkSession, spec: SiteSpec, ckpt: str, epoch: int, use_bloom: bool = True
) -> tuple[int, int]:
    """Process epoch `epoch` (state dir `epoch`) → commit dir `epoch+1`.
    Returns (frontier size, URLs fetched); frontier 0 ⇒ crawl done.

    The epoch is planned from parquet footers first (`_pending_stats_local`).
    A small unconstrained epoch that fits one fetch task is a driver epoch:
    this process fetches, admits and commits it and builds no DataFrame.
    Every other epoch builds its Spark-side inputs (`_spark_epoch`); the
    manifest's ``path`` records which ran ("driver" | "spark").

    A zero-budget epoch (frontier pending but every active host's bucket
    below 1 token) still commits: politeness refills and virtual time
    advances, matching the simulator's cadence exactly."""
    # per-phase wall clock, committed into the epoch manifest ("phase_ms"):
    # the scheduler's own lineage for finding non-scaling time (a phase whose
    # wall is flat across core counts is serial overhead — Amdahl's bill)
    phases: dict[str, float] = {}
    _t = time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _t
        now = time.perf_counter()
        phases[name] = round((now - _t) * 1000.0, 1)
        _t = now

    out_epoch = epoch + 1
    # small host sets give the three plan scalars from the carried
    # host_counts/politeness parquet alone (no Spark job, no DataFrame);
    # large ones run the aggregate in _spark_epoch
    local = _pending_stats_local(ckpt, epoch, int(spec.burst))
    sp = None  # the Spark-side inputs, built only on a path that reads them
    if local is None:
        stats, sp = _spark_epoch(spark, spec, ckpt, epoch, None)
    else:
        stats, hc, pol = local
    n_frontier, constrained, n_selected = stats
    _mark("plan")
    if n_frontier == 0:
        if sp is not None:
            sp.unpersist()
        return 0, 0
    # an unconstrained epoch with locally read counts commits its state
    # driver-side (remaining is empty, taken == pending); if it also fits
    # one fetch task (below) the driver process fetches and admits it too,
    # without any DataFrame
    local_commit = local is not None and constrained == 0
    in_driver = local_commit and n_selected <= _MIN_URLS_PER_FETCH_TASK
    if sp is None and not in_driver:
        _, sp = _spark_epoch(spark, spec, ckpt, epoch, stats)
    path = "driver" if sp is None else "spark"
    _mark("select")

    def _commit(**lineage) -> tuple[int, int]:
        ck.commit_epoch(
            ckpt, out_epoch, {"processed_epoch": epoch, **lineage, "phase_ms": phases}
        )
        if sp is not None:
            sp.unpersist()
        return n_frontier, lineage["urls_fetched"]

    if n_selected == 0:
        # virtual-time tick: refill buckets, carry frontier unchanged
        # (constrained, so a Spark epoch)
        ck.write_table(sp.frontier.select(*FRONTIER_COLS), ckpt, out_epoch, "frontier")
        ck.write_table(sp.host_counts, ckpt, out_epoch, "host_counts")
        ck.write_table(
            _advance_politeness(spec, sp.politeness, sp.active, None),
            ckpt,
            out_epoch,
            "politeness",
        )
        flt = None
        if use_bloom:
            flt = _load_seen_filter(
                os.path.join(ck.epoch_dir(ckpt, epoch), "bloom.npz")
            )
            flt.save(os.path.join(ck.epoch_dir(ckpt, out_epoch), "bloom.npz"))
        filter_load = _seen_filter_load(flt)  # inside the timed phase
        _mark("tick_commit")
        return _commit(
            urls_fetched=0, urls_admitted=0, path=path, seen_filter_load=filter_load,
        )

    # ---- fetch (payloads stay partition-local; written exactly once before
    # any shuffle — partitionBy(row_type) lets every downstream reader prune
    # the heavy payload files away; parquet compression off because image
    # payloads are already entropy-dense)
    fetch_out_path = ck.table_path(ckpt, out_epoch, "fetch_out")
    if in_driver:
        # the one task runs in the driver process: no Python task start-up
        # and no job (~0.2-0.3 s, more than the fetch work it would carry);
        # the link count is exact, so no accumulator
        fetch_tasks = 0
        n_links = _fetch_in_driver(spec, ckpt, epoch, out_epoch, n_selected)
    else:
        # fetch tasks are sized by fetch *cost*, not by input bytes: the
        # frontier rows are ~100 B each, so a byte-based scan split would
        # run a million-URL fetch on two cores. Round-robin to 2× task
        # slots, but give no task fewer than _MIN_URLS_PER_FETCH_TASK URLs.
        fetch_tasks = min(
            spark.sparkContext.defaultParallelism * 2,
            max(1, -(-n_selected // _MIN_URLS_PER_FETCH_TASK)),
        )
        # discovered-link count rides back on an accumulator instead of a
        # probe job over the metric rows (see make_fetcher: retries can only
        # inflate it, and the epoch only branches on == 0, so inflation is
        # benign)
        links_acc = spark.sparkContext.accumulator(0)
        (
            sp.selected.repartition(fetch_tasks)
            .mapInArrow(
                make_fetcher(spec, epoch, links_acc=links_acc),
                schema=FETCH_OUT_SCHEMA,
            )
            .write.mode("overwrite")
            .partitionBy("row_type")
            .option("compression", "none")
            # payload bytes are entropy-dense and unique (real crawls:
            # already-compressed images) — parquet's dictionary attempt
            # buffers and hashes every ~9 KB value before falling back to
            # plain encoding on every page; disabling it read the
            # steady-state epoch at 2.9-3.2 → 2.5 s fetch (CPU 53-57 → 49,
            # same-window A/B r6)
            .option("parquet.enable.dictionary", "false")
            .parquet(fetch_out_path)
        )
        n_links = links_acc.value
    _mark("fetch")

    # crawl_log is the proof artifact; when the fast path selected the WHOLE
    # frontier, it is byte-equal to the epoch's frontier snapshot — record a
    # manifest pointer instead of re-writing it (CrawlResult reassembles)
    log_is_frontier = constrained == 0
    if not log_is_frontier:
        ck.write_table(
            sp.selected.withColumn("epoch", F.lit(epoch)), ckpt, out_epoch, "crawl_log"
        )

    _mark("links_probe")

    # whether anything was discovered lets pure-payload epochs (steady
    # state, drain) skip the entire admission machinery
    if n_links == 0:
        if local_commit:
            # pure-payload fast-path epoch (steady state, drain): the three
            # next-state tables are tiny and fully driver-computable — same
            # writes, no jobs
            _commit_small_epoch_state(
                ckpt, out_epoch, spec, [], hc, pol, write_seen_new=False
            )
        else:
            _write_tables_concurrently(
                ckpt,
                out_epoch,
                [
                    (sp.remaining, "frontier"),
                    (_next_host_counts(sp.host_counts, sp.taken, None), "host_counts"),
                    (
                        _advance_politeness(spec, sp.politeness, sp.active, sp.taken),
                        "politeness",
                    ),
                ],
            )
        _mark("state_writes")
        flt = None
        if use_bloom:
            flt = _load_seen_filter(
                os.path.join(ck.epoch_dir(ckpt, epoch), "bloom.npz")
            )
            flt.save(os.path.join(ck.epoch_dir(ckpt, out_epoch), "bloom.npz"))
        filter_load = _seen_filter_load(flt)  # inside the timed phase
        _mark("bloom")
        return _commit(
            urls_fetched=n_selected, urls_admitted=0,
            crawl_log_from_frontier=log_is_frontier, fetch_tasks=fetch_tasks, path=path,
            seen_filter_load=filter_load,
        )

    # small-epoch driver commit (round 6): when the carried counts were
    # already read locally, selection was unconstrained (remaining empty,
    # taken == pending) and both the link batch and the seen view fit the
    # bounded-local gates, the whole admission pipeline AND all four state
    # writes run driver-side — zero Spark jobs between fetch and commit
    # (the r6 phase profile put ~2 s of the ~2.9 s small epoch in the
    # admission job + state-write jobs' fixed latencies). Semantics are
    # mirrored operation-for-operation (_admit_links_driver /
    # _commit_small_epoch_state); large epochs take the distributed path
    # below unchanged.
    if (
        local_commit
        and n_links <= _DRIVER_COMMIT_MAX_ROWS
        and _seen_rows_small(ckpt, epoch, _DRIVER_ADD_MAX_ROWS)
    ):
        adm_rows = _admit_links_driver(ckpt, epoch, out_epoch, fetch_out_path)
        n_admitted = len(adm_rows)
        _mark("admission")
        _commit_small_epoch_state(ckpt, out_epoch, spec, adm_rows, hc, pol)
        _mark("state_writes")
        bf = None
        if use_bloom:
            bf = _load_seen_filter(
                os.path.join(ck.epoch_dir(ckpt, epoch), "bloom.npz")
            )
            if n_admitted > 0:
                if (
                    isinstance(bf, CuckooFilter)
                    and len(bf) + n_admitted > _CUCKOO_GROW_LOAD * bf.capacity
                ):
                    # seen_new for this epoch is already written above, so
                    # the rebuild covers the batch too; it is a Spark job
                    bf = _grow_cuckoo(
                        spark, ckpt, out_epoch, bf, len(bf) + n_admitted
                    )
                    path = "spark"
                else:
                    bf.add_many(
                        np.fromiter(
                            (r["url_hash"] for r in adm_rows),
                            dtype=np.int64,
                            count=n_admitted,
                        )
                    )
            bf.save(os.path.join(ck.epoch_dir(ckpt, out_epoch), "bloom.npz"))
        filter_load = _seen_filter_load(bf)  # inside the timed phase
        _mark("bloom")
        return _commit(
            urls_fetched=n_selected, urls_admitted=n_admitted,
            crawl_log_from_frontier=log_is_frontier, fetch_tasks=fetch_tasks, path=path,
            seen_filter_load=filter_load,
        )

    # ---- admission: route filter → robots → keep-first → bloom+anti-join
    # (explicit schema: skips inference listing; pure-payload epochs above
    # never open the directory at all). A driver-fetched epoch whose links
    # or seen view outgrow the driver gates builds its Spark inputs here.
    if sp is None:
        _, sp = _spark_epoch(spark, spec, ckpt, epoch, stats)
        path = "spark"
    fetch_out = spark.read.schema(FETCH_OUT_SCHEMA).parquet(fetch_out_path)
    links = (
        fetch_out.filter(F.col("row_type") == "link")
        .select(*FRONTIER_COLS, "route")
        .withColumn("disc_epoch", F.lit(out_epoch))
    )
    links = links.filter(
        (F.col("kind") == "list") | (F.col("route") != sm.ROUTE_UNKNOWN)
    ).drop("route")
    robots = ck.read_table(spark, ckpt, 0, "robots")
    links = (
        links.join(F.broadcast(robots), "host", "left")
        .withColumn("_path", url_path("url"))
        .filter(
            F.col("disallow_prefixes").isNull()
            | ~F.exists(
                "disallow_prefixes", lambda p: F.col("_path").startswith(p)
            )
        )
        .drop("disallow_prefixes", "_path")
    )
    # keep-first within the epoch: min-struct aggregation (one partial+final
    # hash agg — no sort, cheaper than a row_number window; the admission
    # key leads the struct so lexicographic min IS first-occurrence)
    cand = (
        links.groupBy("url")
        .agg(F.min(F.struct(*ORDER_KEY, "kind", "host")).alias("_first"))
        .select("url", "_first.*")
        .withColumn("url_hash", url_hash64("url"))
    )

    seen = _seen_view(spark, ckpt, epoch)

    if use_bloom:
        bf = _load_seen_filter(os.path.join(ck.epoch_dir(ckpt, epoch), "bloom.npz"))
        cand = cand.withColumn("_maybe", _seen_filter_udf(bf)("url_hash")).persist()
        sp.cache.append(cand)
        definite_new = cand.filter(~F.col("_maybe")).drop("_maybe")
        suspect = cand.filter(F.col("_maybe")).drop("_maybe")
        admitted = definite_new.unionByName(suspect.join(seen, "url", "left_anti"))
    else:
        bf = None
        admitted = cand.join(seen, "url", "left_anti")

    admitted = admitted.persist()
    sp.cache.append(admitted)
    _mark("admission")

    # ---- commit next state. `admitted` is persisted but NOT
    # pre-materialized with a count job: the seen_new write below is the one
    # pass that computes it into the cache (written and materialized in the
    # same job), n_admitted then comes from the written parquet footers —
    # exact, driver-side metadata — and the remaining three independent
    # writes read the cache concurrently. One full Spark job less per epoch
    # than count-then-write, with no concurrent cache-fill contention.
    ck.write_table(
        admitted.select("url", "url_hash", F.lit(out_epoch).alias("admit_epoch")),
        ckpt,
        out_epoch,
        "seen_new",
    )
    n_admitted = ck.table_num_rows(ckpt, out_epoch, "seen_new")
    new_frontier = sp.remaining.unionByName(
        admitted.select(*FRONTIER_COLS)
    ).repartition("host")
    _write_tables_concurrently(
        ckpt,
        out_epoch,
        [
            (new_frontier, "frontier"),
            (_next_host_counts(sp.host_counts, sp.taken, admitted), "host_counts"),
            (
                _advance_politeness(spec, sp.politeness, sp.active, sp.taken),
                "politeness",
            ),
        ],
    )
    _mark("state_writes")

    if use_bloom and bf is not None:
        if n_admitted > 0:
            if (
                isinstance(bf, CuckooFilter)
                and len(bf) + n_admitted > _CUCKOO_GROW_LOAD * bf.capacity
            ):
                # the batch would cross the safe load factor: rebuild
                # larger from the exact seen view (seen_new for this epoch
                # is already written, so the rebuild covers the batch too)
                bf = _grow_cuckoo(spark, ckpt, out_epoch, bf, len(bf) + n_admitted)
            else:
                _filter_add_after_write(
                    bf, ckpt, out_epoch, admitted.select("url_hash"), n_admitted
                )
        bf.save(os.path.join(ck.epoch_dir(ckpt, out_epoch), "bloom.npz"))
    filter_load = _seen_filter_load(bf)  # inside the timed phase
    _mark("bloom")
    return _commit(
        urls_fetched=n_selected, urls_admitted=n_admitted,
        crawl_log_from_frontier=log_is_frontier, fetch_tasks=fetch_tasks, path=path,
        seen_filter_load=filter_load,
    )


def init_steady_frontier(
    spark: SparkSession,
    spec: SiteSpec,
    ckpt: str,
    n_urls: int,
    filter_kind: str = "bloom",
) -> None:
    """Steady-state bench setup: a frontier preloaded with `n_urls` pending
    detail URLs across `spec.n_hosts` hosts — the regime every epoch of a
    10^10-URL crawl lives in (frontier ≫ per-epoch budget is the *politeness*
    constraint; here budgets are open so the epoch measures scheduler +
    fetch + payload throughput, the BASELINE.json metric)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].astype(np.int64)
            yield pd.DataFrame(
                {
                    "priority": np.zeros(len(ids), dtype=np.int32),
                    "disc_epoch": np.zeros(len(ids), dtype=np.int32),
                    "seed_idx": (ids % 2_000_000_000).astype(np.int32),
                    "page_idx": np.zeros(len(ids), dtype=np.int32),
                    "pos": (ids % 2_000_000_000).astype(np.int32),
                    "kind": "detail",
                    "url": [
                        f"https://h{i % spec.n_hosts}.test/detail/ss{i}" for i in ids
                    ],
                    "host": [f"h{i % spec.n_hosts}.test" for i in ids],
                }
            )

    frontier = spark.range(n_urls).repartition(32).mapInPandas(
        gen,
        schema="priority int, disc_epoch int, seed_idx int, page_idx int,"
        " pos int, kind string, url string, host string",
    )
    ck.write_table(frontier.select(*FRONTIER_COLS), ckpt, 0, "frontier")
    ck.write_table(
        frontier.groupBy("host").agg(F.count(F.lit(1)).alias("n_pending")),
        ckpt,
        0,
        "host_counts",
    )
    ck.write_table(
        frontier.select(
            "url", url_hash64("url").alias("url_hash"), F.lit(0).alias("admit_epoch")
        ),
        ckpt,
        0,
        "seen_new",
    )
    hosts = spark.createDataFrame(
        [(f"h{i}.test",) for i in range(spec.n_hosts)], ["host"]
    )
    ck.write_table(
        hosts.withColumn("tokens", F.lit(float(spec.burst))), ckpt, 0, "politeness"
    )
    ck.write_table(
        hosts.withColumn(
            "disallow_prefixes", F.array().cast("array<string>")
        ),
        ckpt,
        0,
        "robots",
    )
    bf = _make_seen_filter(filter_kind, max(n_urls, 1024))
    _filter_add_from_df(
        bf,
        spark.read.parquet(ck.table_path(ckpt, 0, "seen_new")).select("url_hash"),
        n_rows=n_urls,
    )
    bf.save(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    ck.commit_epoch(ckpt, 0, {"n_urls": n_urls, "kind": "steady_state_init"})


def run_crawl(
    spark: SparkSession,
    spec: SiteSpec,
    ckpt: str,
    max_epochs: int = 10_000,
    use_bloom: bool = True,
    resume: bool = True,
    filter_kind: str = "bloom",
) -> CrawlResult:
    """Run (or resume) the crawl to frontier exhaustion. ``filter_kind``
    picks the seen-set prefilter at init ('bloom' | 'cuckoo'); resumed
    crawls keep whatever the checkpoint stored."""
    if resume:
        ck.cleanup_uncommitted(ckpt)
    last = ck.last_committed(ckpt)
    if last is None:
        init_state(spark, spec, ckpt, filter_kind=filter_kind)
        last = 0
    epoch = last
    while epoch < max_epochs:
        n_frontier, _ = run_epoch(spark, spec, ckpt, epoch, use_bloom=use_bloom)
        if n_frontier == 0:
            break
        epoch += 1
    return CrawlResult(ckpt=ckpt, epochs=epoch, spark=spark)


_EXPIRE_CHUNK = 1 << 20  # driver-side cuckoo-delete batch: ~8 MB of hashes


def expire_seen(
    spark: SparkSession,
    ckpt: str,
    urls_df: DataFrame,
    delete_chunk: int = _EXPIRE_CHUNK,
) -> int:
    """TTL / policy expiry: make previously-crawled URLs admissible again
    (north rule: the cuckoo filter exists exactly for this).

    Tombstones the URLs out of the exact seen set (a ``seen_removed`` table
    in a fresh epoch commit — parquet is append-only, like Iceberg delete
    files) and updates the seen prefilter:

    - cuckoo: per-key ``delete_many`` on the loaded filter — O(batch), no
      rebuild. The members-only deletion contract holds by construction:
      the batch is first semi-joined against the exact seen view.
    - bloom: cannot forget; the filter is REBUILT from the post-expiry
      exact set (a full scan — the cost that motivates the cuckoo
      fallback).

    Frontier and politeness carry forward unchanged; returns the number of
    URLs actually expired. The cuckoo delete streams the expiry hashes
    through the driver in bounded ``delete_chunk`` batches (toLocalIterator
    — one partition in flight at a time), so a full-seen-set recrawl sweep
    (crawl_job --recrawl passes prior.seen() wholesale) holds O(chunk)
    driver memory at any corpus size (VERDICT r3 item 3). Sequential
    chunked deletes are equivalent to one batch: delete_many removes one
    stored occurrence per key and the batch is pre-joined to the exact seen
    set, so no key appears twice."""
    ck.cleanup_uncommitted(ckpt)  # never expire from crash debris (ADVICE r3)
    last = ck.last_committed(ckpt)
    assert last is not None, "expire_seen needs an initialised checkpoint"
    out_epoch = last + 1

    gone = (
        urls_df.select("url")
        .distinct()
        .join(_seen_view(spark, ckpt, last), "url", "semi")
        .withColumn("url_hash", url_hash64("url"))
        .withColumn("removed_epoch", F.lit(out_epoch))
        .persist()
    )
    n_expired = gone.count()
    ck.write_table(gone, ckpt, out_epoch, "seen_removed")
    ck.write_table(
        ck.read_table(spark, ckpt, last, "frontier"), ckpt, out_epoch, "frontier"
    )
    ck.write_table(
        ck.read_table(spark, ckpt, last, "politeness"), ckpt, out_epoch, "politeness"
    )

    flt_path = os.path.join(ck.epoch_dir(ckpt, last), "bloom.npz")
    if os.path.exists(flt_path):  # use_bloom=False crawls keep no prefilter
        flt = _load_seen_filter(flt_path)
        if isinstance(flt, CuckooFilter):
            buf: list[int] = []
            for row in gone.select("url_hash").toLocalIterator():
                buf.append(row[0])
                if len(buf) >= delete_chunk:
                    flt.delete_many(np.array(buf, dtype=np.int64))
                    buf.clear()
            if buf:
                flt.delete_many(np.array(buf, dtype=np.int64))
        else:
            # same geometry as the original (NOT sized to the post-expiry
            # count: the crawl keeps adding keys at the spec's rate, and a
            # shrunken filter would saturate)
            remaining = _seen_view(spark, ckpt, out_epoch).select(
                url_hash64("url").alias("url_hash")
            )
            rebuilt = BloomFilter.empty_like(flt)
            _bloom_add_from_df(rebuilt, remaining)
            flt = rebuilt
        flt.save(os.path.join(ck.epoch_dir(ckpt, out_epoch), "bloom.npz"))

    ck.commit_epoch(
        ckpt,
        out_epoch,
        {"kind": "expiry", "processed_epoch": last, "urls_expired": n_expired},
    )
    gone.unpersist()
    return n_expired


def reseed(spark: SparkSession, spec: SiteSpec, ckpt: str) -> None:
    """Recrawl entry point: re-inject the seed list pages into the frontier
    (keep-first against rows already pending), mark any seed that is not
    currently seen as seen (init_state's invariant: seeds are born seen —
    refsim puts them in the seen set at start, so a recrawl pass must too),
    and reset politeness buckets to a full burst — the state a fresh crawl
    starts from. Combined with expire_seen over the previous crawl's URLs,
    a resumed run_crawl reproduces the reference crawl order again from the
    new epoch (tests/test_recrawl.py proves the second pass bit-identical)."""
    ck.cleanup_uncommitted(ckpt)  # never reseed over crash debris (ADVICE r3)
    last = ck.last_committed(ckpt)
    assert last is not None, "reseed needs an initialised checkpoint"
    out_epoch = last + 1

    carried = ck.read_table(spark, ckpt, last, "frontier")
    seeds = _seed_frontier(spark, spec).persist()
    wdup = W.partitionBy("url").orderBy(*ORDER_KEY)
    frontier = (
        carried.select(*FRONTIER_COLS)
        .unionByName(seeds.select(*FRONTIER_COLS))
        .withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .repartition("host")
    )
    ck.write_table(frontier, ckpt, out_epoch, "frontier")

    # seeds not currently seen (expired, or never crawled) re-enter the seen
    # set now, exactly like init_state's seed admission; seeds still seen are
    # left alone so no url ever has two live seen rows
    seed_seen = (
        seeds.select("url")
        .join(_seen_view(spark, ckpt, last), "url", "left_anti")
        .select(
            "url",
            url_hash64("url").alias("url_hash"),
            F.lit(out_epoch).alias("admit_epoch"),
        )
    )
    ck.write_table(seed_seen, ckpt, out_epoch, "seen_new")

    politeness = ck.read_table(spark, ckpt, last, "politeness")
    ck.write_table(
        politeness.withColumn("tokens", F.lit(float(spec.burst))),
        ckpt,
        out_epoch,
        "politeness",
    )
    flt_path = os.path.join(ck.epoch_dir(ckpt, last), "bloom.npz")
    if os.path.exists(flt_path):
        flt = _load_seen_filter(flt_path)
        _filter_add_from_df(
            flt, spark.read.parquet(ck.table_path(ckpt, out_epoch, "seen_new"))
            .select("url_hash")
        )
        flt.save(os.path.join(ck.epoch_dir(ckpt, out_epoch), "bloom.npz"))
    seeds.unpersist()
    ck.commit_epoch(ckpt, out_epoch, {"kind": "reseed", "processed_epoch": last})
