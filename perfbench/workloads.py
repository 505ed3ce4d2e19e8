"""The benchmark's workloads. Each drives the engine only through its public
calls, times them from outside, and checks the outputs afterwards:

- ``site_crawl``: bench.py's synthetic site crawled from seeds to an empty
  frontier (small epochs: per-epoch and per-job fixed cost, driver commit).
- ``query_mix``: one pass over bench.py's 15 headline analytics queries on
  generated sf0.1-size tables (relational, text and ML plan leaves).

A workload runs ``setup`` (untimed preparation and a warm pass), then
``rep`` until the benchmark's time is spent, then ``check``. ``rep`` returns
what the end-to-end metrics need; with ``traced=True`` it also gathers the
per-layer samples ``layer_metrics`` reports.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from catalog import HEADLINE, PER_LAYER, PHASES
from counters import JobCounter, SparkWork
from measure import Stopwatch, tree_cpu_seconds
from oracle import DuckOracle

from gov_procurement_spider_spark.crawler.bloom import BloomFilter
from gov_procurement_spider_spark.crawler.cuckoo import CuckooFilter
from gov_procurement_spider_spark.crawler.fetcher import make_fetcher
from gov_procurement_spider_spark.plans.crawl import (
    FRONTIER_COLS,
    ORDER_KEY,
    CrawlResult,
    init_state,
    run_epoch,
)
from gov_procurement_spider_spark.refsim import simulate
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck

CORES = 4
ROOT_PID = os.getpid()

# bench.py's crawl shapes, frozen here so the benchmark keeps measuring the
# same work if that script changes
SITE_SPEC = SiteSpec(
    n_seeds=96,
    n_hosts=16,
    detail_space=20_000,
    max_list_pages=5,
    max_links_per_page=10,
    rate_per_sec=10_000.0,
    burst=20_000.0,
    epoch_seconds=2.0,
)

# a layer breakdown whose unattributed share exceeds this is flagged
UNATTRIBUTED_LIMIT = 0.10
# untimed crawls before site_crawl's timed ones: in a fresh JVM the 2nd and
# 3rd crawls of the site still took ~40% and ~20% longer than the 4th and
# later ones (JIT). Two leave only the tail of that curve in the timed
# crawls; a third would cost ~6 s more per run than the run budget allows
WARM_CRAWLS = 2


@dataclass
class Rep:
    """One timed repetition."""

    wall_s: float
    cpu_s: float
    ops_ms: list[float]
    units: int  # URLs fetched (crawl workloads) or queries run (query_mix)
    attempted: int  # operations: run_epoch calls or query runs


@dataclass
class Outcome:
    """What a workload reports besides its timings."""

    failed: int = 0
    errors: list[str] = field(default_factory=list)
    flags: list[str] = field(default_factory=list)

    def fail(self, n_ops: int, why: str) -> None:
        self.failed += n_ops
        self.errors.append(why)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.out = Outcome()
        self.setup_parts: dict[str, float] = {}  # seconds, by setup step
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counter = JobCounter(spark)
        self.hook_s = 0.0  # time traced reps spent inside the tracing hooks

    def _hook_open(self) -> tuple:
        """Before a traced call: (Spark mark, tree CPU); the time this
        takes is tracing overhead."""
        t0 = time.perf_counter()
        opened = (self.counter.mark(), tree_cpu_seconds(ROOT_PID))
        self.hook_s += time.perf_counter() - t0
        return opened

    def _hook_close(self, opened: tuple) -> tuple[SparkWork, float]:
        """After a traced call: (Spark work, CPU-seconds) since _hook_open."""
        t0 = time.perf_counter()
        cpu = tree_cpu_seconds(ROOT_PID) - opened[1]
        work = self.counter.since(opened[0])
        self.hook_s += time.perf_counter() - t0
        return work, cpu

    def setup(self) -> None:
        raise NotImplementedError

    def rep(self, traced: bool) -> Rep:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def probe(self) -> None:
        """Untimed single-layer probes for the traced run."""

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer values from the traced reps; a layer the workload does
        not exercise reads 0."""
        out = {name: 0.0 for name, _, _ in PER_LAYER}
        out.update(self._layers())
        return out

    def _layers(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------


def _frontier_batch(rows: list[tuple]) -> pa.RecordBatch:
    """A fetch-input batch (FRONTIER_COLS order and types) from
    (priority, disc_epoch, seed_idx, page_idx, pos, kind, url, host) rows."""
    cols = list(zip(*rows))
    types = [pa.int32()] * 5 + [pa.string()] * 3
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, types)], names=FRONTIER_COLS
    )


class SiteCrawl(Workload):
    name = "site_crawl"

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.spec = replace(SITE_SPEC, seed=seed)
        self.done: list[tuple[str, int, int]] = []  # (ckpt, epochs, ops)
        self.extra: dict[str, float] = {}  # filled by probe

    def _new_ckpt(self, tag: str) -> str:
        path = os.path.join(self.work, f"ckpt-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _epoch(self, ckpt: str, epoch: int, traced: bool, log: list) -> tuple[int, int]:
        """One timed ``run_epoch`` call; traced calls also record CPU and
        the Spark jobs, tasks and shuffle bytes it ran."""
        if not traced:
            t0 = time.perf_counter()
            n_frontier, n_fetched = run_epoch(self.spark, self.spec, ckpt, epoch)
            wall_ms = (time.perf_counter() - t0) * 1000.0
            log.append({"wall_ms": wall_ms, "committed": n_frontier > 0})
            return n_frontier, n_fetched
        opened = self._hook_open()
        t0 = time.perf_counter()
        n_frontier, n_fetched = run_epoch(self.spark, self.spec, ckpt, epoch)
        wall_ms = (time.perf_counter() - t0) * 1000.0
        work, cpu = self._hook_close(opened)
        log.append(
            {
                "wall_ms": wall_ms,
                "cpu_s": cpu,
                "work": work,
                "committed": n_frontier > 0,
                "out_epoch": epoch + 1,
            }
        )
        return n_frontier, n_fetched

    def _trace_epochs(self, ckpt: str, log: list) -> None:
        """Fold one traced rep's epochs into the layer samples: manifest
        phase_ms, the fetcher's metric rows and checkpoint bytes on disk,
        with the parts-sum check (Σ phase_ms + unattributed = wall)."""
        s = self.samples
        work, urls, wall_ms, cpu_s = SparkWork(), 0, 0.0, 0.0
        for rec in log:
            work += rec["work"]
            wall_ms += rec["wall_ms"]
            cpu_s += rec["cpu_s"]
            if not rec["committed"]:
                continue
            e = rec["out_epoch"]
            man = ck.read_manifest(ckpt, e)
            phases = man.get("phase_ms", {})
            for p in PHASES:
                s[f"phase.{p}"].append(phases.get(p, 0.0))
            unattributed = rec["wall_ms"] - sum(phases.values())
            s["unattributed"].append(unattributed)
            if unattributed > UNATTRIBUTED_LIMIT * rec["wall_ms"]:
                self.out.flags.append(
                    f"epoch {e - 1}: {unattributed:.0f} of {rec['wall_ms']:.0f} ms"
                    " outside phase_ms"
                )
            metric_dir = os.path.join(ck.table_path(ckpt, e, "fetch_out"), "row_type=metric")
            if os.path.isdir(metric_dir):
                m = pq.read_table(
                    metric_dir, columns=["urls_fetched", "payload_bytes", "wall_ms"]
                )
                codec_ms = float(pc.sum(m["wall_ms"]).as_py() or 0)
                s["codec_ms"].append(codec_ms)
                s["fetch_ms"].append(phases.get("fetch", 0.0))
                s["payload_bytes"].append(float(pc.sum(m["payload_bytes"]).as_py() or 0))
                urls += int(pc.sum(m["urls_fetched"]).as_py() or 0)
            size, files = _dir_stats(ck.epoch_dir(ckpt, e))
            s["ckpt_bytes"].append(size)
            s["ckpt_files"].append(files)
        n = len(log)
        s["jobs"].append(work.jobs / n)
        s["tasks"].append(work.tasks / n)
        s["shuffle"].append(work.shuffle_bytes / n)
        s["busy"].append(cpu_s / (wall_ms / 1000.0 * CORES))
        s["urls"].append(urls)

    def _layers(self) -> dict[str, float]:
        s = self.samples
        # per-epoch means, so the phases and the unattributed rest add up
        # to the mean epoch wall
        out = {f"crawl.phase.{p}_ms": _mean(s[f"phase.{p}"]) for p in PHASES}
        urls = sum(s["urls"])
        out.update(
            {
                "crawl.unattributed_ms": _mean(s["unattributed"]),
                "crawl.spark_jobs_per_epoch": _median(s["jobs"]),
                "crawl.spark_tasks_per_epoch": _median(s["tasks"]),
                "crawl.shuffle_bytes_per_epoch": _median(s["shuffle"]),
                "crawl.core_busy_frac": _median(s["busy"]),
                "fetcher.codec_task_ms": _mean(s["codec_ms"]),
                "fetcher.codec_share": sum(s["codec_ms"])
                / max(sum(s["fetch_ms"]) * CORES, 1e-9),
                "fetcher.payload_bytes_per_url": sum(s["payload_bytes"]) / max(urls, 1),
                "ckpt.bytes_per_url": sum(s["ckpt_bytes"]) / max(urls, 1),
                "ckpt.files_per_epoch": _mean(s["ckpt_files"]),
            }
        )
        out.update(self.extra)
        return out

    def setup(self) -> None:
        """Warm pass: untimed crawls of the same site."""
        t0 = time.perf_counter()
        for _ in range(WARM_CRAWLS):
            warm = self._new_ckpt("warm")
            init_state(self.spark, self.spec, warm)
            epoch = 0
            while run_epoch(self.spark, self.spec, warm, epoch)[0]:
                epoch += 1
            shutil.rmtree(warm)
        self.setup_parts = {"warm_s": time.perf_counter() - t0}

    def rep(self, traced: bool) -> Rep:
        ckpt = self._new_ckpt(f"rep{len(self.done)}")
        log: list[dict] = []
        units = 0
        with Stopwatch(ROOT_PID) as sw:
            init_state(self.spark, self.spec, ckpt)
            epoch = 0
            while True:
                n_frontier, n_fetched = self._epoch(ckpt, epoch, traced, log)
                units += n_fetched
                if n_frontier == 0:
                    break
                epoch += 1
        self.done.append((ckpt, epoch, len(log)))
        if traced:
            self._trace_epochs(ckpt, log)
        # the last call finds the frontier empty and commits nothing: it is
        # an attempted operation but not an epoch sample
        epochs_ms = [r["wall_ms"] for r in log if r["committed"]]
        return Rep(sw.wall, sw.cpu, epochs_ms, units, len(log))

    def check(self) -> None:
        """Crawl order and seen set of every timed crawl equal the
        sequential reference simulator's."""
        sim = simulate(self.spec)
        want = [tuple(o) for o in sim.crawl_order]
        cols = ["epoch", "host"] + ORDER_KEY + ["kind", "url"]
        for ckpt, epochs, ops in self.done:
            res = CrawlResult(ckpt=ckpt, epochs=epochs, spark=self.spark)
            got = [tuple(r) for r in res.crawl_order().select(*cols).collect()]
            seen = {r.url for r in res.seen().select("url").collect()}
            if got != want:
                self.out.fail(ops, f"{ckpt}: crawl order differs from refsim")
            elif seen != sim.url_seen:
                self.out.fail(ops, f"{ckpt}: seen set differs from refsim")

    # -- untimed single-layer probes, run once after the timed part -------

    def probe(self) -> None:
        """fetcher.us_per_url from a direct single-thread call of the fetch
        function on the first URLs the crawl fetches, and the seen-filter
        costs at this run's own geometry."""
        sim = simulate(self.spec)
        rows = [o[2:7] + (o[7], o[8], o[1]) for o in sim.crawl_order[:256]]
        fetch_batch = _frontier_batch(rows)
        ckpt = self.done[-1][0]
        last_epoch = ck.last_committed(ckpt)
        fetch = make_fetcher(self.spec, 0)
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in fetch(iter([fetch_batch])):
                pass
            walls.append(time.perf_counter() - t0)
        self.extra["fetcher.us_per_url"] = _median(walls) / fetch_batch.num_rows * 1e6

        keys = np.concatenate(
            [
                pq.read_table(p, columns=["url_hash"]).column(0).to_numpy()
                for e in range(last_epoch + 1)
                if os.path.isdir(p := ck.table_path(ckpt, e, "seen_new"))
            ]
        ).astype(np.int64)
        # url hashes are < 2^60, so these keys are known to be absent
        rng = np.random.Generator(np.random.PCG64(self.seed))
        absent = rng.integers(1 << 60, 1 << 62, size=max(len(keys), 10_000), dtype=np.int64)
        stored = BloomFilter.load(os.path.join(ck.epoch_dir(ckpt, last_epoch), "bloom.npz"))
        # the key count the stored Bloom geometry was sized for (1% fpr)
        n_expected = round(stored.m * math.log(2) ** 2 / -math.log(0.01))
        makers = {
            "bloom": lambda: BloomFilter.empty_like(stored),
            "cuckoo": lambda: CuckooFilter(n_expected),
        }
        for kind, make in makers.items():
            t: dict[str, list[float]] = defaultdict(list)
            for _ in range(5):
                flt = make()
                t0 = time.perf_counter()
                flt.add_many(keys)
                t1 = time.perf_counter()
                flt.maybe_contains(keys)
                t2 = time.perf_counter()
                t["add"].append((t1 - t0) / len(keys) * 1e9)
                t["probe"].append((t2 - t1) / len(keys) * 1e9)
                path = os.path.join(self.work, f"filter-{kind}.npz")
                t0 = time.perf_counter()
                flt.save(path)
                t1 = time.perf_counter()
                type(flt).load(path)
                t2 = time.perf_counter()
                t["save"].append((t1 - t0) * 1000.0)
                t["load"].append((t2 - t1) * 1000.0)
            p = f"seen_filter.{kind}."
            self.extra[p + "add_ns_per_key"] = _median(t["add"])
            self.extra[p + "probe_ns_per_key"] = _median(t["probe"])
            self.extra[p + "fpr"] = float(flt.maybe_contains(absent).mean())
            self.extra[p + "save_ms"] = _median(t["save"])
            self.extra[p + "load_ms"] = _median(t["load"])


# ---------------------------------------------------------------------------
# analytics queries
# ---------------------------------------------------------------------------


class QueryMix(Workload):
    name = "query_mix"

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.data = os.path.join(work, "tables")
        rng = np.random.Generator(np.random.PCG64(seed))
        self.order = [HEADLINE[i] for i in rng.permutation(len(HEADLINE))]
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.counts: dict[str, list[int]] = defaultdict(list)

    def setup(self) -> None:
        import __spark_entry__ as entry

        t0 = time.perf_counter()
        datagen.write_tables(datagen.TABLE_SEED, self.data)
        # lazy oracles that train from parquet read the directory in this
        # variable; point it at the generated tables
        os.environ["SPARK_GRAFT_SF_DIR"] = self.data
        self.entry = entry
        self.queries = entry.queries()
        # warm pass: keep each result for the oracle comparison in check()
        for name in self.order:
            df = self.queries[name](self.spark, self.data)
            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
        self.setup_parts = {"warm_s": time.perf_counter() - t0}

    def rep(self, traced: bool) -> Rep:
        ops = []
        with Stopwatch(ROOT_PID) as sw:
            for name in self.order:
                try:
                    ops.append(self._run(name, traced))
                except Exception as exc:  # a failed query is a failed op
                    self.out.fail(1, f"{name}: {type(exc).__name__}: {exc}"[:300])
        return Rep(sw.wall, sw.cpu, ops, len(ops), len(self.order))

    def _run(self, name: str, traced: bool) -> float:
        fn = self.queries[name]
        if not traced:
            t0 = time.perf_counter()
            n = fn(self.spark, self.data).count()
            wall = time.perf_counter() - t0
            self.counts[name].append(n)
            return wall * 1000.0
        opened = self._hook_open()
        t0 = time.perf_counter()
        df = fn(self.spark, self.data)
        t1 = time.perf_counter()
        n = df.count()
        t2 = time.perf_counter()
        work, cpu = self._hook_close(opened)
        self.counts[name].append(n)
        # build and execution are back-to-back spans: they sum to the leaf
        # wall, with no unattributed part
        s = self.samples
        s[f"{name}.build_ms"].append((t1 - t0) * 1e3)
        s[f"{name}.exec_ms"].append((t2 - t1) * 1e3)
        s[f"{name}.cpu_s"].append(cpu)
        s[f"{name}.shuffle_bytes"].append(work.shuffle_bytes)
        return (t2 - t0) * 1e3

    def check(self) -> None:
        """Every result's canonical form equals the DuckDB oracle's, and
        every timed count equals the oracle's row count."""
        oracles = self.entry.oracle_sql()
        # the digest cache outlives the run: only the run's own work
        # directory is removed at the end, not its parent
        cache = os.path.join(os.path.dirname(self.work), "oracle-cache")
        duck = DuckOracle(self.data, datagen.TABLES, cache)
        try:
            for name in self.order:
                runs = len(self.counts[name])
                cols, rows = self.results[name]
                why = duck.compare(oracles[name], cols, rows)
                if why is None and any(c != len(rows) for c in self.counts[name]):
                    why = f"timed counts {sorted(set(self.counts[name]))} vs {len(rows)} rows"
                if why is not None:
                    self.out.fail(runs, f"{name}: {why}")
        finally:
            duck.close()

    def _layers(self) -> dict[str, float]:
        return {f"query.{k}": _median(v) for k, v in self.samples.items()}


WORKLOADS = {w.name: w for w in (SiteCrawl, QueryMix)}
