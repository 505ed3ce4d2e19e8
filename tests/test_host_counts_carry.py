"""The carried per-host pending-count table (epoch state `host_counts`).

Round-5 scale fix: every epoch used to open with a full-frontier
groupBy(host) — at 10^10-URL scale that is a complete frontier shuffle-agg
per epoch just to learn per-host pending counts the previous epoch already
knew. The commit now carries `host_counts` forward incrementally
(pending − taken + admitted), and the plan phase aggregates the tiny
carried table instead. These tests pin the invariant that makes that
sound: for every committed epoch, the carried table equals a fresh
recomputation from that epoch's frontier — through admissions, constrained
selection, zero-budget ticks, and resume."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from gov_procurement_spider_spark.plans import crawl as C
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck


def _assert_counts_match_frontier(spark, ckpt):
    checked = 0
    for e in ck.committed_epochs(ckpt):
        carried = C._read_host_counts(spark, ckpt, e)
        if carried is None:
            continue
        want = sorted(
            (r.host, r.n)
            for r in ck.read_table(spark, ckpt, e, "frontier")
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        got = sorted((r.host, r.n_pending) for r in carried.collect())
        assert got == want, f"epoch {e}: carried {got} != recomputed {want}"
        checked += 1
    assert checked >= 2, "expected carried host_counts on several epochs"


def test_carried_counts_match_frontier_with_admissions(spark):
    """A real multi-epoch crawl (links discovered → admissions → drain):
    the incremental carry stays equal to ground truth at every commit."""
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
        rate_per_sec=8.0, burst=6.0,
    )
    ckpt = tempfile.mkdtemp(prefix="hc_carry_")
    C.run_crawl(spark, spec, ckpt)
    _assert_counts_match_frontier(spark, ckpt)


def test_carried_counts_under_constrained_selection(spark):
    """Tight budgets force the salted top-k path (taken ≠ pending), the
    branch where the carry must subtract the *selected* counts."""
    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=1.0, burst=2.0, epoch_seconds=2.0,
    )
    ckpt = tempfile.mkdtemp(prefix="hc_constr_")
    C.run_crawl(spark, spec, ckpt)
    _assert_counts_match_frontier(spark, ckpt)


def test_plan_phase_reads_carried_table_not_frontier(spark):
    """After the first epoch commits, the next epoch's plan phase must find
    the carried table (no silent fall-back to the frontier recompute)."""
    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=50.0, burst=100.0,
    )
    ckpt = tempfile.mkdtemp(prefix="hc_present_")
    C.run_crawl(spark, spec, ckpt, max_epochs=2)
    for e in ck.committed_epochs(ckpt):
        assert C._read_host_counts(spark, ckpt, e) is not None


def test_missing_table_falls_back_to_recompute(spark):
    """An epoch dir without host_counts (pre-round-5 checkpoint, or a
    reseed/expiry epoch) must still run — the plan phase recomputes from
    the frontier and the NEXT commit re-establishes the carry."""
    import shutil

    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=50.0, burst=100.0,
    )
    ckpt = tempfile.mkdtemp(prefix="hc_fallback_")
    C.run_crawl(spark, spec, ckpt, max_epochs=1)
    last = ck.last_committed(ckpt)
    shutil.rmtree(ck.table_path(ckpt, last, "host_counts"))
    assert C._read_host_counts(spark, ckpt, last) is None
    res = C.run_crawl(spark, spec, ckpt)  # resumes from the stripped epoch
    assert res.epochs > last
    _assert_counts_match_frontier(spark, ckpt)


def test_local_pending_stats_match_spark_aggregate(spark):
    """The driver-side plan-scalar path (_pending_stats_local) must return
    exactly what the distributed aggregate returns, on every committed
    epoch of a crawl that exercises both constrained and fast-path epochs
    — same budget = floor(tokens) semantics, same default for hosts absent
    from the politeness table."""
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
        rate_per_sec=2.0, burst=4.0, epoch_seconds=2.0,
    )
    ckpt = tempfile.mkdtemp(prefix="hc_stats_")
    C.run_crawl(spark, spec, ckpt)
    default_budget = int(spec.burst)
    checked = 0
    for e in ck.committed_epochs(ckpt):
        carried = C._read_host_counts(spark, ckpt, e)
        if carried is None:
            continue
        local = C._pending_stats_local(ckpt, e, default_budget)
        assert local is not None
        budgets = ck.read_table(spark, ckpt, e, "politeness").withColumn(
            "budget", F.floor("tokens").cast("int")
        )
        row = (
            carried.join(F.broadcast(budgets), "host", "left")
            .withColumn("budget", F.coalesce("budget", F.lit(default_budget)))
            .agg(
                F.sum("n_pending").alias("nf"),
                F.max(
                    F.when(F.col("n_pending") > F.col("budget"), 1).otherwise(0)
                ).alias("c"),
                F.sum(F.least("n_pending", "budget")).alias("ns"),
            )
            .first()
        )
        want = (int(row["nf"] or 0), int(row["c"] or 0), int(row["ns"] or 0))
        assert local[0] == want, f"epoch {e}: local {local[0]} != spark {want}"
        checked += 1
    assert checked >= 2
