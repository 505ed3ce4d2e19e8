"""North-rule gates (BASELINE.json): the Spark engine must reproduce the
sequential reference simulator's crawl order + URL-seen set exactly, payload
invariants must hold per row, and a killed job must resume to identical
results.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gov_procurement_spider_spark.functions import images
from gov_procurement_spider_spark.plans import crawl as crawl_plan
from gov_procurement_spider_spark.plans.crawl import ORDER_KEY, run_crawl
from gov_procurement_spider_spark.refsim import simulate
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck

SPEC = SiteSpec(
    n_seeds=6,
    n_hosts=3,
    detail_space=60,
    max_list_pages=3,
    rate_per_sec=2.0,
    burst=4.0,
    epoch_seconds=2.0,
)

ORDER_COLS = ["epoch", "host"] + ORDER_KEY + ["kind", "url"]


@pytest.fixture(scope="module")
def sim():
    return simulate(SPEC)


@pytest.fixture(scope="module")
def crawl(spark):
    ckpt = tempfile.mkdtemp(prefix="crawl_eq_")
    return run_crawl(spark, SPEC, ckpt)


def test_crawl_order_exact_match(crawl, sim):
    engine = [tuple(r) for r in crawl.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]


def test_url_seen_exact_match(crawl, sim):
    assert {r.url for r in crawl.seen().collect()} == sim.url_seen


def test_payload_invariants(crawl, sim):
    """input_hint gate: decoded pixels allclose (PSNR≥40 dB for lossy, exact
    for png), caption exact equality, phash equality — per row."""
    rows = {r.url: r for r in crawl.fetched().collect()}
    expected = {d["url"]: d for d in sim.fetched_details}
    assert set(rows) == set(expected)
    assert rows, "no payloads fetched"
    for url, exp in expected.items():
        got = rows[url]
        assert got.caption == exp["caption"], url
        assert (got.w, got.h, got.fmt) == (exp["w"], exp["h"], exp["fmt"])
        ref_px = images.gen_pixels(exp["pixel_seed"], exp["w"], exp["h"])
        dec = images.decode_image(bytes(got.bytes))
        assert dec.shape == ref_px.shape
        if exp["fmt"] == "png":
            assert np.array_equal(dec, ref_px), url
        else:
            assert images.psnr(ref_px, dec) >= 40.0, url
        assert got.phash == images.ahash64(ref_px), url


def test_metrics_lineage(crawl, sim):
    m = crawl.metrics().collect()
    assert sum(r.urls_fetched for r in m) == len(sim.crawl_order)
    assert sum(r.payload_bytes for r in m) > 0
    assert all(r.wall_ms >= 0 for r in m)


def test_resume_byte_identical(spark, crawl, sim):
    """Kill after 3 epochs → resume → identical crawl order, seen set, and
    payload bytes as the uninterrupted run (T5; ref has no counterpart —
    main.py:55-68 loses everything)."""
    ckpt = tempfile.mkdtemp(prefix="crawl_resume_")
    partial = run_crawl(spark, SPEC, ckpt, max_epochs=3)
    assert partial.epochs == 3
    resumed = run_crawl(spark, SPEC, ckpt)  # picks up from last manifest

    engine = [tuple(r) for r in resumed.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]
    assert {r.url for r in resumed.seen().collect()} == sim.url_seen

    base_payloads = {
        r.url: (bytes(r.bytes), r.caption, r.phash) for r in crawl.fetched().collect()
    }
    res_payloads = {
        r.url: (bytes(r.bytes), r.caption, r.phash) for r in resumed.fetched().collect()
    }
    assert base_payloads == res_payloads


# rate*epoch < 1 ⇒ zero-fetch virtual-time epochs interleave
FRACTIONAL_SPEC = SiteSpec(
    n_seeds=2, n_hosts=1, detail_space=20, max_list_pages=2,
    rate_per_sec=0.25, burst=1.0, epoch_seconds=2.0,
)


def test_fractional_rate_engine_equivalence(spark):
    """rate*epoch < 1 ⇒ zero-fetch virtual-time epochs interleave; the engine
    must refill buckets, keep committing, and still match the simulator
    (regression: zero-fetch epochs write no seen_new dir)."""
    spec = FRACTIONAL_SPEC
    sim_f = simulate(spec)
    assert sim_f.epochs > len({row[0] for row in sim_f.crawl_order})
    ckpt = tempfile.mkdtemp(prefix="crawl_frac_")
    res = run_crawl(spark, spec, ckpt)
    engine = [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim_f.crawl_order]
    assert {r.url for r in res.seen().collect()} == sim_f.url_seen


def test_failed_fetch_equivalence(spark):
    """Fetch failures (ref main.py:124-127): failed URLs still consume their
    politeness slot and appear in the crawl order, but yield no payload —
    engine and simulator must agree on the exact failed set."""
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
        rate_per_sec=2.0, burst=4.0, fail_permille=200,
    )
    sim_f = simulate(spec)
    failed_sim = set(sim_f.extra.get("failed", []))
    assert failed_sim, "failure injection produced no failures"
    ckpt = tempfile.mkdtemp(prefix="crawl_fail_")
    res = run_crawl(spark, spec, ckpt)
    engine = [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim_f.crawl_order]
    assert {r.url for r in res.failed().collect()} == failed_sim
    got_payload_urls = {r.url for r in res.fetched().collect()}
    assert got_payload_urls == {d["url"] for d in sim_f.fetched_details}
    assert got_payload_urls.isdisjoint(failed_sim)


def test_bloom_off_equivalence(spark, sim):
    """Bloom is an optimization, never semantics: identical output with it off."""
    ckpt = tempfile.mkdtemp(prefix="crawl_nobloom_")
    res = run_crawl(spark, SPEC, ckpt, use_bloom=False)
    engine = [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]


def test_accessors_before_any_fetch(spark, crawl):
    """A checkpoint with no fetching epoch yet (init only) answers every
    accessor with an empty frame of the accessor's usual columns and types
    — not an IndexError on the empty list of epoch reads."""
    ckpt = tempfile.mkdtemp(prefix="crawl_nofetch_")
    res = run_crawl(spark, FRACTIONAL_SPEC, ckpt, max_epochs=0)
    for name in ("crawl_order", "fetched", "failed", "metrics"):
        empty, full = getattr(res, name)(), getattr(crawl, name)()
        assert empty.dtypes == full.dtypes, name
        assert empty.count() == 0, name


def _fetch_tasks(ckpt: str) -> list:
    """The manifest's fetch path per fetching epoch: 0 = driver process."""
    mans = [ck.read_manifest(ckpt, e) for e in ck.committed_epochs(ckpt)]
    return [m["fetch_tasks"] for m in mans if m.get("urls_fetched")]


def _outputs(res) -> dict:
    return {
        "order": [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()],
        "seen": {r.url for r in res.seen().collect()},
        "failed": sorted(tuple(r) for r in res.failed().collect()),
        "fetched": {
            r.url: (bytes(r.bytes), r.caption, r.phash)
            for r in res.fetched().collect()
        },
        "metrics": tuple(
            res.metrics()
            .agg(
                F.sum("urls_fetched"), F.sum("links_discovered"),
                F.sum("payload_bytes"),
            )
            .first()
        ),
    }


def test_fetch_gate_both_sides_identical(spark, monkeypatch):
    """The one-task fetch gate, run on both sides: at the default floor
    every epoch of this small open-politeness crawl is one task and fetches
    in the driver process; with the floor at one URL per task every epoch
    runs the Spark fetch job. Crawl order, seen and failed sets, per-URL
    payloads and the summed fetch metrics must be identical. A third run
    reads the driver-written fetch output with the distributed admission
    (driver-commit gate at 0), the path a small epoch over a large seen set
    takes."""
    # every epoch fetches ≥ 3 URLs: a one-URL epoch is one task at any floor
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=4,
        rate_per_sec=10_000.0, burst=20_000.0, fail_permille=200,
    )

    def crawl(tag: str) -> tuple[dict, list]:
        ckpt = tempfile.mkdtemp(prefix=f"crawl_gate_{tag}_")
        return _outputs(run_crawl(spark, spec, ckpt)), _fetch_tasks(ckpt)

    driver, driver_tasks = crawl("driver")
    with monkeypatch.context() as m:
        m.setattr(crawl_plan, "_DRIVER_COMMIT_MAX_ROWS", 0)
        spark_admit, spark_admit_tasks = crawl("spark_admit")
    monkeypatch.setattr(crawl_plan, "_MIN_URLS_PER_FETCH_TASK", 1)
    distributed, spark_tasks = crawl("spark")

    assert driver_tasks and set(driver_tasks) == {0}
    assert spark_admit_tasks == driver_tasks
    assert len(spark_tasks) == len(driver_tasks) and min(spark_tasks) > 0
    assert driver["failed"], "failure injection produced no failures"
    assert driver == distributed
    assert driver == spark_admit
    assert driver["order"] == [tuple(o) for o in simulate(spec).crawl_order]
