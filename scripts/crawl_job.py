"""spark-submit primary for the crawl scheduler (north rule ship mode).

    spark-submit --master <cluster> [--conf ...] \\
        --py-files $(python scripts/build_pyfiles.py) \\
        scripts/crawl_job.py --ckpt /path/to/ckpt [options]

The engine package arrives exclusively via --py-files (this file contains no
business logic and never touches the repo checkout), which is exactly how
the job lands on a real multi-executor cluster. Two modes:

- site crawl (default): run_crawl to frontier exhaustion — resumable; a
  killed job rerun with the same --ckpt continues from the last manifest.
- --steady-urls N: one preloaded steady-state scheduler epoch of N detail
  URLs, the BASELINE.json throughput regime (scripts/scaling_bench.py runs
  the same job in-process across core counts).

Prints ONE JSON line with the run's lineage (urls, epochs, wall, phase_ms
of the last epoch, the fetch_tasks of every fetching epoch: 0 = fetched in
the driver process, and the path of every crawl epoch: "driver" = built no
DataFrame, else "spark") on success.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--seeds", type=int, default=32)
    ap.add_argument("--hosts", type=int, default=8)
    ap.add_argument("--detail-space", type=int, default=400)
    ap.add_argument("--rate", type=float, default=10_000.0)
    ap.add_argument("--burst", type=float, default=20_000.0)
    ap.add_argument("--max-dim", type=int, default=64)
    ap.add_argument("--max-epochs", type=int, default=10_000)
    ap.add_argument("--filter", choices=("bloom", "cuckoo"), default="bloom")
    ap.add_argument("--steady-urls", type=int, default=0,
                    help="run one steady-state epoch of N preloaded URLs "
                         "instead of a site crawl")
    ap.add_argument("--recrawl", action="store_true",
                    help="TTL recrawl: expire every seen URL, reseed, and "
                         "crawl again (requires an existing --ckpt; cuckoo "
                         "checkpoints expire per-key with no rebuild)")
    args = ap.parse_args()

    # imports resolve from the --py-files zip (spark-submit puts it on
    # sys.path before running this file); deliberately inside main so a
    # missing zip fails loudly with the real cause
    from pyspark.sql import SparkSession

    from gov_procurement_spider_spark.plans.crawl import (
        CrawlResult,
        expire_seen,
        init_steady_frontier,
        reseed,
        run_crawl,
        run_epoch,
    )
    from gov_procurement_spider_spark.sources.site_model import SiteSpec
    from gov_procurement_spider_spark.streaming import checkpoint as ck

    spark = (
        SparkSession.builder.appName("gps-crawl")  # master comes from submit
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spec = SiteSpec(
        n_seeds=args.seeds,
        n_hosts=args.hosts,
        detail_space=args.detail_space,
        rate_per_sec=args.rate,
        burst=args.burst,
        max_dim=args.max_dim,
    )
    t0 = time.perf_counter()
    if args.recrawl:
        prior = CrawlResult(ckpt=args.ckpt, epochs=0, spark=spark)
        n_expired = expire_seen(spark, args.ckpt, prior.seen())
        reseed(spark, spec, args.ckpt)
        # --max-epochs means "epochs allowed for THIS pass": run_crawl's cap
        # is an absolute epoch number, and the recrawl resumes past the
        # original crawl's epochs (+2 for the expiry and reseed commits),
        # so an unadjusted cap would silently crawl zero epochs
        cap = (ck.last_committed(args.ckpt) or 0) + args.max_epochs
        res = run_crawl(spark, spec, args.ckpt, max_epochs=cap)
        wall = time.perf_counter() - t0
        out = {
            "mode": "recrawl",
            "urls_expired": n_expired,
            "urls": res.crawl_order().count(),  # BOTH passes (proof artifact)
            "epochs": res.epochs,
            "wall_sec": round(wall, 3),
        }
        last = ck.last_committed(args.ckpt)
    elif args.steady_urls:
        init_steady_frontier(
            spark, spec, args.ckpt, args.steady_urls, filter_kind=args.filter
        )
        t0 = time.perf_counter()  # setup untimed, like the scaling bench
        run_epoch(spark, spec, args.ckpt, 0)
        wall = time.perf_counter() - t0
        out = {
            "mode": "steady_epoch",
            "urls": args.steady_urls,
            "wall_sec": round(wall, 3),
            "urls_per_sec": round(args.steady_urls / wall, 2),
        }
        last = ck.last_committed(args.ckpt)
    else:
        res = run_crawl(
            spark, spec, args.ckpt,
            max_epochs=args.max_epochs, filter_kind=args.filter,
        )
        wall = time.perf_counter() - t0
        n = res.crawl_order().count()
        out = {
            "mode": "crawl",
            "urls": n,
            "epochs": res.epochs,
            "wall_sec": round(wall, 3),
            "urls_per_sec": round(n / wall, 2) if wall > 0 else None,
        }
        last = ck.last_committed(args.ckpt)
    if last:
        out["phase_ms"] = ck.read_manifest(args.ckpt, last).get("phase_ms")
    manifests = [
        ck.read_manifest(args.ckpt, e) for e in ck.committed_epochs(args.ckpt)
    ]
    out["fetch_tasks"] = [m["fetch_tasks"] for m in manifests if "fetch_tasks" in m]
    out["path"] = [m["path"] for m in manifests if "path" in m]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
