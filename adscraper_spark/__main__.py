"""CLI entrypoint — the crawler-cli / runIndexedJob analog (SURVEY §3).

Run standalone or via spark-submit (the module is self-contained; ship
the package with ``--py-files adscraper_spark.zip``):

    python -m adscraper_spark crawl \
        --pages corpus/pages.parquet --robots corpus/robots.parquet \
        --workdir ./crawl1 --crawl-list seeds.txt --max-waves 10

Input-mode exclusivity (exactly one of --crawl-list / --ad-crawl-list /
--url) mirrors crawler-cli.ts:207-298; resuming an existing workdir
skips bootstrap (F9 completed-crawl semantics).
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="adscraper_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("crawl", help="run a crawl (wave loop)")
    c.add_argument("--pages", required=True,
                   help="pages corpus parquet path")
    c.add_argument("--robots", default=None,
                   help="robots parquet path (host, robots_txt)")
    c.add_argument("--workdir", required=True)
    src = c.add_mutually_exclusive_group()
    src.add_argument("--crawl-list", help="text file, one URL per line")
    src.add_argument("--ad-crawl-list", help="CSV with url,ad_id columns")
    src.add_argument("--url", help="single URL")
    c.add_argument("--max-waves", type=int, default=100)
    c.add_argument("--max-depth", type=int, default=3)
    c.add_argument("--wave-seconds", type=float, default=10.0)
    c.add_argument("--default-budget", type=int, default=4)
    c.add_argument("--max-retries", type=int, default=1)
    c.add_argument("--checkpoint-every", type=int, default=1,
                   help="durable wave-manifest cadence: K>1 trades "
                        "bounded crash-replay for fewer commits; "
                        "streamed seed batches landing inside an open "
                        "window are staged durably and join the "
                        "frontier at the next wave boundary")
    c.add_argument("--max-urls", type=int, default=None,
                   help="frontier cap: stop admitting new URLs once "
                        "this many rows are admitted (pending URLs "
                        "still drain)")
    c.add_argument("--salt-fanout", type=int, default=16)
    c.add_argument("--scan-splits-per-core", type=int, default=3,
                   help="lower spark.sql.files.maxPartitionBytes until "
                        "the corpus scan yields at least this many "
                        "splits per core (the no-exchange extraction "
                        "stage inherits the scan's parallelism); "
                        "0 disables, never raises an operator-set "
                        "value")
    c.add_argument("--site-budget-seconds", type=float, default=None,
                   help="Z2 per-site virtual time budget per wave "
                        "(reference: 15-min site race, crawler.ts:80-97)")
    c.add_argument("--vacuum-every", type=int, default=None,
                   help="expire unreferenced table snapshots/data "
                        "files every K waves (storage maintenance; "
                        "rollback pins always retained)")
    c.add_argument("--compact-every", type=int, default=None,
                   help="fold frontier logs to the bucketed layout "
                        "every K waves (Iceberg rewrite_data_files "
                        "analog)")
    c.add_argument("--admit-ad-landings", action="store_true",
                   help="J4: admit detected ads' anchor URLs as "
                        "landing frontier rows carrying referrer_ad "
                        "(click.ts:122-133)")
    c.add_argument("--max-ad-landings-per-page", type=int, default=2)
    c.add_argument("--refresh-mains", action="store_true",
                   help="second results row (reload=1) per main page "
                        "(crawler.ts:341-358 refresh-and-rescrape)")
    c.add_argument("--full-easylists", action="store_true",
                   help="(now the default, kept for compatibility) "
                        "detect with the vendored REAL EasyList "
                        "snapshots (13,967 ad + 17,280 cookie "
                        "selectors, html/data/PROVENANCE.md) — the "
                        "reference's checked-in lists "
                        "(ad-detection.ts:14-21)")
    c.add_argument("--pinned-subset", action="store_true",
                   help="fast tier: detect with only the 81-selector "
                        "pinned subset instead of the real EasyList "
                        "snapshots (micro-tests/benchmarks)")
    c.add_argument("--crawl-name", default=None,
                   help="open a per-crawl log file at "
                        "<workdir>/logs[/job_<job-id>]/<name>.txt "
                        "(util/log.ts setLogDirFromFlags analog); "
                        "without it no log file is written, like the "
                        "reference")
    c.add_argument("--job-id", default=None,
                   help="job id segment for the log dir (log.ts:41-43)")
    c.add_argument("--log-level", default="INFO",
                   choices=("ERROR", "WARNING", "INFO", "DEBUG",
                            "VERBOSE"),
                   help="DEBUG/VERBOSE lines are gated; "
                        "ERROR/WARNING/INFO always land (log.ts:53-129)")
    c.add_argument("--cpus", type=int, default=None)
    g = sub.add_parser("gen-corpus", help="write a synthetic corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--pages", type=int, default=1000)
    g.add_argument("--hosts", type=int, default=20)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--content-scale", type=int, default=1)
    b = sub.add_parser(
        "bucketize",
        help="rewrite a pages corpus into the url-bucketed layout so "
             "per-wave fetch scans prune to the wave's buckets")
    b.add_argument("--pages", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--buckets", type=int, required=True,
                   help="size so a bucket holds a few hundred MB at "
                        "the target corpus scale")
    z = sub.add_parser(
        "package",
        help="zip the package for spark-submit --py-files deploys")
    z.add_argument("--out", default="dist/adscraper_spark.zip")
    return p


def _package(out: str) -> str:
    """Build the --py-files archive (every .py in the package, laid out
    importable at the zip root). The k8s-image analog of the reference's
    containerized worker (k8s-indexed-job-worker.ts): one artifact every
    executor can import."""
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.dirname(os.path.abspath(out)) or ".",
                exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                # .json rides along so --full-easylists works on
                # executors importing from the zip
                if not fn.endswith((".py", ".json")):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "adscraper_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    return out


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.cmd == "package":
        print(json.dumps({"zip": _package(args.out)}))
        return 0

    from .session import build_session

    if args.cmd == "gen-corpus":
        from .corpus import CorpusSpec, write_corpus_spark

        spark = build_session(cpus=32)
        spec = CorpusSpec(n_pages=args.pages, n_hosts=args.hosts,
                          seed=args.seed,
                          content_scale=args.content_scale)
        paths = write_corpus_spark(spark, spec, args.out)
        print(json.dumps(paths))
        spark.stop()
        return 0

    if args.cmd == "bucketize":
        from .corpus_layout import bucketize_corpus

        spark = build_session(cpus=32)
        out = bucketize_corpus(spark, args.pages, args.out, args.buckets)
        print(json.dumps({"bucketed": out, "buckets": args.buckets}))
        spark.stop()
        return 0

    # crawl
    from .config import CrawlConfig
    from .engine import CrawlEngine
    from .sources import (
        read_ad_crawl_list_csv, read_crawl_list_text, single_url_seed,
    )

    if args.pinned_subset:
        # must precede the SparkSession: extraction workers inherit the
        # env the JVM is launched with (easylist.disable_full_lists doc)
        from .html import easylist

        easylist.disable_full_lists()
    elif args.full_easylists:
        from .html import easylist

        easylist.enable_full_lists()  # the default; kept for compat
    spark = build_session(cpus=args.cpus)
    cfg = CrawlConfig(name=args.crawl_name or "crawl",
                      max_waves=args.max_waves, max_depth=args.max_depth,
                      wave_seconds=args.wave_seconds,
                      default_budget=args.default_budget,
                      max_retries=args.max_retries,
                      max_urls=args.max_urls,
                      checkpoint_every=args.checkpoint_every,
                      salt_fanout=args.salt_fanout,
                      scan_splits_per_core=args.scan_splits_per_core,
                      site_budget_seconds=args.site_budget_seconds,
                      compact_every=args.compact_every,
                      vacuum_every=args.vacuum_every,
                      admit_ad_landings=args.admit_ad_landings,
                      max_ad_landings_per_page=args.max_ad_landings_per_page,
                      refresh_mains=args.refresh_mains)
    log = None
    if args.crawl_name:
        from .crawl_log import CrawlLog

        log = CrawlLog(args.workdir, crawl_name=args.crawl_name,
                       job_id=args.job_id, level=args.log_level)
    eng = CrawlEngine(spark, args.pages, args.robots, args.workdir, cfg,
                      log=log)
    resuming = eng.last_committed_wave() >= 0
    if not resuming:
        if args.crawl_list:
            seeds = read_crawl_list_text(spark, args.crawl_list)
        elif args.ad_crawl_list:
            seeds = read_ad_crawl_list_csv(spark, args.ad_crawl_list)
        elif args.url:
            seeds = single_url_seed(args.url)
        else:
            print("error: one of --crawl-list/--ad-crawl-list/--url is "
                  "required for a new crawl (exclusive input modes, "
                  "crawler-cli.ts:207-298)", file=sys.stderr)
            return 2
        eng.bootstrap(seeds)

    # Z6 graceful drain: SIGTERM/SIGINT finish the current wave's atomic
    # commit, then exit; the workdir resumes at the next wave
    # (k8s-indexed-job-worker.ts:30-53 semantics).
    import signal

    stop = {"flag": False, "sig": 0}

    def _request_stop(signum, frame):
        stop["flag"] = True
        stop["sig"] = signum

    prev = {s: signal.signal(s, _request_stop)
            for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        stats = eng.run(stop_requested=lambda: stop["flag"])
    finally:
        for s, h in prev.items():
            signal.signal(s, h)
    print(json.dumps({"resumed": resuming, "drained": stop["flag"],
                      "waves": stats}))
    if log is not None:
        log.close()
    spark.stop()
    return 128 + stop["sig"] if stop["flag"] else 0


if __name__ == "__main__":
    sys.exit(main())