#!/usr/bin/env python3
"""Admission anti-join bucket-prune A/B (r6; VERDICT r05 #1 done-
condition): the same fixed wave over an admitted log inflated to H
history rows, with the bucket prune ON (antijoin_prune_min_rows=1)
vs OFF (floor never reached). Wave selection is identical either way
(the prune only shrinks the anti-join's right-side scan); only wall
time and the number of admitted-log files opened differ.

Prints one JSON line:
  {"history": {"100000": {"pruned_sec": ..., "full_sec": ...,
               "speedup": ...}, ...}, "identical_admissions": true}
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
HISTORIES = [int(x) for x in os.environ.get(
    "BENCH_PRUNE_HISTORIES", "1000000,10000000").split(",")]
TRIALS = int(os.environ.get("BENCH_PRUNE_TRIALS", "3"))
SEEDS = int(os.environ.get("BENCH_PRUNE_SEEDS", "50"))
# Production-shaped bucket count: at a 10^10-URL frontier the log is
# laid out over thousands of buckets, and a wave's candidate spread
# covers a small fraction of them — 512 buckets at a 50-seed wave
# reproduces that ratio (the 32-bucket sandbox default would put every
# candidate set past the >60% fall-through guard by construction).
BUCKETS = int(os.environ.get("BENCH_PRUNE_BUCKETS", "512"))


def main() -> None:
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.corpus import (
        CORPUS_CONTENT_VERSION, CorpusSpec, gen_seeds, write_corpus_spark,
    )
    from adscraper_spark.engine import CrawlEngine
    from adscraper_spark.session import build_session

    spark = build_session(app="bench_admission_prune", cpus=CPUS,
                          shuffle_partitions=max(8, CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    spec = CorpusSpec(n_pages=120000, n_hosts=400, seed=42,
                      mega_host_weight=4.0, content_scale=16)
    root = os.path.join(
        tempfile.gettempdir(),
        f"bench_corpus_v{CORPUS_CONTENT_VERSION}_120000_400_cs16")
    if not os.path.exists(os.path.join(root, "robots.parquet")):
        write_corpus_spark(spark, spec, root, partitions=CPUS)
    pages = os.path.join(root, "pages.parquet")
    robots = os.path.join(root, "robots.parquet")
    seeds = [(i, u) for i, u in
             enumerate(gen_seeds(spec, SEEDS, include_bad=False))]
    work_root = "/dev/shm" if os.path.isdir("/dev/shm") else None

    def history_df(n: int):
        """Synthetic admitted-log history: disallowed rows (never
        pending, so wave planning is identical at every history size);
        off-corpus urls so they collide with no candidate."""
        return (spark.range(n).select(
            F.concat(F.lit("https://hist-"),
                     F.pmod(F.col("id"), F.lit(9973)).cast("string"),
                     F.lit(".test/h/"),
                     F.col("id").cast("string")).alias("url"),
            F.concat(F.lit("hist-"),
                     F.pmod(F.col("id"), F.lit(9973)).cast("string"),
                     F.lit(".test")).alias("host"),
            F.lit("/h").alias("path"),
            F.lit(0).alias("depth"),
            F.lit(0.0).alias("priority"),
            F.col("id").alias("seq"),
            F.lit(None).cast("string").alias("src_url"),
            F.lit(None).cast("long").alias("ad_id"),
            F.lit("disallowed").alias("state_initial"),
            F.lit(0).alias("wave_admitted")))

    def cfg_for(prune: bool) -> CrawlConfig:
        return CrawlConfig(
            wave_seconds=600, default_budget=200, max_waves=2,
            max_depth=2, salt_fanout=16, bloom_partitions=32,
            frontier_buckets=BUCKETS,
            antijoin_prune_min_rows=1 if prune else (1 << 62))

    def build_base(history: int) -> str:
        """Bootstrap + inflate the admitted log ONCE per history size;
        each timed trial runs the wave on a fresh copy of this base
        (the history write itself is not what is being measured)."""
        base = tempfile.mkdtemp(prefix="bench_adm_base_", dir=work_root)
        eng = CrawlEngine(spark, pages, robots, base, cfg_for(True))
        eng.bootstrap(seeds)
        eng.admitted.append(history_df(history))
        # a compacted log: the history at full width, one file per bucket
        eng.admitted.compact(spark)
        return base

    def one(base: str, prune: bool) -> tuple[float, int, int]:
        work = tempfile.mkdtemp(prefix="bench_adm_", dir=work_root)
        shutil.rmtree(work)
        shutil.copytree(base, work)
        try:
            eng = CrawlEngine(spark, pages, robots, work, cfg_for(prune))
            os.sync()
            t0 = time.time()
            stats = eng.run_wave(1)
            dt = time.time() - t0
            return dt, stats["planned"], stats["admitted"]
        finally:
            shutil.rmtree(work, ignore_errors=True)

    out: dict = {"history": {}, "identical_admissions": True,
                 "wave_seeds": SEEDS, "buckets": BUCKETS}
    for h in HISTORIES:
        base = build_base(h)
        try:
            one(base, True)  # warm (python workers, codegen, page cache)
            best = {True: float("inf"), False: float("inf")}
            # every trial's (planned, admitted) per side; identical
            # means one value shared by every trial of both sides
            checks: dict[bool, set[tuple[int, int]]] = {True: set(),
                                                        False: set()}
            for _ in range(TRIALS):  # interleaved best-of-N per side
                for prune in (True, False):
                    dt, planned, admitted = one(base, prune)
                    best[prune] = min(best[prune], dt)
                    checks[prune].add((planned, admitted))
            if len(checks[True]) != 1 or checks[True] != checks[False]:
                out["identical_admissions"] = False
            planned, admitted = min(checks[True])
            out["history"][str(h)] = {
                "pruned_sec": round(best[True], 2),
                "full_sec": round(best[False], 2),
                "speedup": round(best[False] / max(best[True], 1e-9), 2),
                "planned": planned,
                "admitted": admitted,
            }
        finally:
            shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
