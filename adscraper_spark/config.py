"""Crawl job configuration — the JobSpec/CrawlerFlags analog.

The reference validates its job spec with JSON Schema at submit and
worker start (crawl-cluster/cli/src/runIndexedJob.ts:61-72,
crawler/src/k8s-indexed-job-worker.ts:55-67); we validate a dataclass at
construction (same gate, Python-native).
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Discovered-link seq values start here; seeds keep their list-index
#: seq below it. Lives in this pyspark-free module so the sequential
#: simulator (the engine oracle) can share it without importing the
#: engine (which drags the full pyspark import into oracle builds).
DISCOVERED_SEQ_BASE = 1 << 33


@dataclass
class CrawlConfig:
    name: str = "crawl"
    # politeness (W2): virtual seconds per scheduling wave; a host with
    # robots Crawl-delay d gets floor(wave_seconds/d) fetches per wave.
    wave_seconds: float = 10.0
    default_budget: int = 4          # hosts with no crawl-delay
    max_waves: int = 100
    max_depth: int = 3               # frontier expansion horizon
    max_urls: int | None = None      # stop admitting after this many
    salt_fanout: int = 16            # hot-host shard count (scheduler.py)
    frontier_buckets: int = 32       # url-hash buckets for the
                                     # admitted/processed log layout
    # T3/Z3 seen-set pre-filter: per-host-hash-partition bloom segments
    # (bloom.py). A pre-filter only; admission correctness comes from
    # the exact anti-join (SURVEY §4.2).
    bloom_partitions: int = 8
    checkpoint_every: int = 1        # waves between durable checkpoints
    same_host_only: bool = True      # F4 link-admission filter
    # Z2 per-site time budget (reference: 15-min Promise.race per site,
    # crawler.ts:80-97,316-317): each fetch on a host costs
    # wave_seconds/host_budget of virtual time; rows past the budget
    # within a wave are recorded with state 'timeout' and consume a
    # retry attempt. None = unlimited (reference default semantics for
    # non-browser fetches).
    site_budget_seconds: float | None = None
    # Waves at or below this many rows broadcast the scheduled-url side
    # into the corpus fetch join (map-side, no exchange of the html
    # payload); bigger waves fall back to the shuffle join over the
    # url-bucketed frontier layout.
    broadcast_wave_max: int = 5_000_000
    # Scan-split granularity floor for the no-exchange UDF stage: the
    # extraction stage inherits the corpus scan's partitioning, and a
    # corpus small enough to yield fewer splits than ~this×cores under
    # spark.sql.files.maxPartitionBytes leaves cores idle through the
    # most CPU-expensive stage of the wave (measured: a 2 GB corpus at
    # the 128 MB default fed 8 cores from 11 splits — effective
    # concurrency 5). The engine LOWERS maxPartitionBytes at init until
    # the full-corpus scan yields at least scan_splits_per_core×cores
    # splits; it never raises the setting, so at cluster scale (corpus
    # bytes ≫ cores×128 MB) this is a no-op and the operator's own
    # tuning wins. 0 disables.
    scan_splits_per_core: int = 3
    # Bucket-prune the exact-admission anti-join's right side once the
    # admitted log (manifest row count, no scan) reaches this many
    # rows: the candidates' url-hash bucket set (≤ frontier_buckets
    # ints, one tiny agg over the already-cached candidate split)
    # selects only the admitted log's matching bucket files — the scan
    # becomes ∝ the candidates' bucket spread instead of ∝ the
    # frontier (the one remaining per-wave full-history read). Below
    # the floor a full read is cheaper than the extra planning job.
    antijoin_prune_min_rows: int = 100_000
    # Compact the admitted/processed frontier logs back to
    # frontier_buckets files every K waves (None = never). Iceberg
    # rewrite_data_files analog; keeps the per-wave pending anti-join
    # from degrading into a many-thousand-file scan on long crawls.
    compact_every: int | None = None
    # Expire unreferenced table snapshots + data files every K waves
    # (None = never; engine.vacuum docstring). Storage maintenance for
    # long crawls — correctness-neutral: rollback/read_since pins are
    # always retained.
    vacuum_every: int | None = None
    # Z5 failure/retry semantics: a fetch error is retried in a later
    # wave until this many attempts (reference analog: k8s
    # backoffLimitPerIndex=20, indexed-job.yaml:10-14). 1 = no retry.
    max_retries: int = 1
    # J4 in-crawl ad-landing admission (crawler/src/ads/click.ts:122-133
    # + adscraper.sql:152): each fetched non-landing page admits the
    # first anchor URL of up to max_ad_landings_per_page of its detected
    # ads as 'landing' frontier rows carrying referrer ad_id; landings
    # are exempt from same_host_only (ad targets live off-host) and are
    # scraped but never expanded (the reference scrapes, doesn't crawl,
    # landing pages).
    admit_ad_landings: bool = False
    max_ad_landings_per_page: int = 2
    # page refresh-and-rescrape analog (crawler.ts:341-358): every
    # fetched main page gets a second results row with reload=1
    # (deterministic corpus → identical rescrape content).
    refresh_mains: bool = False
    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.wave_seconds <= 0:
            raise ValueError("wave_seconds must be > 0")
        if self.default_budget < 1:
            raise ValueError("default_budget must be >= 1")
        if self.max_depth < 0 or self.max_waves < 1:
            raise ValueError("bad horizon")
        if self.salt_fanout < 1 or self.bloom_partitions < 1 \
                or self.frontier_buckets < 1:
            raise ValueError("bad fan-out")
        if self.max_retries < 1:
            raise ValueError("max_retries must be >= 1")
        if self.checkpoint_every < 1:
            raise ValueError("checkpoint_every must be >= 1")
        if self.site_budget_seconds is not None \
                and self.site_budget_seconds <= 0:
            raise ValueError("site_budget_seconds must be > 0")
        if self.max_ad_landings_per_page < 0:
            raise ValueError("max_ad_landings_per_page must be >= 0")
