"""adscraper_spark — a PySpark-native URL-frontier + fetch scheduler.

A brand-new engine with the crawl semantics of UWCSESecurityLab/adscraper,
re-expressed as idiomatic Spark:

- frontier / pages / results as snapshot-committed parquet tables
  (Iceberg-shaped: manifest + atomic snapshot commit; see ``store.py``),
- per-host politeness as grouped-by-host window priority queues
  (``scheduler.py``),
- URL-seen dedup as partitioned bloom pre-filter + exact anti-join
  (``bloom.py`` / ``engine.py``),
- all text/ad extraction as vectorized pandas/Arrow UDFs sharing one pure
  Python core with the test oracle (``extraction/``), byte-identical per URL.

Everything here derives from public knowledge: the Apache Spark / PySpark
API, the public reference repo, and published crawl literature (e.g.
Mercator/IRLbot frontier design, RFC 9309 robots exclusion).
"""

__version__ = "0.1.0"
