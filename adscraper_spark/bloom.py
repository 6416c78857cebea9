"""Partitioned bloom-filter URL-seen segments.

Scale story (SURVEY.md §7.3): 10^10 URLs at 10 bits/key ≈ 18 GB of bloom —
never one filter; one segment per host-hash partition, each a flat numpy
bit array persisted per checkpoint wave. The bloom is strictly a
PRE-filter: admission correctness comes from the exact anti-join against
the frontier table (false positives only cost a join row, never a dropped
URL — SURVEY §4.2). Segments are updated per-partition on executors
(``applyInPandas`` over the partition key), merged only by the checkpoint
manifest — no driver-side collect of memberships.

The reference analog is the in-memory ``Set<string>`` of
crawler/src/pages/find-page.ts:12-16,48,77 plus the completed-crawl skip.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import stable_hash64

DEFAULT_BITS_PER_KEY = 10
DEFAULT_NUM_HASHES = 7
#: Segment sizing on first write: 100k keys per partition at 10 bits/key.
DEFAULT_EXPECTED_KEYS = 100_000


def partition_for_host(host: str, num_partitions: int) -> int:
    return stable_hash64("bloompart|" + (host or "")) % num_partitions


def partition_col(host: Column, num_partitions: int) -> Column:
    """``partition_for_host`` as a Spark expression, so keying rows by
    segment needs no Python stage: the first 8 bytes of md5(8 zero
    bytes ‖ utf-8 key) read as an unsigned 64-bit int (hex → decimal),
    taken modulo ``num_partitions``."""
    key = F.concat(F.unhex(F.lit("00" * 8)),
                   F.encode(F.concat(F.lit("bloompart|"),
                                     F.coalesce(host, F.lit(""))), "UTF-8"))
    h = F.conv(F.substring(F.md5(key), 1, 16), 16, 10)
    return (h.cast("decimal(20,0)") % F.lit(num_partitions)).cast("int")


def _hash_pair(url: str) -> tuple[int, int]:
    d = hashlib.md5(url.encode("utf-8")).digest()
    return (int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1)


def durable_replace(tmp: str, path: str) -> None:
    """fsync ``tmp``'s data, rename over ``path``, fsync the directory.

    Segment saves need the same power-loss discipline as the snapshot
    store's manifest publish (store.py): the engine folds the manifest
    only AFTER the filter update, so a manifest that survives power loss
    while the filter file is torn or unlinked would read as a false
    NEGATIVE for a durably-admitted URL — the one direction the seen
    filter must never err (the URL would be crawled twice)."""
    with open(tmp, "rb+") as f:
        os.fsync(f.fileno())
    os.replace(tmp, path)
    try:
        fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


class BloomSegment:
    """One partition's bloom filter; double hashing h1 + i*h2 (Kirsch &
    Mitzenmacher 2006 — standard public construction)."""

    def __init__(self, nbits: int, k: int = DEFAULT_NUM_HASHES,
                 bits: np.ndarray | None = None):
        assert nbits % 64 == 0
        self.nbits = nbits
        self.k = k
        self.words = bits if bits is not None else np.zeros(
            nbits // 64, dtype=np.uint64)

    @classmethod
    def sized_for(cls, expected_keys: int,
                  bits_per_key: int = DEFAULT_BITS_PER_KEY) -> "BloomSegment":
        nbits = max(1024, 1 << int(expected_keys * bits_per_key
                                   ).bit_length())
        return cls(nbits=nbits)

    def _positions(self, url: str) -> list[int]:
        h1, h2 = _hash_pair(url)
        mask = self.nbits - 1
        return [(h1 + i * h2) & mask for i in range(self.k)]

    def add(self, url: str) -> None:
        for p in self._positions(url):
            self.words[p >> 6] |= np.uint64(1 << (p & 63))

    def might_contain(self, url: str) -> bool:
        for p in self._positions(url):
            if not (int(self.words[p >> 6]) >> (p & 63)) & 1:
                return False
        return True

    def add_many(self, urls) -> None:
        for u in urls:
            self.add(u)

    def might_contain_many(self, urls) -> list[bool]:
        return [self.might_contain(u) for u in urls]

    # -- persistence ---------------------------------------------------------
    def save(self, path: str) -> None:
        # tmp name must NOT match load_segment's 'wave-*.npy' scan, so a
        # crash between write and rename leaves only an ignorable file.
        tmp = os.path.join(os.path.dirname(path),
                           ".tmp-" + os.path.basename(path))
        with open(tmp, "wb") as f:
            np.save(f, self.words, allow_pickle=False)
        durable_replace(tmp, path)

    @classmethod
    def load(cls, path: str, k: int = DEFAULT_NUM_HASHES) -> "BloomSegment":
        words = np.load(path, allow_pickle=False)
        return cls(nbits=len(words) * 64, k=k, bits=words)


class BloomStore:
    """Directory of per-partition segments, versioned by wave:
    ``{root}/p{P}/wave-{W}.npy``. Which wave is live is recorded by the
    engine checkpoint (not by this class), so half-written segments from a
    crashed wave are simply ignored on resume."""

    def __init__(self, root: str, num_partitions: int,
                 expected_keys_per_partition: int = DEFAULT_EXPECTED_KEYS):
        self.root = root
        self.num_partitions = num_partitions
        self.expected = expected_keys_per_partition

    def segment_path(self, partition: int, wave: int) -> str:
        return os.path.join(self.root, f"p{partition}", f"wave-{wave}.npy")

    def load_segment(self, partition: int, wave: int) -> BloomSegment:
        """Latest segment at or before ``wave`` (segments are cumulative)."""
        d = os.path.join(self.root, f"p{partition}")
        if os.path.isdir(d):
            best = -1
            for name in os.listdir(d):
                if name.startswith("wave-") and name.endswith(".npy"):
                    try:
                        w = int(name[5:-4])
                    except ValueError:
                        continue  # stray non-segment file — ignore
                    if w <= wave and w > best:
                        best = w
            if best >= 0:
                return BloomSegment.load(self.segment_path(partition, best))
        return BloomSegment.sized_for(self.expected)

    def update_segment(self, partition: int, wave: int, urls) -> None:
        # Seed from the latest segment AT-OR-BEFORE ``wave`` so same-wave
        # updates merge cumulatively (run_wave's admissions + a streamed
        # admit_seeds batch landing at the same wave must both survive).
        # Extra bits inherited from a rolled-back orphan segment are safe:
        # bloom hits fall through to the exact anti-join (SURVEY §4.2).
        # The load→add→save is serialized per segment with an flock:
        # two concurrent updaters (streamed-seed intake racing the wave
        # loop on the same segment) would otherwise lose the first
        # writer's bits — a lost bit makes the prefilter call an
        # already-admitted URL "definitely new", skipping the exact
        # anti-join and crawling it twice. (On a real cluster each
        # segment is owned by one applyInPandas task per job; the lock
        # covers concurrent *jobs* sharing a filesystem.)
        import fcntl

        d = os.path.join(self.root, f"p{partition}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, ".lock"), "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            seg = self.load_segment(partition, wave)
            seg.add_many(urls)
            seg.save(self.segment_path(partition, wave))
