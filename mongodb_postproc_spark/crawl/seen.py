"""Bucket-sliced exact URL-seen set: one sorted 128-bit fingerprint array
per bucket.

North-rule component: dedup at 10^10 URLs cannot anti-join every candidate
against the full seen table every round. Instead the `seen` table is
hash-partitioned into ``bucket = pmod(hash(url_canon), n_buckets)`` dirs
(Murmur3 — the same hash Spark's shuffle partitioning uses, so bucket
slices align with the dedup aggregate's partitions and the probe needs no
shuffle), and each probe task loads ONLY the slices of the buckets it
holds, straight from parquet (``load_bucket_seen_hashes``), cached per
python worker process. Semantics are EXACT (the fixtures demand the exact
set, SURVEY.md §7 "What's hard").

The membership structure is a fingerprint filter — the family a cuckoo
filter belongs to — with full 128-bit fingerprints kept sorted, so a probe
is a binary search and false positives are physically negligible (see
``load_bucket_seen_hashes``). It replaced a per-epoch Bloom prefilter whose
merged per-bucket filter saturated as the crawl grew (false-positive rate
48% at 10k URLs per bucket, 99.7% at 34k): past that point the Bloom passed
nearly every candidate to this same slice and was pure cost. One structure
per bucket now does both jobs, and ``CrawlEngine.compact_seen_state``
rewrites `seen` to one file per bucket dir so a slice load stays O(1) files
regardless of round count.

On Iceberg the catalog reports no bucket layout for `seen`, so there are no
slices to load: there the new-URL set is an anti-join against `seen`
(engine._dedup_filter_unseen).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd


def _parquet_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def url_hash128(urls: "pd.Series | list[str]") -> tuple[np.ndarray, np.ndarray]:
    """128-bit md5 of each canonical URL as two uint64 arrays (little-endian
    halves of the digest; the ``s|`` prefix domain-separates these hashes
    from every other md5 use in the repo). Deterministic across
    processes/engines like everything in functions/hashes.py. The digests
    are joined into one buffer and split by numpy, so the only per-URL
    Python is the md5 call itself."""
    digests = b"".join(hashlib.md5(("s|" + u).encode("utf-8")).digest() for u in urls)
    halves = np.frombuffer(digests, dtype="<u8").reshape(-1, 2)
    return halves[:, 0].astype(np.uint64), halves[:, 1].astype(np.uint64)


def _hashes_from_file(path: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    # ParquetFile reads the one file directly; read_table would build a
    # dataset around it first, ~6x the cost on a small bucket file
    col = pq.ParquetFile(path).read(columns=["url_canon"], use_threads=False)
    return url_hash128(col.column("url_canon").to_pylist())


# ---------------------------------------------------------------------------
# Executor-side sliced loading. Module-level cache: python workers are
# reused across tasks (spark.python.worker.reuse), and module state — unlike
# function globals, which cloudpickle rebuilds per task — survives with the
# worker process. Keys are content-stable (file path + mtime), never id().
# ---------------------------------------------------------------------------

_SEENHASH_CACHE: dict = {}

_EMPTY_SLICE = (np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.uint64))


def load_bucket_seen_hashes(
    member_dirs: list[str], bucket: int
) -> tuple[np.ndarray, np.ndarray]:
    """Seen-URL membership structure for ONE bucket slice of the
    bucket-partitioned `seen` table (``snap=k/__pdir=<bucket>/``). Each
    task reads only the bucket dirs of rows it holds, straight from
    parquet, cached per python worker.

    Representation: the slice is a lexsorted pair of uint64 arrays holding
    the 128-bit md5 of each seen URL — 16 bytes/URL flat numpy instead of
    ~100 bytes/URL of python-str frozenset, probed by binary search
    (:func:`seenhash_contains`). Membership by 128-bit hash equality: the
    chance ANY unseen URL of a 10^10-URL crawl false-matches a 10^10-entry
    seen set is ~10^20/2^128 ≈ 3e-19 — far below hardware corruption rates,
    so the fixtures' exact-match guarantee is preserved in every physically
    realizable run (a string-compare fallback on hash hits would re-read
    the slice's URL column and erase the memory win; rejected on that
    measurement).

    This is what keeps the full `seen` table out of the round plan: a
    left-anti join against the 10^10-row seen table would sort-merge-shuffle
    the whole right side every round, whereas membership against the
    aligned slice touches O(|seen|/n_buckets) rows per task. At target
    scale n_buckets grows with |seen|, keeping any one task's working set
    bounded.

    The cache holds one (file-set token, slice) entry per bucket. When a
    round appends to the bucket, only the new files are read and hashed
    into the cached slice; when the file set changed any other way (the
    compaction replaced the bucket's files, or a rollback dropped some),
    the slice is rebuilt from the current files. Either way the
    superseded entry is replaced, so a worker never holds a slice of files
    that are no longer in the table."""
    files: list[str] = []
    for d in member_dirs:
        files.extend(_parquet_files(os.path.join(d, f"__pdir={bucket}")))
    token = tuple((f, os.path.getmtime(f)) for f in files)
    hit = _SEENHASH_CACHE.get(bucket)
    if hit is not None and hit[0] == token:
        return hit[1]
    if hit is not None and set(hit[0]) <= set(token):
        cached = set(hit[0])
        parts = [hit[1]] + [_hashes_from_file(f) for f, m in token if (f, m) not in cached]
    else:
        parts = [_hashes_from_file(f) for f in files]
    if parts:
        a = np.concatenate([p[0] for p in parts])
        b = np.concatenate([p[1] for p in parts])
        order = np.lexsort((b, a))
        merged = (a[order], b[order])
    else:
        merged = _EMPTY_SLICE
    _SEENHASH_CACHE[bucket] = (token, merged)
    return merged


def seenhash_contains(
    slice_ab: tuple[np.ndarray, np.ndarray], urls: "pd.Series"
) -> np.ndarray:
    """Membership of each URL in a lexsorted 128-bit hash slice: one
    searchsorted on the high half, then the low half checked at the landing
    index. Runs of duplicate high halves (expected ~a handful across 10^10
    entries by birthday math) fall to a tiny forward scan."""
    a_arr, b_arr = slice_ab
    n = len(a_arr)
    out = np.zeros(len(urls), dtype=bool)
    if n == 0 or len(urls) == 0:
        return out
    a, b = url_hash128(urls)
    lo = np.searchsorted(a_arr, a, side="left")
    idx = np.minimum(lo, n - 1)
    valid = lo < n
    a_match = valid & (a_arr[idx] == a)
    out = a_match & (b_arr[idx] == b)
    for i in np.nonzero(a_match & ~out)[0]:  # duplicate-a runs only
        j = int(lo[i]) + 1
        while j < n and a_arr[j] == a[i]:
            if b_arr[j] == b[i]:
                out[i] = True
                break
            j += 1
    return out
