"""Partitioned Bloom-filter URL-seen set + exact anti-join fallback
(SURVEY.md §2.2 F2, §2.10 item 2; north rule: "URL-seen set is a partitioned
Bloom/cuckoo filter keyed by canonicalized-URL hash").

The reference deduplicates exactly via crawlee RequestQueue uniqueKeys
(``Base.ts:464-493``) — correct but single-node. At 10^10-URL-frontier scale
an exact anti-join of every candidate batch against the full history is a
massive shuffle, so we put a **partitioned Bloom filter in front of it**:

- the hash space of ``sha2(canonical_url, 256)`` is split into
  ``num_buckets`` partitions; each bucket owns an ``m_bits`` bit array;
- segments are numpy bitsets, OR-merged across rounds and checkpointed
  (they are just ``(bucket, bitmap)`` rows — Iceberg/parquet friendly). The
  crawl engine keeps the cumulative filter on the driver, since a job's
  limit bounds it (DRIVER_MERGE_MAX_BYTES); ``build_segments`` builds the
  same rows per bucket with ``applyInPandas`` for DataFrame callers;
- candidate filtering joins candidates to their bucket's bitmap and tests
  k positions inside an Arrow batch. Rows the filter rejects are
  **definitely new** (no false negatives) and skip the exact join entirely;
  only the "maybe seen" minority pays the exact anti-join, which guarantees
  byte-exact membership semantics equal to the reference's exact set.

Bit positions are derived from independent 32-bit slices of the sha256 hex,
so membership is a pure function of the canonical URL — deterministic across
cluster sizes and resumes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

SEGMENT_SCHEMA = "bucket int, bitmap binary"

DEFAULT_NUM_BUCKETS = 32
DEFAULT_M_BITS = 1 << 17  # 16 KiB per bucket; override per deployment scale
DEFAULT_K = 4


def bucket_col(url_hash_col: str, num_buckets: int = DEFAULT_NUM_BUCKETS):
    """Bucket id from the first 8 hex chars of the sha256 url hash (JVM-side)."""
    return F.pmod(
        F.conv(F.substring(F.col(url_hash_col), 1, 8), 16, 10).cast("long"),
        F.lit(num_buckets),
    ).cast("int")


def _positions(hash_hex: str, m_bits: int, k: int) -> list[int]:
    # slices [9:17), [17:25), ... of the 64-char sha256 hex → k independent
    # 32-bit values (slice [1:9) is reserved for the bucket id)
    return [int(hash_hex[9 + 8 * i: 17 + 8 * i], 16) % m_bits for i in range(k)]


def build_segments(df: DataFrame, url_hash_col: str = "url_hash",
                   num_buckets: int = DEFAULT_NUM_BUCKETS,
                   m_bits: int = DEFAULT_M_BITS,
                   k: int = DEFAULT_K) -> DataFrame:
    """Build (bucket, bitmap) segment rows from a DataFrame of url hashes."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        for h in pdf[url_hash_col]:
            for pos in _positions(h, m_bits, k):
                bitmap[pos >> 3] |= 1 << (pos & 7)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "bitmap": [bitmap.tobytes()]})

    return (
        df.select(url_hash_col)
        .withColumn("bucket", bucket_col(url_hash_col, num_buckets))
        .groupBy("bucket")
        .applyInPandas(build, schema=SEGMENT_SCHEMA)
    )


# The largest seen filter (total serialized bytes across buckets) that
# CrawlConfig accepts. The crawl engine keeps the cumulative filter on the
# driver — built, OR-merged, checkpointed with pyarrow, and broadcast to the
# probe — which the zod limit (≤ 50k enqueued URLs per job) keeps small:
# the default geometry is 512 KiB (cuckoo: 1 MiB).
DRIVER_MERGE_MAX_BYTES = 64 * 2**20


def build_segments_driver(hashes, num_buckets: int = DEFAULT_NUM_BUCKETS,
                          m_bits: int = DEFAULT_M_BITS,
                          k: int = DEFAULT_K) -> dict[int, bytes]:
    """Driver-side build_segments over an already-collected hash list —
    same bucket/position derivation as the distributed path (bucket_col /
    _positions). The per-round delta is bounded by the job's enqueue
    limit."""
    bitmaps: dict[int, np.ndarray] = {}
    for h in hashes:
        b = int(h[:8], 16) % num_buckets
        bm = bitmaps.get(b)
        if bm is None:
            bm = bitmaps[b] = np.zeros(m_bits // 8, dtype=np.uint8)
        for pos in _positions(h, m_bits, k):
            bm[pos >> 3] |= 1 << (pos & 7)
    return {b: bm.tobytes() for b, bm in bitmaps.items()}


def segments_to_driver(segments: DataFrame) -> dict[int, bytes]:
    """Collect (bucket, bitmap) segment rows into a driver dict. Only call
    when num_buckets * m_bits/8 is under DRIVER_MERGE_MAX_BYTES."""
    return {row["bucket"]: bytes(row["bitmap"]) for row in segments.collect()}


def merge_into_driver(cache: dict[int, bytes],
                      delta: dict[int, bytes]) -> dict[int, bytes]:
    """OR-merge delta segments into the driver-resident cumulative dict."""
    out = dict(cache)
    for bucket, bm in delta.items():
        if bucket in out:
            merged = np.bitwise_or(np.frombuffer(out[bucket], dtype=np.uint8),
                                   np.frombuffer(bm, dtype=np.uint8))
            out[bucket] = merged.tobytes()
        else:
            out[bucket] = bm
    return out


class SeenFilterFamily:
    """Uniform facade over the two seen-filter families (north rule:
    "partitioned Bloom/cuckoo filter"). Both share the segment-row shape
    ``(bucket int, bitmap binary)``, the sha256 hash-space sharding, and the
    pre-filter + exact-anti-join contract, so the crawl engine is family-
    agnostic: every checkpoint/merge/filter touchpoint goes through one of
    these callables, all driver-resident. Crawl results are byte-identical
    across families —
    the filter only routes candidates between the definitely-new fast path
    and the exact anti-join (tests/test_crawl.py cuckoo-parity test)."""

    def __init__(self, name, total_bytes, geometry, build_driver,
                 merge_driver, filter_new, delete_driver=None):
        self.name = name
        self.total_bytes = total_bytes     # serialized bytes across buckets
        self.geometry = geometry           # resume-fingerprint (JSON list)
        self.build_driver = build_driver
        self.merge_driver = merge_driver
        self.filter_new = filter_new
        # TTL/recrawl eviction: cuckoo supports true deletion; bloom does
        # not (callers rebuild from the exact seen history instead)
        self.delete_driver = delete_driver


def filter_family(name: str = "bloom", *,
                  num_buckets: int = DEFAULT_NUM_BUCKETS,
                  m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K,
                  n_slots: int | None = None) -> SeenFilterFamily:
    """Bind a filter family's geometry into the engine-facing callables.
    ``m_bits``/``k`` parameterize bloom; ``n_slots`` parameterizes cuckoo
    (default cuckoo.DEFAULT_N_SLOTS)."""
    if name == "bloom":
        return SeenFilterFamily(
            "bloom",
            num_buckets * (m_bits // 8),
            [num_buckets, m_bits, k],
            lambda hashes: build_segments_driver(
                hashes, num_buckets=num_buckets, m_bits=m_bits, k=k),
            merge_into_driver,
            lambda cand, segs, seen: filter_new(
                cand, segs, seen, num_buckets=num_buckets,
                m_bits=m_bits, k=k),
        )
    if name == "cuckoo":
        from anycrawl_spark import cuckoo

        slots = n_slots if n_slots is not None else cuckoo.DEFAULT_N_SLOTS
        return SeenFilterFamily(
            "cuckoo",
            num_buckets * cuckoo.segment_nbytes(slots),
            ["cuckoo", num_buckets, slots],
            lambda hashes: cuckoo.build_segments_driver(
                hashes, num_buckets=num_buckets, n_slots=slots),
            lambda cache, delta: cuckoo.merge_into_driver(
                cache, delta, n_slots=slots),
            lambda cand, segs, seen: cuckoo.filter_new(
                cand, segs, seen, num_buckets=num_buckets, n_slots=slots),
            delete_driver=lambda cache, hashes: cuckoo.delete_driver(
                cache, hashes, num_buckets=num_buckets, n_slots=slots),
        )
    raise ValueError(f"unknown seen-filter family: {name!r}")


def exact_antijoin(candidates: DataFrame, seen_exact: DataFrame,
                   url_hash_col: str = "url_hash") -> DataFrame:
    """Rows of ``candidates`` not in the exact seen-hash history.

    No ``distinct()`` on the seen side: a left-anti equi-join returns the
    same rows whether or not the right side holds duplicates, and the
    crawl engine's seen checkpoint holds each hash once anyway — it is the
    driver-resident exact set (a Python set, written sorted), and only
    hashes not already in it are ever added. The dedup cost was real — a
    full exchange plus two HashAggregate passes over the whole standing
    seen set EVERY round, two extra stage barriers ahead of the
    (auto-broadcast) join build.
    """
    return candidates.join(
        seen_exact.select(F.col(url_hash_col).alias("__seen_hash")),
        on=candidates[url_hash_col] == F.col("__seen_hash"),
        how="left_anti",
    )


def prefilter_antijoin(candidates: DataFrame,
                       segments: "DataFrame | dict[int, bytes] | None",
                       seen_exact: DataFrame | None, url_hash_col: str,
                       num_buckets: int, test_batch) -> DataFrame:
    """Shared pre-filter + exact-anti-join pipeline for both filter
    families (bloom in this module, cuckoo in anycrawl_spark.cuckoo).

    ``test_batch(hashes, bitmaps) -> np.ndarray[bool]`` is the per-batch
    membership probe — the only thing that differs between families. Rows
    the probe rejects are definitely new (no false negatives) and skip the
    exact join; only the maybe-seen minority pays it. With no segments
    (missing/corrupt checkpoint on resume) this degrades to the plain
    exact anti-join; with no exact history it is a no-op (a probabilistic
    filter can never CONFIRM membership — dropping on a filter hit would
    lose rows to false positives).

    ``segments`` is either a ``(bucket, bitmap)`` DataFrame or the
    driver-resident dict the crawl engine keeps. The dict path ships the
    whole filter ONCE per executor as a Spark broadcast and probes by
    bucket lookup inside the Arrow batch; the old join path attached the full bucket bitmap (16 KiB
    at default geometry, far more at deployment geometry) to EVERY
    candidate row and pushed those bytes through the Python boundary
    (guide §4.1: pass only the columns the function needs).
    """
    if seen_exact is None:
        return candidates
    if segments is None:
        return exact_antijoin(candidates, seen_exact, url_hash_col)

    out_fields = list(candidates.columns)
    # fresh StructType — StructType.add MUTATES and DataFrame.schema is a
    # cached_property, so building on candidates.schema would leave a
    # phantom __maybe_seen field on the caller's DataFrame object
    from pyspark.sql.types import BooleanType, StructField, StructType

    schema = StructType([*candidates.schema.fields,
                         StructField("__maybe_seen", BooleanType())])

    if isinstance(segments, dict):
        bc = candidates.sparkSession.sparkContext.broadcast(segments)

        def test(iterator):
            seg = bc.value
            for pdf in iterator:
                hashes = pdf[url_hash_col]
                blobs = pd.Series(
                    [seg.get(int(h[:8], 16) % num_buckets) for h in hashes],
                    index=hashes.index, dtype=object)
                out = pdf[out_fields].copy()
                out["__maybe_seen"] = test_batch(hashes, blobs)
                yield out

        tested = candidates.mapInPandas(test, schema=schema)
    else:
        cand = candidates.withColumn(
            "__bucket", bucket_col(url_hash_col, num_buckets))
        joined = cand.join(
            F.broadcast(segments.withColumnRenamed("bucket", "__bucket")),
            "__bucket", "left",
        )

        def test(iterator):
            for pdf in iterator:
                out = pdf[out_fields].copy()
                out["__maybe_seen"] = test_batch(pdf[url_hash_col],
                                                 pdf["bitmap"])
                yield out

        tested = joined.mapInPandas(test, schema=schema)
    # ONE anti-join whose residual condition exempts probe-negative rows:
    # a definitely-new row satisfies the condition against no seen row and
    # passes through; a maybe-seen row survives only if absent from the
    # exact history. Equivalent to splitting into (definitely_new ∪
    # maybe_seen-anti-join) — but the split's union re-evaluated the whole
    # candidate subtree (corpus join, extraction, dedup window, probe)
    # once per branch, which measured as ~half the BFS round's fixed cost.
    # The equi key keeps the hash distribution (no null-key skew), so the
    # probe-negative majority still flows partition-aligned at any scale.
    # No distinct() on the seen side — same reasoning as exact_antijoin:
    # left-anti results are duplicate-insensitive on the build side and the
    # dedup cost an exchange + two aggregate passes over the seen set.
    seen_keys = seen_exact.select(
        F.col(url_hash_col).alias("__seen_hash"))
    return (tested.join(
                seen_keys,
                (tested[url_hash_col] == seen_keys["__seen_hash"])
                & F.col("__maybe_seen"),
                "left_anti")
            .drop("__maybe_seen"))


def filter_new(candidates: DataFrame, segments: DataFrame | None,
               seen_exact: DataFrame | None,
               url_hash_col: str = "url_hash",
               num_buckets: int = DEFAULT_NUM_BUCKETS,
               m_bits: int = DEFAULT_M_BITS,
               k: int = DEFAULT_K) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is NOT in the seen set —
    Bloom pre-filter + exact anti-join (see prefilter_antijoin)."""

    def test_batch(hashes, bitmaps):
        maybe = np.zeros(len(hashes), dtype=bool)
        for i, (h, bm) in enumerate(zip(hashes, bitmaps)):
            if bm is None:
                continue
            arr = np.frombuffer(bm, dtype=np.uint8)
            hit = True
            for pos in _positions(h, m_bits, k):
                if not (arr[pos >> 3] >> (pos & 7)) & 1:
                    hit = False
                    break
            maybe[i] = hit
        return maybe

    return prefilter_antijoin(candidates, segments, seen_exact,
                              url_hash_col, num_buckets, test_batch)
