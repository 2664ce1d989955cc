"""The crawl engine: frontier + fetch-join + extraction rounds on Spark
(SURVEY.md §3.2 — the flagship path, re-expressed as batch micro-iterations).

Each round r is one Spark batch over a driver-resident frontier (a pyarrow
table — a job's limit caps it at 50,000 enqueued URLs):

    pending_r  →  admission on the driver: per-host (or per-domain) budget
                  top-k by (depth, seq), then the batch_size cut
               →  admitted rows enter Spark as an Arrow table (JVM-only)
               →  fetch = equi-join against the pages corpus on url_hash
                  (corpus semi-reduced by a broadcast of the admitted keys;
                  partition-prunable at scale)
               →  vectorized extraction UDF (T1-T20)
               →  results_r append (scrape_paths-gated persistence)
               →  posexplode(links) → canonicalize (JVM expr) → strategy /
                  path / depth / robots filters → in-batch dedup
               →  Bloom pre-filter + exact anti-join vs seen set
               →  enqueue-cap top-k collected; seqs numbered on the driver
               →  pending_{r+1} = deferred + retries + new rows, cumulative
                  seen set + filter rewritten with pyarrow, progress and
                  per-partition lineage appended;
                  manifest commit (atomic) → resumable

Dedup semantics follow the reference's queue path (crawlee uniqueKey dedup at
enqueue time, ``Base.ts:464-493``): the seen set is "everything ever
enqueued", and ``limit`` caps total enqueued URLs (coordinator admission
``completed+failed+pending >= limit``, ``crawlCoordinator.ts:106-113``).
Visit order is the coordinator's FIFO-BFS: children are appended in
(parent seq, link position) order, reproduced by the dense ``seq``
assignment (SURVEY.md §7.4 hard-part 2/3).

INTENTIONAL DIVERGENCE from ``crawlCoordinator.ts``: the coordinator dedups
on RAW link strings in a fetch-time ``visited`` set (lines 42/109) and counts
still-pending duplicates against the limit (line 110), so two spellings that
normalize to one canonical key (sorted query, stripped utm params, fragment)
or a URL discovered by two parents before being fetched consume extra limit
capacity there. This engine instead dedups at enqueue time on normalized
uniqueKeys — crawlee's production behavior and the right call at frontier
scale (a fetch-time raw-string set cannot be a distributed Bloom filter key).
Visit sets can therefore differ from the coordinator's whenever duplicate
spellings occur near the limit boundary; the in-repo simulator and golden
files encode THESE semantics, which is what parity tests check.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .catalog import Catalog
from .errors import failure_reason_col, should_retry_col
# apply_host_budget, the DataFrame form of admit_frontier, is imported for
# callers that look it up on this module: perfbench's tracer wraps it here
from .politeness import (  # noqa: F401
    admit_frontier,
    apply_host_budget,
    path_filter_cond,
    robots_allowed,
    strategy_cond,
)
from .seen import (
    DRIVER_MERGE_MAX_BYTES,
    SEGMENT_SCHEMA,
    exact_antijoin,
    filter_family,
    segments_to_driver,
)
from .udfs import make_extract_udf

FRONTIER_PA_SCHEMA = pa.schema([
    ("job_id", pa.string()), ("url", pa.string()),
    ("url_hash", pa.string()), ("host", pa.string()),
    ("origin", pa.string()), ("path", pa.string()),
    ("depth", pa.int32()), ("seq", pa.int64()),
    ("round_added", pa.int32()), ("attempt", pa.int32()),
])


@dataclass
class CrawlConfig:
    """Mirror of the reference's crawl_options zod schema with identical
    defaults (CrawlSchema.ts:6-49: max_depth default 10, strategy
    'same-domain', limit default 100... coordinator uses limit||10)."""

    job_id: str
    seed_url: str
    strategy: str = "same-domain"
    max_depth: int = 10
    limit: int = 100
    include_paths: list[str] = field(default_factory=list)
    exclude_paths: list[str] = field(default_factory=list)
    scrape_paths: list[str] = field(default_factory=list)
    politeness_budget: int = 0           # fetches per budget key per round; 0 = unlimited
    budget_scope: str = "host"           # 'host' or 'domain' (registrable) —
                                         # north rule: per-DOMAIN politeness
    budget_salt_n: int = 0               # accepted and validated for callers
                                         # that pass it (bench.py), but it does
                                         # not change the crawl plan: admission
                                         # runs on the driver
                                         # (politeness.admit_frontier); the salted
                                         # two-stage window is apply_host_budget's
    max_attempts: int = 1                # fetch retries (Queue.ts:84-89 attempts=3)
    batch_size: int = 0                  # rows fetched per round; 0 = whole round
    respect_robots: bool = True          # --anycrawl-compat off ⇒ True (north rule)
    formats: tuple[str, ...] = ("markdown", "text", "links", "html")
    only_main_content: bool = True
    seen_filter: str = "bloom"           # 'bloom' | 'cuckoo' (north rule:
                                         # "partitioned Bloom/cuckoo filter");
                                         # results are byte-identical — the
                                         # filter only pre-routes candidates
                                         # ahead of the exact anti-join
    bloom_num_buckets: int = 32          # hash-space shards (both families)
    bloom_m_bits: int = 1 << 17
    bloom_k: int = 4
    cuckoo_n_slots: int = 1 << 12        # 4-way cuckoo buckets per segment
    max_rounds: int = 1000
    simulate_fetch_errors: bool = False  # F11: draw all five failure classes
                                         # from corpus misses (tests/fixtures)
    proxy: str | None = None             # request proxy option (mode keyword
                                         # or custom URL); results carry the
                                         # RESOLVED mode name like Base.ts:1295
                                         # ('base' when unset / auto)
    prefilter_min_seen: int = 25_000     # engage the bloom/cuckoo PROBE only
                                         # once the seen set exceeds this many
                                         # hashes; below it the exact anti-join
                                         # alone is measurably cheaper than the
                                         # segment broadcast + Arrow probe
                                         # stage (BENCH.md r6). The filter is
                                         # still built/checkpointed every
                                         # round — this gates the physical
                                         # plan only, never membership

    def __post_init__(self) -> None:
        # zod schema bounds (CrawlSchema.ts:31-47) — parse() rejects, so do we
        if not 1 <= self.max_depth <= 50:
            raise ValueError(f"max_depth must be in [1, 50], got {self.max_depth}")
        if not 1 <= self.limit <= 50_000:
            raise ValueError(f"limit must be in [1, 50000], got {self.limit}")
        if self.strategy not in ("all", "same-domain", "same-hostname",
                                 "same-origin"):
            raise ValueError(f"unknown strategy {self.strategy!r}")
        if self.budget_scope not in ("host", "domain"):
            raise ValueError(f"unknown budget_scope {self.budget_scope!r}")
        from urllib.parse import urlsplit
        parts = urlsplit(self.seed_url or "")
        if parts.scheme not in ("http", "https") or not parts.hostname:
            # CrawlSchema's z.string().url() rejects non-URL seeds; a
            # scheme-less seed would otherwise canonicalize to a null-host
            # junk row and 'complete' a one-page crawl of nothing
            raise ValueError(f"seed_url must be an absolute http(s) URL, "
                             f"got {self.seed_url!r}")
        if self.politeness_budget < 0 or self.batch_size < 0:
            raise ValueError("politeness_budget/batch_size must be >= 0")
        if self.max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")
        if not isinstance(self.budget_salt_n, int) or self.budget_salt_n < 0:
            raise ValueError(f"budget_salt_n must be an int >= 0, "
                             f"got {self.budget_salt_n!r}")
        if self.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown seen_filter {self.seen_filter!r}")
        from anycrawl_spark.cuckoo import check_n_slots

        check_n_slots(self.cuckoo_n_slots)
        # the seen filter lives on the driver (limit caps it at 50k hashes)
        nbytes = self.filter_family().total_bytes
        if nbytes > DRIVER_MERGE_MAX_BYTES:
            raise ValueError(f"seen-filter geometry needs {nbytes} bytes, "
                             f"above the {DRIVER_MERGE_MAX_BYTES}-byte "
                             f"driver-resident bound")

    def filter_family(self):
        """The configured seen-filter family with geometry bound."""
        return filter_family(
            self.seen_filter, num_buckets=self.bloom_num_buckets,
            m_bits=self.bloom_m_bits, k=self.bloom_k,
            n_slots=self.cuckoo_n_slots)


def _strip_fragment(col):
    return F.split(col, "#", 2)[0]


# Canonical-column expression cache: the Column trees below are identical
# for every caller with the same url column name, but building them costs
# ~0.19 s of py4j round-trips — which the crawl loop used to pay EVERY
# round for the links subtree (profiled: _canonical_cols 1.67 s of a 25 s
# 10k crawl). Column objects are immutable and reusable across DataFrames;
# the cache is keyed by the owning SparkContext's applicationId so a
# restarted session (tests, CLI reruns) rebuilds instead of touching stale
# JVM references.
_CANON_EXPR_CACHE: dict[tuple[str, str], list] = {}


def _canonical_cols(df: DataFrame, url_col: str) -> DataFrame:
    """Attach (url_hash, host, origin, path) derived from the fragment-stripped
    canonical URL — the crawlee uniqueKey scope. All JVM expressions."""
    from .kernel.canonical import canonical_url_col

    app_id = df.sparkSession.sparkContext.applicationId
    key = (app_id, url_col)
    cached = _CANON_EXPR_CACHE.get(key)
    if cached is None:
        canon = _strip_fragment(canonical_url_col(url_col)).alias("__canon")
        c = F.col("__canon")
        derived = [
            F.sha2(c, 256).alias("url_hash"),
            F.lower(F.parse_url(c, F.lit("HOST"))).alias("host"),
            F.concat(
                F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)),
                F.lit("://"),
                # netloc minus userinfo from the canonical URL: keeps the
                # non-default port (canonicalization already stripped default
                # ports and lowercased the host), matching origin_of() — a
                # parse_url HOST here would drop ports and break same-origin
                # crawls of ported seeds
                F.regexp_replace(
                    F.regexp_extract(c, r"^[^:]+://([^/?#]*)", 1),
                    r"^.*@", ""),
            ).alias("origin"),
            F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit("/")).alias("path"),
        ]
        cached = [canon, derived]
        if len(_CANON_EXPR_CACHE) > 8:   # sessions come and go in tests
            _CANON_EXPR_CACHE.clear()
        _CANON_EXPR_CACHE[key] = cached
    canon, derived = cached
    # withColumn-replacement semantics for any colliding names (none of the
    # engine's callers collide; keeps the contract for external callers)
    base = [F.col(c) for c in df.columns
            if c not in ("url_hash", "host", "origin", "path")]
    return df.select("*", canon).select(*base, *derived)


def prepare_corpus(pages: DataFrame, dedup: bool = True) -> DataFrame:
    """Corpus keyed by url_hash for the fetch join. At deployment scale the
    Iceberg pages table is bucketed by this hash so the join prunes
    partitions; html stays unread until after the join (column pruning).

    ``dedup`` keeps the LATEST capture per canonical-url hash — Common-Crawl
    style tables carry one row per (url, crawl), and a non-unique join key
    would fan out every downstream count (done/failed/pending arithmetic)
    and duplicate seq values in the visit log. One shuffle, paid once per
    engine (the corpus cache materializes the deduped frame); callers with
    an already-unique corpus can pass dedup=False."""
    corpus = _canonical_cols(pages, "url").select(
        F.col("url_hash").alias("page_url_hash"),
        F.col("url").alias("page_url"),
        "warc_ts", "html", "lang",
    )
    if dedup:
        w = Window.partitionBy("page_url_hash").orderBy(
            F.desc("warc_ts"), F.desc("page_url"))
        corpus = (corpus.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1).drop("__rn"))
    return corpus


class CrawlEngine:
    def __init__(self, spark: SparkSession, corpus: DataFrame,
                 checkpoint_dir: str, robots: DataFrame | None = None,
                 cache_corpus: bool = True, prepared: bool = False) -> None:
        """``prepared=True``: the caller already ran prepare_corpus (and
        typically persisted the result) — the corpus is shared across crawl
        jobs, as an Iceberg pages table would be at deployment."""
        self.spark = spark
        self.corpus = corpus if prepared else prepare_corpus(corpus)
        if cache_corpus and not prepared:
            # local/bench convenience: avoid re-scanning + re-canonicalizing
            # the corpus every round. At deployment scale the corpus is an
            # Iceberg table bucketed by url_hash instead (no cache needed —
            # the join prunes buckets).
            from pyspark.storagelevel import StorageLevel

            self.corpus = self.corpus.persist(StorageLevel.MEMORY_AND_DISK)
        # Truncate the corpus lineage to a LogicalRDD (lazy localCheckpoint —
        # materialized by the first round's full corpus scan): every round
        # builds ~30 DataFrame ops whose eager analysis re-walks the whole
        # plan, and every per-round job re-optimizes it; carrying the
        # prepare_corpus subtree (scan → canonicalize → dedup window) in
        # each of them cost ~10 ms per op on the driver. Content-identical;
        # blocks are released by the ContextCleaner when the engine goes
        # out of scope.
        if cache_corpus or prepared:
            self.corpus = self.corpus.localCheckpoint(eager=False)
        self.catalog = Catalog(checkpoint_dir)
        self.robots = robots
        # driver-resident seen state, bounded by the job's limit (≤ 50k
        # hashes): the exact hash set, the cumulative seen-filter segments
        # (CrawlConfig bounds their geometry by seen.DRIVER_MERGE_MAX_BYTES),
        # and a DataFrame over the seen directory they were last written to
        # (or loaded from), which the round's exact anti-join reads. Filled
        # by _load_seen, written by _write_seen.
        self._seen: set[str] | None = None
        self._bloom_mem: dict[int, bytes] | None = None
        self._seen_df: DataFrame | None = None
        # the pending frontier, bounded like the seen set: a pyarrow table
        # (FRONTIER_PA_SCHEMA) the round admits from on the driver
        self._frontier: pa.Table | None = None
        # -- write pipelining (see _finalize_prev) --------------------------
        # The Spark writes of a round's docs (results/visits/metrics)
        # overlap the NEXT round's compute jobs: round r submits them async
        # and round r+1 finalizes (await -> commit -> release the docs
        # cache) right before writing its own state. The next round reads
        # in-memory state instead of committed files: the frontier and the
        # seen state above, whose directories are written synchronously
        # with pyarrow ahead of their deferred commit.
        self._prev_inflight: dict | None = None
        self._writes: ThreadPoolExecutor | None = None

    # -- state helpers ------------------------------------------------------
    def _progress(self) -> dict:
        last = self.catalog.last_round()
        if last is None:
            return {"round": -1, "done": 0, "failed": 0, "enqueued": 0, "finalized": False}
        return self.catalog.round_meta(last) or {}

    def _latest_bloom(self, spark: SparkSession,
                      up_to_round: int) -> DataFrame | None:
        """Newest committed bloom round ≤ ``up_to_round``. Bloom checkpoints
        are cumulative (each round's write is the OR-merge of its delta with
        the prior checkpoint), so the newest round alone IS the seen filter —
        no per-round history re-merge. Rounds whose commit is still deferred
        are never read here: the driver-resident copy already holds them."""
        rounds = [rr for rr in self.catalog.committed_rounds("bloom")
                  if rr <= up_to_round]
        if not rounds:
            return None
        return self.catalog.read_round(spark, "bloom", max(rounds),
                                       schema=SEGMENT_SCHEMA)

    def _finalize_prev(self) -> None:
        """Complete the previous round's deferred tail: await its parquet
        writes, commit its manifest entry, and release its docs cache,
        which only those writes read — also when a write or the commit
        fails, so the Spark session doesn't leak the persisted frame."""
        prev = self._prev_inflight
        self._prev_inflight = None
        if prev is None:
            return
        try:
            for fut in prev["futures"]:
                fut.result()
            self.catalog.commit_round(prev["round"], prev["tables"],
                                      prev["meta"],
                                      replace=prev["replace"] or None)
        finally:
            prev["docs"].unpersist()

    # -- cancellation (Progress.ts:434-448) ---------------------------------
    # A marker file in the checkpoint root, so any process holding the
    # checkpoint path (an operator CLI, another driver) can cancel a running
    # job; the loop checks it between rounds — the batch analogue of the
    # reference's Redis `cancelled` flag checked in the per-request limit
    # hook. Survives resume: a cancelled checkpoint stays cancelled until
    # uncancel() clears it.

    def cancel(self) -> None:
        (self.catalog.root / "_cancelled").touch()

    def uncancel(self) -> None:
        marker = self.catalog.root / "_cancelled"
        if marker.exists():
            marker.unlink()

    def is_cancelled(self) -> bool:
        return (self.catalog.root / "_cancelled").exists()

    def _seed_frontier(self, cfg: CrawlConfig) -> DataFrame:
        # range(1) + literals instead of createDataFrame(local rows): a
        # local-Python-rows source is a pickled RDD whose scan needs Python
        # workers (measured ~1 s of worker spin-up per crawl job just to
        # collect the one seed row); a range source stays JVM-only.
        seed = self.spark.range(1).select(
            F.lit(cfg.job_id).alias("job_id"),
            F.lit(cfg.seed_url).alias("url"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(0).cast("long").alias("seq"),
            F.lit(0).cast("int").alias("round_added"),
            F.lit(1).cast("int").alias("attempt"),
        )
        return _canonical_cols(seed, "url").select(*FRONTIER_PA_SCHEMA.names)

    # -- TTL eviction / monitor recrawl --------------------------------------
    # Deployment story (cuckoo.py module docstring): when a page-cache entry
    # passes its TTL tier (cache.py — page 2d / sitemap 7d), the monitor
    # evicts the URL from the URL-seen structures and re-enqueues it, so the
    # next `run(cfg, resume=True)` fetches a fresh copy. Both steps are
    # atomic manifest commits between runs.

    def _check_geometry(self, fam) -> None:
        """Filter family + geometry are baked into every checkpointed
        segment — resuming, evicting, or re-enqueuing with different
        parameters would read wrong bit positions / fingerprints (false
        negatives or IndexError in the tester) or commit wrong-geometry
        segments a later resume then trusts. Bloom keeps the historic
        [nb, m_bits, k] fingerprint shape; cuckoo prepends its family tag,
        so a family switch always mismatches."""
        seeded = self.catalog.round_meta(0) or {}
        fp = seeded.get("bloom_geometry")
        if fp is not None and fp != fam.geometry:
            raise ValueError(
                f"seen-filter geometry mismatch (bloom geometry "
                f"[nb, m_bits, k] or cuckoo geometry ['cuckoo', nb, "
                f"n_slots] is baked into checkpointed segments): "
                f"checkpoint has {fp}, config asks {fam.geometry}")

    def _canonical_rows(self, cfg: CrawlConfig, urls: list[str]) -> list:
        # an Arrow-table source is JVM-only; local Python tuples would make a
        # pickled RDD whose scan starts Python workers (see _seed_frontier)
        src = pa.table({"job_id": [cfg.job_id] * len(urls), "url": list(urls)},
                       schema=pa.schema([("job_id", pa.string()),
                                         ("url", pa.string())]))
        frontier = _canonical_cols(self.spark.createDataFrame(src), "url")
        rows, seen_h = [], set()
        for row in frontier.collect():           # a monitor batch is small
            if row["url_hash"] not in seen_h:
                seen_h.add(row["url_hash"])
                rows.append(row)
        return rows

    def _load_seen(self, fam, up_to_round: int) -> None:
        """Fill the seen state from the checkpoint ≤ ``up_to_round``. The
        exact set is the union of the committed seen rounds: one directory
        in checkpoints this engine writes, a per-round delta chain in
        older ones. The filter is the newest committed bloom round; when
        none is committed it is rebuilt from the exact set (a partial
        filter committed as cumulative would bake in false negatives)."""
        # A manifest without a seen entry past the seed round was edited by
        # hand (the commit swaps seen atomically): every enqueued hash is in
        # a committed pending round, so their union stands in for the set
        # until the next write (an evicted hash comes back as seen).
        table = "seen" if self.catalog.committed_rounds("seen") else "pending"
        self._seen_df = self.catalog.read(self.spark, table,
                                          up_to_round=up_to_round,
                                          schema="url_hash string")
        self._seen = (set() if self._seen_df is None else
                      {row["url_hash"] for row in self._seen_df.collect()})
        prior = self._latest_bloom(self.spark, up_to_round)
        self._bloom_mem = (segments_to_driver(prior) if prior is not None
                           else fam.build_driver(sorted(self._seen)))

    def _add_seen(self, fam, hashes) -> None:
        """Insert the hashes not yet seen into the exact set and the filter.
        An already-seen hash is skipped: it would duplicate a seen row and
        store a second cuckoo fingerprint copy of its key."""
        new = [h for h in hashes if h not in self._seen]
        self._seen.update(new)
        self._bloom_mem = fam.merge_driver(self._bloom_mem,
                                           fam.build_driver(new))

    def _write_seen(self, round_no: int) -> None:
        """The one writer of seen state: the full exact set, sorted, and the
        cumulative filter, both as round ``round_no`` with pyarrow. Every
        commit of them passes replace=['seen', 'bloom'], so each table has
        exactly one committed directory. Synchronous: the next round's
        anti-join reads this directory before its deferred commit lands."""
        cache = self._bloom_mem
        self.catalog.append_round_local(
            pa.table({"url_hash": pa.array(sorted(self._seen),
                                           type=pa.string())}),
            "seen", round_no)
        self.catalog.append_round_local(
            pa.table({
                "bucket": pa.array(sorted(cache), type=pa.int32()),
                "bitmap": pa.array([cache[b] for b in sorted(cache)],
                                   type=pa.binary()),
            }), "bloom", round_no)
        self._seen_df = self.spark.read.schema("url_hash string").parquet(
            self.catalog.round_path("seen", round_no))

    def evict_urls(self, cfg: CrawlConfig, urls: list[str]) -> dict:
        """Remove URLs from the committed seen state (TTL expiry): the
        evicted hashes leave the exact set, and the cumulative filter is
        amended — cuckoo via true deletion (fam.delete_driver; one copy per
        distinct key makes it collision-safe), bloom or a saturated cuckoo
        segment via a full rebuild from the exact set. Both run on the
        driver: the seen set is bounded by the job's limit. One commit,
        replace=['seen','bloom']."""
        progress = self._progress()
        if progress["round"] < 0:
            raise ValueError("no committed crawl state to evict from")
        if not progress.get("finalized"):
            # resume reads only the newest round's pending table — an
            # eviction round on an unfinished job would orphan its frontier
            raise ValueError("evict_urls runs between jobs — resume the "
                             "crawl to completion first")
        r = progress["round"] + 1
        fam = cfg.filter_family()
        self._check_geometry(fam)
        self._load_seen(fam, progress["round"])

        requested = {row["url_hash"]
                     for row in self._canonical_rows(cfg, urls)}
        # Evict only hashes actually IN the seen set: cuckoo deletion is
        # defined only for tracked insertions — deleting a never-inserted
        # hash could zero a colliding member's only fingerprint copy and
        # break the no-false-negative contract (cuckoo.py _delete).
        hashes = sorted(requested & self._seen)
        self._seen.difference_update(hashes)
        deleted = False
        if fam.delete_driver is not None:
            cache, skipped = fam.delete_driver(self._bloom_mem, hashes)
            if not skipped:
                self._bloom_mem, deleted = cache, True
        if not deleted:
            # bloom (no deletion) / saturated segment: rebuild the
            # cumulative filter from the exact set
            self._bloom_mem = fam.build_driver(sorted(self._seen))
        self._write_seen(r)

        meta = {**progress, "round": r, "finalized": True,
                "pending_next": 0, "phase": "evicted",
                "evicted": len(hashes), "filter_deletion": deleted}
        self.catalog.commit_round(r, ["seen", "bloom"], meta,
                                  replace=["seen", "bloom"])
        return meta

    def reenqueue_urls(self, cfg: CrawlConfig, urls: list[str]) -> dict:
        """Enqueue URLs as a fresh pending round (the monitor re-check):
        frontier rows at depth 0 with enqueue seqs continuing the job's
        dense numbering, and every hash not already seen re-inserted into
        the exact set and the cumulative filter — the other half of the
        cuckoo delete/insert round trip. `run(cfg, resume=True)` then
        fetches all of them (the admission limit still applies: pass a
        limit above the job's done count)."""
        progress = self._progress()
        if progress["round"] < 0:
            raise ValueError("no committed crawl state to enqueue into")
        if not progress.get("finalized"):
            raise ValueError("reenqueue_urls runs between jobs — resume "
                             "the crawl to completion first")
        r = progress["round"] + 1
        fam = cfg.filter_family()
        self._check_geometry(fam)
        self._load_seen(fam, progress["round"])
        rows = self._canonical_rows(cfg, urls)
        base = progress["enqueued"]
        cols = {
            "job_id": [row["job_id"] for row in rows],
            "url": [row["url"] for row in rows],
            "url_hash": [row["url_hash"] for row in rows],
            "host": [row["host"] for row in rows],
            "origin": [row["origin"] for row in rows],
            "path": [row["path"] for row in rows],
            "depth": [0] * len(rows),
            "seq": [base + i for i in range(len(rows))],
            "round_added": [r] * len(rows),
            "attempt": [1] * len(rows),
        }
        self.catalog.append_round_local(
            pa.table(cols, schema=FRONTIER_PA_SCHEMA), "pending", r)
        self._add_seen(fam, cols["url_hash"])
        self._write_seen(r)

        meta = {**progress, "round": r, "finalized": False,
                "enqueued": base + len(rows), "pending_next": len(rows),
                "pending_seq_range": [base, max(base, base + len(rows) - 1)],
                "phase": "recrawl_enqueued"}
        self.catalog.commit_round(r, ["pending", "seen", "bloom"], meta,
                                  replace=["seen", "bloom"])
        return meta

    # -- the round loop -----------------------------------------------------
    def _static_exprs(self, cfg: CrawlConfig, extract_udf) -> dict:
        """Round-invariant Column expression trees, built ONCE per run.

        Profiling a 10k-limit crawl showed ~9.4 s of a 25 s run spent in
        driver-side py4j round-trips, most of it re-building identical
        Column objects every round (the docs select list, the failure
        classifier tree, the link filters). Column objects are immutable
        and reusable across DataFrames, so the loop now builds them here
        and re-uses them; only genuinely per-round literals (round number,
        enqueue capacity) are constructed inside _run_round."""
        ex: dict = {}
        ex["keys_sel"] = F.col("url_hash").alias("page_url_hash")
        if cfg.simulate_fetch_errors:
            sim = F.pmod(
                F.conv(F.substring("url_hash", 1, 4), 16, 10).cast("long"),
                F.lit(5))
            miss_msg = (
                F.when(sim == 0, "cloudflare challenge detected CF_CHALLENGE")
                .when(sim == 1, "Received blocked status code: 403")
                .when(sim == 2, "ERR_PROXY_CONNECTION_FAILED while fetching")
                .when(sim == 3, "Navigation timeout of 30000 ms exceeded")
                .otherwise("Received 404 status code")
            )
        else:
            miss_msg = F.lit("Received 404 status code")
        # status, error_message, and doc are all keyed on the same corpus
        # hit (status == 200 ⇔ html IS NOT NULL by construction), so one
        # select derives all three — fewer eagerly-analyzed plan steps per
        # round than the old status → error → doc chain, same values
        hit = F.col("html").isNotNull()
        ex["fetch_derived"] = [
            F.when(hit, 200).otherwise(404).alias("status"),
            F.when(hit, F.lit(None).cast("string"))
            .otherwise(miss_msg).alias("error_message"),
            F.when(hit, extract_udf(F.col("url"), F.col("html")))
            .alias("doc"),
        ]
        ex["docs_fields"] = [
            F.col(c) for c in ("job_id", "url", "url_hash", "host", "depth",
                               "seq", "attempt", "status")
        ] + [
            # F11 error classification (EngineConfigurator.ts:599-613):
            # five-class mapToFailureReason over the fetch error message
            F.when(F.col("status") == 200, F.lit(None).cast("string"))
            .otherwise(failure_reason_col(F.col("error_message")))
            .alias("failure_reason"),
            F.col("error_message"),
            F.col("doc.title").alias("title"),
            F.col("doc.metadata").alias("metadata"),
            F.col("doc.html").alias("html_clean"),
            F.col("doc.markdown").alias("markdown"),
            F.col("doc.text").alias("text"),
            F.col("doc.links").alias("links"),
            F.length("html").alias("bytes"),
        ]
        # Base.ts:1294-1295: every result document carries the resolved
        # proxy mode name ('base' when no proxy option is set)
        ex["proxy"] = F.lit(self._resolved_proxy_mode(cfg)).alias("proxy")
        ex["should_scrape"] = (
            path_filter_cond(F.col("url"), cfg.scrape_paths, [])
            if cfg.scrape_paths else F.lit(True)).alias("should_scrape")
        final_attempt = ((F.col("status") == 200)
                         | (F.col("attempt") >= cfg.max_attempts))
        if cfg.simulate_fetch_errors:
            # per-class retry decision (errorHandler): non-retryable classes
            # fail on their first attempt regardless of max_attempts
            final_attempt = final_attempt | ~should_retry_col(
                F.col("error_message"))
        ex["outcome_key"] = final_attempt.alias("final")
        ex["metrics_key"] = F.spark_partition_id().alias("partition_id")
        ex["metrics_aggs"] = [
            F.count("*").alias("urls"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
            .alias("fetched"),
            F.sum(F.coalesce(F.col("bytes"), F.lit(0))).alias("bytes")]
        ex["job_id"] = F.lit(cfg.job_id).alias("job_id")
        ex["visits_sel"] = [F.col(c) for c in
                            ("job_id", "url", "url_hash", "host", "depth",
                             "seq", "attempt", "status", "round")]
        ex["links_pre"] = [
            F.col("job_id"),
            F.col("depth").alias("parent_depth"),
            F.col("seq").alias("parent_seq"),
            F.posexplode_outer("links").alias("link_pos", "url"),
        ]
        ex["status_200"] = F.col("status") == 200
        ex["links_precond"] = (
            F.col("url").isNotNull()
            & (F.col("parent_depth") < cfg.max_depth)              # F6
            & F.col("url").startswith("http"))
        ex["links_cond"] = (
            strategy_cond(F.col("host"), F.col("origin"), cfg.seed_url,
                          cfg.strategy)
            & path_filter_cond(F.col("url"), cfg.include_paths,
                               cfg.exclude_paths))
        link_cols = ["job_id", "parent_depth", "parent_seq", "link_pos",
                     "url", "host", "origin", "path"]
        ex["dedup_agg"] = F.min_by(
            F.struct(*[F.col(c) for c in link_cols]),
            F.struct(F.col("parent_seq"), F.col("link_pos"))).alias("__first")
        ex["dedup_sel"] = [F.col("url_hash")] + [
            F.col(f"__first.{c}").alias(c) for c in link_cols]
        # a new frontier row minus what the driver numbers (seq,
        # round_added, attempt)
        ex["new_sel"] = [F.col(c) for c in ("job_id", "url", "url_hash",
                                            "host", "origin", "path")] + [
            (F.col("parent_depth") + 1).alias("depth")]
        return ex

    @staticmethod
    def _resolved_proxy_mode(cfg: CrawlConfig) -> str:
        """libs/proxy.ts:54-71 via Base.ts:1294-1295: the mode name the
        result document reports — 'base' for unset/base/auto, 'stealth'
        only when a stealth pool is actually configured, 'custom' for a
        URL.  Reads the reference's own env names so a deployment that
        sets ANYCRAWL_PROXY_STEALTH_URL reports identically."""
        from anycrawl_spark.proxy import (get_resolved_proxy_mode,
                                          parse_proxy_urls)

        return get_resolved_proxy_mode(
            cfg.proxy,
            parse_proxy_urls(os.environ.get("ANYCRAWL_PROXY_STEALTH_URL")))

    def run(self, cfg: CrawlConfig, resume: bool = False) -> dict:
        t0 = time.time()
        # reset pipelining state: run() may be called again on one engine
        # (resume/cancel tests); in-memory state from a prior run is stale
        self._prev_inflight = None
        self._writes = ThreadPoolExecutor(max_workers=8)
        try:
            return self._run_loop(cfg, resume, t0)
        finally:
            # flush the deferred tail even when resume validation / seeding
            # throws: the last round's writes + commit; always release the
            # executor (a leaked pool accumulates 8 threads per failed call)
            try:
                self._finalize_prev()
            finally:
                self._frontier = None
                self._writes.shutdown(wait=True)
                self._writes = None

    def _run_loop(self, cfg: CrawlConfig, resume: bool, t0: float) -> dict:
        fam = cfg.filter_family()
        if resume:
            self.catalog.drop_uncommitted()
            progress = self._progress()
            round_no = progress["round"] + 1
            self._check_geometry(fam)
        else:
            self.catalog.destroy()
            self.catalog = Catalog(self.catalog.root)
            progress = {"round": -1, "done": 0, "failed": 0, "enqueued": 0, "finalized": False}
            round_no = 0
        self._load_seen(fam, round_no - 1)

        if round_no == 0:
            frontier = self._seed_frontier(cfg)
            if self.robots is not None and cfg.respect_robots:
                frontier = robots_allowed(frontier, self.robots)
            # driver-local seed round: the frontier is one seed row
            # (already driver-built) — one collect replaces four Spark
            # jobs (count + pending/seen/bloom writes), shaving ~2 s of
            # fixed startup from every crawl job.
            # (the select drops columns a robots rules table joins in)
            self._frontier = frontier.select(
                *FRONTIER_PA_SCHEMA.names).toArrow().cast(FRONTIER_PA_SCHEMA)
            n_seed = self._frontier.num_rows
            self.catalog.append_round_local(self._frontier, "pending", 0)
            self._add_seen(fam, self._frontier["url_hash"].to_pylist())
            self._write_seen(0)
            progress = {"round": 0, "done": 0, "failed": 0, "enqueued": n_seed,
                        "finalized": n_seed == 0, "phase": "seeded",
                        "pending_seq_range": [0, max(0, n_seed - 1)],
                        "bloom_geometry": fam.geometry}
            self.catalog.commit_round(0, ["pending", "seen", "bloom"], progress,
                                      replace=["seen", "bloom"])
            round_no = 1
        elif not progress.get("finalized"):
            # pyarrow reads the one-file round directories this engine
            # writes and Spark's multi-part ones alike (it skips _SUCCESS
            # and .crc files)
            self._frontier = pq.read_table(
                self.catalog.round_path("pending", round_no - 1),
                schema=FRONTIER_PA_SCHEMA)

        extract_udf = make_extract_udf(
            formats=cfg.formats, only_main_content=cfg.only_main_content)
        ex = self._static_exprs(cfg, extract_udf)

        while round_no <= cfg.max_rounds and not progress.get("finalized"):
            if self.is_cancelled():
                # Progress.cancel (Progress.ts:434-448): mark finalized
                # immediately; the limit hook skips admission when
                # cancelled (EngineConfigurator.ts:84-99). Between-rounds
                # is the batch equivalent of between-requests.
                self._finalize_prev()
                progress = {**progress, "round": round_no,
                            "finalized": True, "cancelled": True,
                            "phase": "cancelled"}
                self.catalog.commit_round(round_no, [], progress)
                break
            progress = self._run_round(cfg, round_no, progress, ex, fam)
            round_no += 1

        fetched_total = progress["done"] - progress["failed"]
        return {
            "job_id": cfg.job_id,
            "rounds": progress["round"],
            "done": progress["done"],
            "fetched": fetched_total,
            "failed": progress["failed"],
            "enqueued": progress["enqueued"],
            "seconds": time.time() - t0,
        }

    def _run_round(self, cfg: CrawlConfig, r: int, progress: dict,
                   ex: dict, fam) -> dict:
        spark = self.spark
        writes = self._writes
        _t0 = time.time()
        pending = self._frontier
        if pending.num_rows == 0:
            self._finalize_prev()
            meta = {**progress, "round": r, "finalized": True, "phase": "drained"}
            self.catalog.commit_round(r, [], meta)
            return meta

        # --- admission on the driver: per-host budget, then batch cut ------
        # The frontier holds at most the job's limit (≤ 50k rows), so the
        # per-host priority queue is a driver sort, not a host shuffle.
        admitted, deferred = admit_frontier(
            pending, cfg.politeness_budget, cfg.batch_size, cfg.budget_scope)
        n_admitted = admitted.num_rows
        # an Arrow-table source is JVM-only: the JVM parallelizes the
        # batches, no Python worker starts (unlike local Python rows)
        admitted_df = spark.createDataFrame(admitted)

        # --- fetch = equi-join against the corpus --------------------------
        # The join shuffle hash-partitions on url_hash; AQE parallelismFirst
        # keeps >= defaultParallelism partitions, so the extraction UDF runs
        # at full width without an extra shuffle of the html payload (an
        # explicit repartition here measured 3.6x slower in the bulk path).
        #
        # A round's frontier is orders of magnitude smaller than the
        # standing corpus, and a left join can't broadcast its left side —
        # so the plain plan re-EXCHANGES the full corpus (html payloads
        # included) every round, which measured as ~3.5 s/round of pure
        # fixed cost at sf0.1 regardless of round size. Semi-reducing the
        # corpus with a broadcast of the admitted key set first means the
        # join shuffles only the matched pages (≤ admitted rows).
        # Identity-preserving: reducing the right side of a left join by
        # the left side's keys changes nothing. The key set is bounded by
        # the job's limit (≤ 50k rows).
        corpus_side = self.corpus.join(
            F.broadcast(admitted_df.select(ex["keys_sel"])),
            "page_url_hash", "left_semi")
        # F11: a corpus miss carries an error message like a fetch error
        # would (ex["fetch_derived"]; simulate_fetch_errors draws all five
        # failure classes deterministically from the url hash).
        fetched = (
            admitted_df.join(
                corpus_side,
                admitted_df["url_hash"] == corpus_side["page_url_hash"],
                "left")
            .drop("page_url_hash")
        )

        # Extraction width scaled to the round (guide §2.2): the fetch-join
        # shuffle leaves 2×cores partitions, so a 100-row round still paid
        # ~64 task launches plus 64 Arrow round-trips in the docs
        # materialization — ~0.4 s of fixed cost per round. For small
        # rounds, re-exchange the matched rows (tiny at that size) down to
        # ~64 pages/task before the UDF projection; a coalesce would
        # instead merge the whole narrow chain — measured pulling the full
        # corpus-side scan into the shrunken stage (8 s/round single-task).
        # Width capped at defaultParallelism so the re-exchanged stage is
        # one task per core: the per-task fixed cost (Arrow round-trip +
        # scheduling) dominates 64-row batches, and 50 tasks on 32 cores
        # measured slower than 32×100-row tasks on identical rows (0.78 s
        # vs 0.65 s for 3200 pages — tools/kernel_bench-style A/B).
        # Sized from the exact admitted count; big rounds keep full width.
        if n_admitted <= 4096:
            fetched = fetched.repartition(
                max(1, min(spark.sparkContext.defaultParallelism,
                           (n_admitted + 63) // 64)), "url_hash")
        # --- extraction (vectorized UDF) -----------------------------------
        docs = (
            fetched.select("*", *ex["fetch_derived"])
            .select(*ex["docs_fields"], F.lit(r).alias("round"),
                    ex["proxy"], ex["should_scrape"])
            .cache()
        )
        # Scale-adaptive consumer view (guide §2.2/§6): the cached docs
        # frame keeps the fetch-join's full shuffle width so the extraction
        # UDF materializes at full parallelism (the cache also pins that
        # width — canChangeCachedPlanOutputPartitioning is off, so AQE
        # cannot byte-coalesce the compute-dense extract stage). But every
        # CONSUMER job (results/visits writes, the outcome collect) then
        # paid 64 task launches and wrote 64 splinter files per round
        # regardless of round size — for a 100-row round that is pure
        # scheduling overhead (measured ~0.55 s per job). Consumers
        # therefore read a coalesced view sized from the admitted count
        # (~1k rows/task); coalesce over the cached scan is a narrow op
        # reading the same blocks, so the extraction work is not
        # re-partitioned. The metrics aggregation stays on the full-width
        # frame — its rows record spark_partition_id() lineage, which the
        # view would renumber.
        n_view = max(1, min(spark.sparkContext.defaultParallelism,
                            (n_admitted + 999) // 1000))
        docs_view = docs.coalesce(n_view)

        # --- discovery: links → filters → dedup → seen → enqueue cap -------
        enqueued = progress["enqueued"]
        capacity = cfg.limit - enqueued
        disc_fut = None
        if capacity > 0:
            links = (
                docs.where(ex["status_200"])
                .select(*ex["links_pre"])
                .where(ex["links_precond"])
            )
            links = _canonical_cols(links, "url")
            links = links.where(ex["links_cond"])
            if self.robots is not None and cfg.respect_robots:
                links = robots_allowed(links, self.robots)

            # in-batch dedup: first discovery wins (FIFO order). min_by over
            # the (parent_seq, link_pos) struct ⇔ row_number()==1 over that
            # order — (parent_seq, link_pos) is unique per discovered link,
            # so no tie ambiguity — but as a hash aggregation it partially
            # aggregates map-side, shuffling one row per distinct url per
            # map partition instead of every duplicate discovery, and needs
            # no sort (guide §2.3: aggregate before you shuffle; BFS fanout
            # makes duplicate links the common case)
            links = (
                links.groupBy("url_hash")
                .agg(ex["dedup_agg"])
                .select(*ex["dedup_sel"])
            )

            # seen filter: Bloom pre-filter + exact anti-join against the
            # driver-resident seen state — the filter dict and the one seen
            # directory it was last written to.
            # The probabilistic pre-filter earns its keep only once the
            # seen set is large: below prefilter_min_seen hashes the exact
            # anti-join alone is measurably cheaper per round than the
            # segment broadcast + Arrow probe stage it would precede
            # (BENCH.md r6 probe: 0.57s vs 1.09s at 5k seen hashes), so
            # small standing frontiers skip the probe. The filter is still
            # primed and maintained every round — checkpoints and resume
            # geometry are untouched; this gates only the physical plan,
            # never membership results.
            if progress["enqueued"] > cfg.prefilter_min_seen:
                # driver-resident filter: hand the dict straight to the
                # probe (broadcast once per executor) — no per-row bitmap
                # column, no createDataFrame scan per round.
                links = fam.filter_new(links, self._bloom_mem, self._seen_df)
            else:
                links = exact_antijoin(links, self._seen_df)

            # enqueue cap: the first `capacity` new links in FIFO
            # (parent_seq, link_pos) order. orderBy + limit plans as one
            # TakeOrderedAndProject, so at most `capacity` rows reach the
            # driver, which numbers them. Runs concurrently with the outcome
            # collect and the doc writes (block-level cache locks make the
            # shared docs materialization single-compute).
            disc_fut = writes.submit(
                links.orderBy("parent_seq", "link_pos").limit(capacity)
                .select(*ex["new_sel"]).toArrow)

        # One collect of the round's outcome (≤ admitted rows): the fetched,
        # failed and retry counts and the retry hashes.
        outcome_fut = writes.submit(
            docs_view.select("url_hash", "status", ex["outcome_key"]).collect)

        # results: persistence gated by scrape_paths (F5) — links still flow;
        # visits: complete per-round visit log (crawl-order golden surface).
        # The docs-derived writes are independent reads of the cached docs →
        # submitted concurrently (Spark schedules concurrent jobs fine; each
        # write targets its own round directory). None of them is awaited in
        # this round: _finalize_prev() awaits + commits them while the NEXT
        # round's compute jobs run (write pipelining).
        metrics = (
            docs.groupBy(ex["metrics_key"], "host")
            .agg(*ex["metrics_aggs"])
            .select("*", F.lit(r).alias("round"), ex["job_id"])
        )
        doc_writes = [
            writes.submit(
                self.catalog.append_round,
                docs_view.where(F.col("should_scrape")).drop("links", "should_scrape"),
                "results", r),
            writes.submit(
                self.catalog.append_round,
                docs_view.select(*ex["visits_sel"]),
                "visits", r),
            # per-partition lineage/metrics (north rule)
            writes.submit(self.catalog.append_round, metrics, "metrics", r),
        ]
        _t_plan = time.time()

        # new frontier rows: dense seqs continue the job's enqueue numbering
        new_rows = FRONTIER_PA_SCHEMA.empty_table()
        if disc_fut is not None:
            found = disc_fut.result()
            n = found.num_rows
            new_rows = found.append_column(
                "seq", pa.array(range(enqueued, enqueued + n), pa.int64())
            ).append_column(
                "round_added", pa.array([r] * n, pa.int32())
            ).append_column(
                "attempt", pa.array([1] * n, pa.int32())
            ).cast(FRONTIER_PA_SCHEMA)
        n_new = new_rows.num_rows
        _t_disc = time.time()
        outcome = outcome_fut.result()
        _t_counts = time.time()
        n_fetched = sum(1 for row in outcome if row["status"] == 200)
        n_failed = sum(1 for row in outcome
                       if row["status"] != 200 and row["final"])
        # a retry is the admitted row again, one attempt later
        retries = admitted.filter(pc.is_in(admitted["url_hash"], pa.array(
            [row["url_hash"] for row in outcome if not row["final"]],
            pa.string())))
        retries = retries.set_column(
            retries.schema.get_field_index("attempt"), "attempt",
            pc.add(retries["attempt"], 1).cast(pa.int32()))

        # --- next pending + seen/bloom state -------------------------------
        # Finalize the PREVIOUS round here (await its writes — they had this
        # whole round's compute to overlap with — and commit its manifest)
        # before writing this round's state.
        self._finalize_prev()
        frontier = pa.concat_tables([deferred, retries, new_rows])
        self.catalog.append_round_local(frontier, "pending", r)
        if n_new > 0:
            self._add_seen(fam, new_rows["url_hash"].to_pylist())
            self._write_seen(r)
        _t_writes = time.time()

        done = progress["done"] + n_fetched + n_failed
        failed = progress["failed"] + n_failed
        finalized = frontier.num_rows == 0 or done >= cfg.limit
        seqs = pc.min_max(frontier["seq"]).as_py()
        meta = {
            "round": r, "done": done, "failed": failed,
            "enqueued": enqueued + n_new, "finalized": finalized,
            "admitted": n_fetched + n_failed, "new": n_new,
            "pending_next": frontier.num_rows, "phase": "crawl",
            "pending_seq_range": ([seqs["min"], seqs["max"]]
                                  if frontier.num_rows
                                  else [enqueued + n_new] * 2),
            # per-phase wall seconds (lineage/metrics; negligible cost):
            # plan = admission, plan build and job submits; disc = the
            # wait for the enqueue-cap collect; counts = the further wait
            # for the outcome collect; compute = all three; state_writes =
            # the previous round's finalize plus this round's driver writes
            "timings": {
                "compute": round(_t_counts - _t0, 3),
                "state_writes": round(_t_writes - _t_counts, 3),
                "plan": round(_t_plan - _t0, 3),
                "disc": round(_t_disc - _t_plan, 3),
                "counts": round(_t_counts - _t_disc, 3),
            },
        }
        tables = ["pending", "results", "visits", "metrics"]
        # the seen and bloom writes each hold the full cumulative state, so
        # their commit retires the previous copies (_write_seen)
        replace = []
        if n_new > 0:
            tables += ["seen", "bloom"]
            replace = ["seen", "bloom"]
        # Deferred commit (write pipelining): the manifest entry lands in
        # _finalize_prev() during the NEXT round, after the writes complete.
        # A crash before that resumes from the last committed round with
        # this round's directories dropped — exact-resume is unchanged.
        self._prev_inflight = {
            "round": r, "futures": doc_writes, "tables": tables,
            "meta": meta, "replace": replace, "docs": docs,
        }
        self._frontier = frontier
        return meta

    # -- reads for callers --------------------------------------------------
    def results(self) -> DataFrame | None:
        return self.catalog.read(self.spark, "results")

    def visits(self) -> DataFrame | None:
        return self.catalog.read(self.spark, "visits")

    def visit_order(self) -> DataFrame | None:
        v = self.visits()
        if v is None:
            return None
        # retry attempts reuse the original seq; the attempt tiebreak keeps
        # the order deterministic when max_attempts > 1
        return (v.select("round", "seq", "url", "depth", "status", "attempt")
                .orderBy("seq", "attempt").drop("attempt"))
