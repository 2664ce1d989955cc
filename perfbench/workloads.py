"""The workloads. Each is a closed loop: one caller submits a job and waits
for it to finish before submitting the next.

- ``crawl``: ``CrawlEngine.run`` with a per-host politeness budget and the
  Bloom probe engaged after the first rounds. Many small rounds, each
  extracting, rewriting the deferred frontier and committing its state.
  Its traced run also cuts the bulk scrape pipeline (scan, canonical
  columns, fetch-join, extraction UDF, write) on a seeded page sample.
- ``dedup_suite``: one pass over nine dedup / pretraining-prep leaves of the
  operator registry. Bypasses every crawl layer.

Each workload offers ``build`` (inputs cached in the checkout, done once),
``setup`` (repeated and timed), ``warmup``, ``job``, ``check`` and
``layers`` (per-layer probes of the traced run).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

CORPUS_PAGES = 4000
CORPUS_HOSTS = 8
SCRAPE_SAMPLE = 2000
KERNEL_SAMPLE = 120
CHECK_SAMPLE = 48
# Every start host gives the same shape: 100 pages in 8 rounds, the budget
# binding from round 4, the probe on once 30 hashes are seen
# (test_every_seed_gives_the_same_crawl_shape).
CRAWL = dict(strategy="all", max_depth=20, limit=100, politeness_budget=15,
             prefilter_min_seen=30, respect_robots=False)
DEDUP_LEAVES = (
    "ngram_jaccard_pairs", "jaccard_over_candidates", "simhash_near_pairs",
    "dedup_clusters", "semantic_dedup", "ann_ivf_real", "minhash_signature",
    "lsh_candidate_pairs", "pretrain_data_pipeline",
)


@dataclass
class Ctx:
    spark: object
    seed: int
    root: Path
    work: Path
    cache: Path
    tracer: object


@dataclass
class JobResult:
    seconds: float
    items: int                      # pages (documents for dedup_suite)
    units: list[float]              # crawl rounds (commit to commit) / leaves
    first_results_s: float
    out: object = None              # what check() reads
    traced: bool = False
    cpu_s: float = 0.0              # CPU seconds of the process tree
    root_span: object = None
    extra: dict = field(default_factory=dict)


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t


def ensure_corpus(ctx: Ctx) -> Path:
    """The fixture corpus from ``anycrawl_spark.corpus``, generated once per
    checkout (deterministic; the seed does not change it). Written to a
    temporary directory that is renamed into place only when complete."""
    from anycrawl_spark.corpus import generate_pages

    path = ctx.cache / f"pages_{CORPUS_PAGES}"
    if not path.exists():
        tmp = path.with_name(f"{path.name}.tmp-{os.getpid()}")
        generate_pages(ctx.spark, CORPUS_PAGES, num_hosts=CORPUS_HOSTS) \
            .write.mode("overwrite").parquet(str(tmp))
        os.replace(tmp, path)
    return path


def read_html(corpus_path: Path, urls=None) -> dict[str, str]:
    """url -> html straight from the corpus files (driver side, no Spark)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(str(corpus_path), columns=["url", "html"])
    want = set(urls) if urls is not None else None
    out = {}
    for u, h in zip(tbl.column("url").to_pylist(), tbl.column("html").to_pylist()):
        if want is None or u in want:
            out[u] = h.decode("utf-8")
    return out


def scrape_plan(spark, frontier, pages, formats):
    """The bulk scrape pipeline, from frontier urls to result rows; returns
    every intermediate frame so the traced run can cut after each layer."""
    from pyspark.sql import functions as F

    from anycrawl_spark.crawl import _canonical_cols, prepare_corpus
    from anycrawl_spark.udfs import make_extract_udf

    canon = _canonical_cols(frontier, "url")
    corpus = prepare_corpus(pages, dedup=False)
    joined = canon.join(corpus, canon["url_hash"] == corpus["page_url_hash"], "left")
    extract = make_extract_udf(formats=formats)
    result = (
        joined.withColumn("status", F.when(F.col("html").isNotNull(), 200)
                          .otherwise(404))
        .withColumn("doc", extract(F.col("url"), F.col("html")))
        .select("url", "url_hash", "host", "status",
                F.col("doc.title").alias("title"),
                F.col("doc.markdown").alias("markdown"),
                F.col("doc.text").alias("text"),
                F.size("doc.links").alias("n_links"))
    )
    return canon, corpus, joined, result


def scrape_probe(ctx: Ctx, corpus_path: Path, formats) -> tuple[dict, list[str]]:
    """The bulk scrape on a seeded page sample, cut after each layer with a
    noop sink: each layer's cost is the difference of two neighbouring cuts.
    The written output is then checked: every page fetched, and a seeded
    subset byte-for-byte equal to ``extract_page``."""
    import pyarrow.parquet as pq

    from anycrawl_spark.kernel.extract import extract_page

    spark = ctx.spark
    rng = random.Random(ctx.seed + 1)
    urls = sorted(read_html(corpus_path))
    sample = sorted(rng.sample(urls, SCRAPE_SAMPLE))
    frontier_path, out = ctx.work / "scrape_frontier", ctx.work / "scrape_out"
    spark.createDataFrame([(u,) for u in sample], "url string") \
        .write.mode("overwrite").parquet(str(frontier_path))
    frontier = spark.read.parquet(str(frontier_path))
    pages = spark.read.parquet(str(corpus_path))
    canon, corpus, joined, result = scrape_plan(spark, frontier, pages, formats)
    with ctx.tracer.span("probe.scrape"):
        t_scan = _noop(frontier) + _noop(pages)
        t_canon = _noop(canon) + _noop(corpus)
        t_join = _noop(joined)
        t_extract = _noop(result)
        t = time.perf_counter()
        result.write.mode("overwrite").parquet(str(out))
        t_write = time.perf_counter() - t
    m = {
        "crawl.scan_s": t_scan,
        "crawl.canonical_s": t_canon - t_scan,
        "crawl.fetch_join_s": t_join - t_canon,
        "udfs.extract_s": t_extract - t_join,
        "crawl.write_s": t_write - t_extract,
        "pages": len(sample),
    }
    pick = rng.sample(sample, KERNEL_SAMPLE)
    html = read_html(corpus_path, pick)
    m["kernel.cpu_ms_per_page"] = kernel_cpu_ms(html, formats)

    rows = {r["url"]: r for r in pq.read_table(str(out), columns=[
        "url", "url_hash", "status", "markdown", "text", "n_links"]).to_pylist()}
    m["digest"] = _digest(sorted((r["url_hash"], r["markdown"], r["text"], r["n_links"])
                                 for r in rows.values()))
    errs = []
    if sorted(rows) != sample or any(r["status"] != 200 for r in rows.values()):
        errs.append(f"scrape: {len(rows)} rows, expected {len(sample)} with status 200")
    for u in pick[:CHECK_SAMPLE]:
        doc = extract_page(u, html[u], formats=formats)
        r = rows.get(u)
        if r is None or (r["markdown"], r["text"], r["n_links"]) != (
                doc["markdown"], doc["text"], len(doc["links"])):
            errs.append(f"scrape: {u} differs from extract_page")
    return m, errs


def kernel_cpu_ms(html: dict[str, str], formats) -> float:
    """Process CPU per page of ``extract_page`` in this process, on the
    workload's own pages and formats."""
    from anycrawl_spark.kernel.extract import extract_page

    sys.setrecursionlimit(max(sys.getrecursionlimit(), 20_000))
    t = time.process_time()
    for u, h in html.items():
        extract_page(u, h, formats=formats)
    return (time.process_time() - t) * 1000 / max(1, len(html))


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, default=str).encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

class _CommitWatcher(threading.Thread):
    """Polls a crawl's ``Catalog`` from its own thread and stamps each
    manifest commit, the way a caller polling crawl status sees it."""

    def __init__(self, ckpt: Path, t0: float):
        super().__init__(daemon=True)
        from anycrawl_spark.catalog import Catalog

        self.catalog = Catalog(ckpt)
        self.t0 = t0
        self.commits: list[tuple[int, float]] = []
        self.first_results: float | None = None
        self.stop = threading.Event()

    def run(self):
        last = None
        while not self.stop.is_set():
            r = self.catalog.last_round()
            now = time.perf_counter()
            if r is not None and r != last:
                self.commits.append((r, now - self.t0))
                last = r
            if self.first_results is None and self.catalog.committed_rounds("results"):
                self.first_results = now - self.t0
            self.stop.wait(0.025)


class Crawl:
    name = "crawl"
    min_jobs = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.notes: dict = {}           # extra report fields of a traced run
        self.corpus = None
        self.sim = None

    def build(self):
        from anycrawl_spark.corpus import host_name

        self.corpus_path = ensure_corpus(self.ctx)
        host = host_name(random.Random(self.ctx.seed).randrange(CORPUS_HOSTS))
        self.seed_url = f"https://{host}/p/0"

    def config(self, job_id: str, **over):
        from anycrawl_spark.crawl import CrawlConfig

        return CrawlConfig(job_id=job_id, seed_url=self.seed_url,
                           **{**CRAWL, **over})

    def setup(self):
        """Prepare and materialize the shared corpus (the standing pages
        table every crawl job of the session reads)."""
        from pyspark.storagelevel import StorageLevel

        from anycrawl_spark.crawl import prepare_corpus

        if self.corpus is not None:
            self.corpus.unpersist(blocking=True)
        pages = self.ctx.spark.read.parquet(str(self.corpus_path))
        self.corpus = prepare_corpus(pages).persist(StorageLevel.MEMORY_AND_DISK)
        self.corpus.count()

    def warmup(self):
        """A short crawl that already takes every path the measured job
        takes: the budget defers rows and the Bloom probe is on."""
        self._run(-1, self.config("warmup", limit=8, politeness_budget=2,
                                  prefilter_min_seen=1))

    def job(self, i: int, traced: bool = False) -> JobResult:
        return self._run(i, self.config(f"job{i}"))

    def _run(self, i: int, cfg) -> JobResult:
        from anycrawl_spark.crawl import CrawlEngine

        ckpt = self.ctx.work / f"ckpt_{i % 2}"
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        watcher = _CommitWatcher(ckpt, t0)
        engine = CrawlEngine(self.ctx.spark, self.corpus, str(ckpt), prepared=True)
        watcher.start()
        try:
            summary = engine.run(cfg)
            dt = time.perf_counter() - t0
        finally:
            watcher.stop.set()
            watcher.join()
        times = [t for _, t in watcher.commits]
        units = [b - a for a, b in zip(times, times[1:])]
        return JobResult(dt, summary["fetched"], units,
                         watcher.first_results or dt, out=engine,
                         extra={"summary": summary, "ckpt": ckpt})

    def _simulate(self):
        if self.sim is None:
            from tests.simulator import corpus_to_dict, simulate_crawl

            rows = [{"url": u, "html": h}
                    for u, h in read_html(self.corpus_path).items()]
            cfg = {k: v for k, v in CRAWL.items()
                   if k not in ("prefilter_min_seen", "respect_robots")}
            self.sim = simulate_crawl(corpus_to_dict(rows), self.seed_url, **cfg)
        return self.sim

    def check(self, res: JobResult) -> list[str]:
        """Visit order and seen set equal to the simulator's."""
        spark = self.ctx.spark
        engine = res.out
        visits = [(r["seq"], r["url"], r["depth"], r["status"])
                  for r in engine.visit_order().collect()]
        seen = {r["url_hash"] for r in engine.catalog.read(spark, "seen").collect()}
        sim = self._simulate()
        want_visits = [(v.seq, v.url, v.depth, v.status)
                       for v in sorted(sim.visits, key=lambda v: v.seq)]
        want_seen = {hashlib.sha256(k.encode()).hexdigest() for k in sim.seen}
        res.extra["digest"] = _digest([visits, sorted(seen)])
        errs = []
        if visits != want_visits:
            errs.append(f"crawl: visit order differs from the simulator "
                        f"({len(visits)} vs {len(want_visits)} visits)")
        if seen != want_seen:
            errs.append(f"crawl: seen set differs from the simulator "
                        f"({len(seen)} vs {len(want_seen)})")
        return errs

    def layers(self, traced: list[JobResult]) -> tuple[dict, list[str]]:
        from pyspark.sql import functions as F

        from anycrawl_spark.politeness import apply_host_budget

        spark, tracer = self.ctx.spark, self.ctx.tracer
        last = traced[-1]
        engine, ckpt = last.out, last.extra["ckpt"]
        m: dict[str, float] = {}
        # round meta the engine wrote, summed over the job's rounds
        rounds = [engine.catalog.round_meta(r)
                  for r in range(1, engine.catalog.last_round() + 1)]
        rounds = [r for r in rounds if "timings" in r]
        for k in ("plan", "disc", "counts", "compute", "state_writes"):
            m[f"round.{k}_s"] = sum(r["timings"][k] for r in rounds)
        m["round.count"] = len(rounds)
        m["round.admitted"] = sum(r["admitted"] for r in rounds)
        m["round.new"] = sum(r["new"] for r in rounds)
        m["catalog.bytes_per_page"] = sum(
            f.stat().st_size for f in ckpt.rglob("*") if f.is_file()
        ) / max(1, last.items)

        scrape, errs = scrape_probe(self.ctx, self.corpus_path,
                                    self.config("x").formats)
        self.notes["scrape_digest"] = scrape.pop("digest")
        m.update(scrape)

        # per-host budget on this job's frontier
        from anycrawl_spark.crawl import _canonical_cols

        visits = engine.visits().select("url", "depth", "seq")
        frontier = _canonical_cols(visits, "url").persist()
        frontier.count()
        with tracer.span("probe.budget"):
            t = time.perf_counter()
            admitted, deferred = apply_host_budget(
                frontier, CRAWL["politeness_budget"], order_cols=("depth", "seq"))
            _noop(admitted)
            _noop(deferred)
            m["politeness.budget_s"] = time.perf_counter() - t
            m["politeness.admitted"] = admitted.count()
            m["politeness.deferred"] = deferred.count()

        # Bloom probe quality: candidates = every corpus page, seen = this
        # job's seen set; filter_new(cand, segs, cand) keeps exactly the
        # probe-negative rows
        fam = self.config("x").filter_family()
        seen = [r["url_hash"] for r in engine.catalog.read(spark, "seen").collect()]
        cand = self.corpus.select(F.col("page_url_hash").alias("url_hash"))
        with tracer.span("probe.seen"):
            n_cand = cand.count()
            negative = fam.filter_new(cand, fam.build_driver(seen), cand).count()
            truly = cand.join(spark.createDataFrame([(h,) for h in seen], "url_hash string"),
                              "url_hash").count()
        m["seen.maybe_ratio"] = (n_cand - negative) / max(1, truly)
        frontier.unpersist()
        return m, errs


# ---------------------------------------------------------------------------
# dedup_suite
# ---------------------------------------------------------------------------

class DedupSuite:
    name = "dedup_suite"
    min_jobs = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.notes: dict = {}
        self.data = str(Path(__file__).resolve().parent / "data" / "sf0.01")
        self.leaves = list(DEDUP_LEAVES)
        random.Random(ctx.seed).shuffle(self.leaves)

    def build(self):
        """DuckDB oracle answers for each leaf, computed once per checkout
        with the comparison of tools/validate_oracle.py."""
        from anycrawl_spark.operators.queries import REGISTRY

        sys.path.insert(0, str(self.ctx.root / "tools"))
        import validate_oracle as vo

        self.vo = vo
        key = hashlib.sha256("".join(REGISTRY[q].oracle for q in DEDUP_LEAVES)
                             .encode()).hexdigest()[:16]
        path = self.ctx.cache / f"oracle_{key}.json"
        if not path.exists():
            con = vo.open_duckdb(self.data)
            answers = {}
            for q in DEDUP_LEAVES:
                tbl = con.execute(REGISTRY[q].oracle).arrow()
                rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
                cols, norm = vo.normalize_rows(list(tbl.schema.names), rows)
                types = {f.name: vo.canon_arrow_type(f.type) for f in tbl.schema}
                answers[q] = {"cols": cols, "types": types, "n": len(norm),
                              "digest": _digest(norm)}
            con.close()
            tmp = path.with_suffix(f".tmp-{os.getpid()}")
            tmp.write_text(json.dumps(answers))
            os.replace(tmp, path)
        self.oracle = json.loads(path.read_text())

    def setup(self):
        spark = self.ctx.spark
        self.n_docs = spark.read.parquet(f"{self.data}/documents.parquet").count()
        spark.read.parquet(f"{self.data}/embeddings.parquet").count()

    def warmup(self):
        """Every leaf once, three at a time: compiles the plans and starts
        the Python workers before anything is timed, in half the time of a
        sequential pass."""
        from concurrent.futures import ThreadPoolExecutor

        from anycrawl_spark.operators.queries import REGISTRY

        with ThreadPoolExecutor(3) as pool:
            list(pool.map(lambda q: REGISTRY[q].fn(self.ctx.spark, self.data)
                          .collect(), self.leaves))

    def job(self, i: int, traced: bool = False) -> JobResult:
        from anycrawl_spark.operators.queries import REGISTRY

        spark, tracer = self.ctx.spark, self.ctx.tracer
        data = self.data
        outs, units = {}, []
        t0 = time.perf_counter()
        for q in self.leaves:
            t = time.perf_counter()
            if traced:
                with tracer.span(f"operators.{q}"):
                    df = REGISTRY[q].fn(spark, data)
                    rows = df.collect()
            else:
                df = REGISTRY[q].fn(spark, data)
                rows = df.collect()
            units.append(time.perf_counter() - t)
            outs[q] = (df, rows)
        dt = time.perf_counter() - t0
        # the pass hands its leaves back together, like the bulk write
        return JobResult(dt, self.n_docs, units, dt, out=outs,
                         extra={"leaf_s": dict(zip(self.leaves, units))})

    def check(self, res: JobResult) -> list[str]:
        vo, errs = self.vo, []
        for q, (df, rows) in res.out.items():
            want = self.oracle[q]
            types = {f.name: vo.canon_spark_type(f.dataType) for f in df.schema.fields}
            cols, norm = vo.normalize_rows(df.columns, [tuple(r) for r in rows])
            bad = [c for c in types if c in want["types"] and types[c] != want["types"][c]]
            if bad or cols != want["cols"] or len(norm) != want["n"] \
                    or _digest(norm) != want["digest"]:
                errs.append(f"dedup_suite: {q} differs from its DuckDB oracle "
                            f"({len(norm)} vs {want['n']} rows, types {bad})")
        res.out = None
        return errs

    def layers(self, traced: list[JobResult]) -> tuple[dict, list[str]]:
        return {f"operators.{q}_s": traced[-1].extra["leaf_s"][q]
                for q in DEDUP_LEAVES}, []


WORKLOADS = {w.name: w for w in (Crawl, DedupSuite)}
