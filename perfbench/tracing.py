"""Traced-run instruments: spans around the program's public entry
points, Spark status-store reads, and single-threaded kernel timings.

Nothing here edits the program.  ``Tracer.install`` wraps attributes
from the benchmark side (``CrawlRun.step``, ``CrawlRun.postings_df``,
``RoundTable.write_round``, ``BloomSeen.add_positions_df``,
``search_query.compile_search``, ``CrawlService.search``/``suggest``)
and ``uninstall`` restores them.  Spans stay in memory until the run ends.

Spark numbers come from the JVM's own status stores over py4j, which
work with the UI off: ``sc.statusStore()`` for jobs and stages, and the
SQL store for the Python-worker byte counters of the ArrowEvalPython,
MapInPandas and FlatMapCoGroupsInPandas nodes.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import threading
import time

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _size_bytes(text: str) -> float:
    """SQL size metric text ('total (min, med, max ...)\\n794.9 KiB (...)'
    or '794.9 KiB') -> bytes."""
    m = re.match(r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", text.strip().splitlines()[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class StatusStore:
    """Reader of the driver's AppStatusStore and SQLAppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        try:
            self.sc.listenerBus().waitUntilEmpty(30_000)
        except Exception:
            time.sleep(0.5)

    def mark(self) -> tuple[int, int]:
        """(max job id, max SQL execution id) seen so far."""
        self.drain()
        jobs = [j.jobId() for j in _iter(self.store.jobsList(None))]
        execs = [e.executionId() for e in _iter(self.sql.executionsList())]
        return (max(jobs, default=-1), max(execs, default=-1))

    def since(self, mark: tuple[int, int]) -> dict:
        """Totals over the jobs and SQL executions started after ``mark``."""
        self.drain()
        job_lo, exec_lo = mark
        jobs, stage_ids = [], set()
        for j in _iter(self.store.jobsList(None)):
            if j.jobId() <= job_lo:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                jobs.append((sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0))
            stage_ids.update(_iter(j.stageIds()))
        out = {"jobs": len(jobs), "job_intervals": jobs, "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
               "input_b": 0, "input_rows": 0, "py_sent_b": 0.0, "py_returned_b": 0.0}
        for s in _iter(self.store.stageList(None, False, False, self._quantiles, None)):
            if s.stageId() not in stage_ids or str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_b"] += s.shuffleReadBytes()
            out["shuffle_write_b"] += s.shuffleWriteBytes()
            out["spill_b"] += s.diskBytesSpilled()
            out["input_b"] += s.inputBytes()
            out["input_rows"] += s.inputRecords()
        for e in _iter(self.sql.executionsList()):
            if e.executionId() <= exec_lo:
                continue
            values = self.sql.executionMetrics(e.executionId())
            seen = set()
            for m in _iter(e.metrics()):
                name = m.name()
                if name not in (PY_SENT, PY_RETURNED) or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())  # scala.Option[String]
                if v.isDefined():
                    key = "py_sent_b" if name == PY_SENT else "py_returned_b"
                    out[key] += _size_bytes(v.get())
        return out


def _iter(seq):
    """Python iterator over a Scala Seq / Java collection from py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans around the program's entry points, plus the status-store
    totals of each crawl round and each request."""

    def __init__(self, spark):
        self.status = StatusStore(spark)
        self.spans: list[dict] = []
        # wall spent in the tracer's own status-store reads (listener-bus
        # waits included): what an untraced run does not pay
        self.self_s = 0.0
        self._saved: list[tuple] = []
        self._lock = threading.Lock()

    def _span(self, name: str, t0: float, t1: float, **attrs) -> None:
        with self._lock:
            self.spans.append({"name": name, "start": t0, "end": t1, **attrs})

    def _wrap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from cloud_based_web_crawling_indexing_system_spark import api
        from cloud_based_web_crawling_indexing_system_spark.operators import crawl, seen
        from cloud_based_web_crawling_indexing_system_spark.plans import search_query
        from cloud_based_web_crawling_indexing_system_spark.sources import lake

        tracer = self

        def timed(name, with_status=False, label=None):
            def make(orig):
                def wrapper(*a, **kw):
                    t_mark = time.time()
                    mark = tracer.status.mark() if with_status else None
                    t0 = time.time()
                    try:
                        return orig(*a, **kw)
                    finally:
                        t1 = time.time()
                        attrs = {"label": label(a) if label else None}
                        if with_status:
                            attrs["spark"] = tracer.status.since(mark)
                        tracer._span(name, t0, t1, **attrs)
                        tracer.self_s += (t0 - t_mark) + (time.time() - t1)
                return wrapper
            return make

        self._wrap(crawl.CrawlRun, "step", timed("crawl.step", with_status=True))
        self._wrap(crawl.CrawlRun, "postings_df", timed("search.postings_df"))
        self._wrap(lake.RoundTable, "write_round",
                   timed("lake.write_round", label=lambda a: os.path.basename(a[0].path)))
        self._wrap(seen.BloomSeen, "add_positions_df", timed("seen.bloom_add"))
        self._wrap(search_query, "compile_search", timed("search.compile"))
        self._wrap(api.CrawlService, "search", timed("api.search", with_status=True))
        self._wrap(api.CrawlService, "suggest", timed("api.suggest", with_status=True))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def within(self, name: str, outer: dict) -> list[dict]:
        return [s for s in self.named(name)
                if s["start"] >= outer["start"] and s["end"] <= outer["end"]]


LAKE_TABLES = {"frontier": "frontier", "seen_urls": "seen", "postings": "postings",
               "texts": "texts", "postings_state": "postings_state",
               "seen_state": "seen_state"}


def _med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def layer_metrics(tr: Tracer, n_results: list[int], n_rounds: int) -> dict:
    """Per-layer numbers from the spans of one timed crawl + query loop
    (the drained-frontier step that ends the crawl is not a round)."""
    out = {}
    steps = tr.named("crawl.step")[:n_rounds]
    mb = 1 << 20
    sp = [s["spark"] for s in steps]
    driver = [(s["end"] - s["start"]) - covered_s(s["spark"]["job_intervals"], s["start"], s["end"])
              for s in steps]
    n = max(1, len(steps))
    out["crawl.step_s"] = _med([s["end"] - s["start"] for s in steps])
    out["crawl.driver_s"] = _med(driver)
    for k in ("jobs", "stages", "tasks"):
        out[f"crawl.{k}"] = sum(x[k] for x in sp) / n
    for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
        out[f"crawl.{k}"] = sum(x[k] for x in sp)
    out["crawl.shuffle_write_mb"] = sum(x["shuffle_write_b"] for x in sp) / mb
    out["crawl.shuffle_read_mb"] = sum(x["shuffle_read_b"] for x in sp) / mb
    out["crawl.spill_mb"] = sum(x["spill_b"] for x in sp) / mb
    out["crawl.python_out_mb"] = sum(x["py_sent_b"] for x in sp) / mb
    out["crawl.python_in_mb"] = sum(x["py_returned_b"] for x in sp) / mb

    writes: dict[str, float] = {v: 0.0 for v in LAKE_TABLES.values()}
    for s in tr.named("lake.write_round"):
        t = LAKE_TABLES.get(s["label"])
        if t:
            writes[t] += s["end"] - s["start"]
    for t, v in writes.items():
        out[f"lake.write_s.{t}"] = v
    adds = tr.named("seen.bloom_add")
    out["seen.bloom_add_s"] = sum(s["end"] - s["start"] for s in adds)
    out["seen.bloom_generations"] = len(adds)

    searches = tr.named("api.search")
    build, execs, jobs, read_b, rows_per = [], [], [], [], []
    for s, nres in zip(searches, n_results):
        inner = tr.within("search.postings_df", s) + tr.within("search.compile", s)
        b = sum(x["end"] - x["start"] for x in inner)
        build.append(b * 1e3)
        execs.append((s["end"] - s["start"] - b) * 1e3)
        jobs.append(s["spark"]["jobs"])
        read_b.append(s["spark"]["input_b"])
        rows_per.append(s["spark"]["input_rows"] / max(1, nres))
    out["search.build_ms"] = _med(build)
    out["search.exec_ms"] = _med(execs)
    out["search.jobs"] = _med(jobs)
    out["search.bytes_read"] = _med(read_b)
    out["search.rows_read_per_result"] = _med(rows_per)
    sug = tr.named("api.suggest")
    out["suggest.exec_ms"] = _med([(s["end"] - s["start"]) * 1e3 for s in sug])
    return out


# -- single-threaded kernel costs ------------------------------------------------


def _per_row_us(fn, items, reps: int = 3) -> float:
    """Median over ``reps`` passes of the mean cost per item, in us."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / max(1, len(items)) * 1e6


def kernel_metrics(pages_path: str, robots_path: str, seed: int, n_pages: int = 120) -> dict:
    """Cost per row of the from-scratch kernels and of the two pandas-UDF
    bodies, on a fixed seeded sample of the workload's pages."""
    import pandas as pd

    from cloud_based_web_crawling_indexing_system_spark.functions import udfs
    from cloud_based_web_crawling_indexing_system_spark.functions.htmltext import (
        extract_links,
        extract_text_crawl,
        extract_text_index,
    )
    from cloud_based_web_crawling_indexing_system_spark.functions.robots import RobotsRules
    from cloud_based_web_crawling_indexing_system_spark.functions.stemmer import porter_stem
    from cloud_based_web_crawling_indexing_system_spark.functions.terms import (
        term_freqs,
        tokenize,
    )
    from cloud_based_web_crawling_indexing_system_spark.functions.urlnorm import (
        canonicalize_full,
        split_url,
    )

    pages = pd.read_parquet(pages_path, columns=["url", "html"])
    pages = pages.sort_values("url").sample(n=min(n_pages, len(pages)), random_state=seed)
    htmls = [h.decode("utf-8") for h in pages["html"]]
    urls = list(pages["url"])
    texts = [extract_text_crawl(h) for h in htmls]
    index_texts = [extract_text_index(t) for t in texts]
    links = [lk for h, u in zip(htmls, urls) for lk in extract_links(h, u)]
    words = sorted({w for t in index_texts for w in tokenize(t)})
    robots = pd.read_parquet(robots_path)
    rules = {r.host: RobotsRules(r.robots_txt) for r in robots.itertuples()}
    fetchable = [(rules[split_url(u)[1]], u) for u in links if split_url(u)[1] in rules]
    out = {
        "kernel.extract_text_us": _per_row_us(
            lambda h: extract_text_index(extract_text_crawl(h)), htmls),
        "kernel.extract_links_us": _per_row_us(lambda hu: extract_links(*hu),
                                               list(zip(htmls, urls))),
        "kernel.term_freqs_us": _per_row_us(term_freqs, index_texts),
        "kernel.porter_stem_us": _per_row_us(porter_stem, words),
        "kernel.can_fetch_us": _per_row_us(lambda ru: ru[0].can_fetch(ru[1]), fetchable),
        "kernel.canonicalize_us": _per_row_us(canonicalize_full, links),
    }
    html_s = pd.Series(list(pages["html"]))
    url_s = pd.Series(urls)
    text_s = pd.Series(index_texts)
    out["udf.parse_page_us"] = _per_row_us(
        lambda _: udfs.parse_page_udf.func(html_s, url_s), [None], reps=3) / len(urls)
    out["udf.term_freqs_us"] = _per_row_us(
        lambda _: udfs.term_freqs_udf.func(text_s), [None], reps=3) / len(urls)
    return out


def bloom_fp_ratio(spark, seen_df, n_seen: int, path: str, seed: int, n_probe: int = 20000) -> float:
    """False-positive share of a BloomSeen built over the crawl's final
    seen set, probed with seeded url hashes that are known to be new."""
    import hashlib

    from pyspark.sql import functions as F

    from cloud_based_web_crawling_indexing_system_spark.operators.seen import BloomSeen

    bloom = BloomSeen(spark, path)
    bloom.rebuild(seen_df.select("url_hash"), n_seen)
    rng = random.Random(f"bloom|{seed}")
    keys = [hashlib.md5(f"new-{rng.random()}-{i}".encode()).hexdigest() for i in range(n_probe)]
    seen_keys = {r[0] for r in seen_df.select("url_hash").collect()}
    keys = [k for k in keys if k not in seen_keys]
    cand = spark.createDataFrame([(k,) for k in keys], "url_hash string")
    row = bloom.prefilter(cand).agg(F.sum(F.col("_maybe_seen").cast("int"))).collect()[0]
    return float(row[0] or 0) / max(1, len(keys))
