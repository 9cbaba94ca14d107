"""One measured run, in a fresh process: set-up, timed sections, gate.

    python3 perfbench/measure.py --workload W --seed N --seconds S \\
        --trace 0|1 --inputs DIR --warm DIR --work DIR --out result.json

Order of events:

1. start-up: import the program, build the pinned session, run one
   trivial job;
2. set-up: one warm-up unit, ``CrawlRun.init`` + ``WARM_ROUNDS``
   rounds on a fixed tiny corpus with the workload's crawl config;
   ``setup_s`` = start-up + warm-up;
3. JVM and pure-Python anchors (no program code);
4. timed crawl: ``CrawlRun.init`` to drain, exactly once;
5. with ``--trace 1`` only: two untimed warm-up requests, then a
   closed-loop query client over the crawl's index, whole request
   cycles (``CrawlService.search`` x6, ``suggest`` x1) until
   ``--seconds`` have passed;
6. anchors again, then the oracle gate (untimed);
7. with ``--trace 1`` the spans and status-store totals of sections 4-5
   become the per-layer metrics, plus kernel costs and the bloom
   false-positive ratio, all measured after the gate, and
   ``trace.overhead_ratio``: the traced crawl's wall over that wall
   minus the tracer's own time in it.

The result document is written to ``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gate  # noqa: E402
from workloads import CYCLE, WARM_ROUNDS, WORKLOADS  # noqa: E402

def session_conf(work: str) -> dict[str, str]:
    """The pinned session: fits a 4-core, 15 GB machine and ignores the
    program's environment-driven defaults."""
    n = max(1, min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # a reserved heap and a fixed young generation keep G1 from resizing
        # either by GC timing; leaving the heap untouched keeps resident
        # memory equal to the regions the program has used
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def build_session(work: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(work).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_anchor(spark) -> float:
    """Fixed JVM-only job: no program code can move it."""
    t0 = time.perf_counter()
    spark.range(8_000_000).selectExpr("sum(xxhash64(id) % 1000000)").collect()
    return time.perf_counter() - t0


def py_anchor() -> float:
    """Fixed pure-Python loop: no program code can move it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(120_000):
        acc ^= int(hashlib.md5(f"anchor-{i}".encode()).hexdigest()[:8], 16)
    return time.perf_counter() - t0


def read_tables(spark, d: str):
    return (os.path.join(d, "pages.parquet"),
            spark.read.parquet(os.path.join(d, "robots.parquet")),
            spark.read.parquet(os.path.join(d, "seeds.parquet")))


def warm_unit(spark, w, warm_dir: str, root: str) -> float:
    from cloud_based_web_crawling_indexing_system_spark.operators.crawl import CrawlRun

    t0 = time.perf_counter()
    pages, robots, seeds = read_tables(spark, warm_dir)
    run = CrawlRun(spark, root, w.cfg)
    run.init(pages, robots, seeds)
    run.run(max_rounds=WARM_ROUNDS)
    return time.perf_counter() - t0


def query_loop(svc, queries: list[dict], cycle_len: int, seconds: float):
    """Closed loop, one client: whole request cycles until ``seconds``
    have passed.  -> (results, [(kind, latency_s)], errors)."""
    results, lat, errors = [], [], []
    t_loop = time.perf_counter()
    for i, q in enumerate(queries):
        if i % cycle_len == 0 and i and time.perf_counter() - t_loop >= seconds:
            break
        t1 = time.perf_counter()
        try:
            if q["kind"] == "suggest":
                res = svc.suggest(q["q"])
            else:
                res = [[r["pageUrl"], int(r["frequency"])] for r in svc.search(q["q"], limit=50)]
        except Exception as e:
            res = None
            errors.append(f"request {i} raised {type(e).__name__}: {e}")
        lat.append((q["kind"], time.perf_counter() - t1))
        results.append(res)
    return results, lat, errors


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--warm", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    os.makedirs(os.path.join(a.work, "tmp"), exist_ok=True)

    # -- start-up + set-up ----------------------------------------------------
    import cloud_based_web_crawling_indexing_system_spark  # noqa: F401
    from cloud_based_web_crawling_indexing_system_spark.api import CrawlService
    from cloud_based_web_crawling_indexing_system_spark.operators.crawl import CrawlRun

    spark = build_session(a.work)
    spark.range(1).count()
    startup_s = time.perf_counter() - T_START
    conf = {k: spark.conf.get(k) for k in session_conf(a.work) if not k.startswith("spark.driver.")}
    conf["spark.driver.memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
    print(json.dumps({"nproc": os.cpu_count(), "session": conf}), flush=True)

    warm_s = warm_unit(spark, w, a.warm, os.path.join(a.work, "warm"))
    setup_s = startup_s + warm_s
    with open(os.path.join(a.inputs, "oracle.json")) as f:
        oracle = json.load(f)
    anchors = {"anchor.jvm_s": jvm_anchor(spark), "anchor.py_s": py_anchor()}

    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()

    # -- timed crawl: init() to drain ---------------------------------------------
    root = os.path.join(a.work, "crawl")
    pages, robots, seeds = read_tables(spark, a.inputs)
    errors: list[str] = []
    metrics: list[dict] = []
    run = CrawlRun(spark, root, w.cfg)
    t0 = time.perf_counter()
    try:
        run.init(pages, robots, seeds)
        metrics = run.run()
    except Exception as e:  # a raising round fails the crawl's operations
        errors.append(f"crawl raised {type(e).__name__}: {e}")
    crawl_s = time.perf_counter() - t0
    tracer_s = tracer.self_s if tracer else 0.0
    fetched = sum(int(m["n_fetched"]) for m in metrics)

    # -- traced query loop over the crawl's index ------------------------------------
    lat: list = []
    if tracer:
        svc = CrawlService(spark, root, pages, robots, w.cfg)
        tracer.uninstall()
        svc.search("data engine")  # untimed, untraced warm-up requests
        svc.suggest("runn")
        tracer.install()
        results, lat, req_errors = query_loop(svc, oracle["queries"], len(CYCLE), a.seconds)
        errors += req_errors
        tracer.uninstall()
    anchors["anchor.jvm_post_s"] = jvm_anchor(spark)
    anchors["anchor.py_post_s"] = py_anchor()

    # -- oracle gate (untimed) ---------------------------------------------------------
    t_gate = time.perf_counter()
    crawl_ops = len(oracle["digests"]["counters"]) + 2
    try:
        got = gate.engine_digests(run, metrics)
        attempted, failed, reasons = gate.compare_crawl(oracle["digests"], got)
    except Exception as e:
        attempted, failed = crawl_ops, crawl_ops
        reasons = [f"crawl tables unreadable: {type(e).__name__}: {e}"]
    if tracer:
        n, f, r = gate.compare_requests(oracle["queries"], oracle["expected"], results)
        attempted, failed, reasons = attempted + n, failed + f, reasons + r
    gate_s = time.perf_counter() - t_gate
    for r in (errors + reasons)[:20]:
        print("FAILED:", r, flush=True)

    doc = {
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "crawl_urls_per_s": fetched / crawl_s if crawl_s > 0 else 0.0,
        },
        "info": {
            "startup_s": startup_s, "warm_s": warm_s, "crawl_s": crawl_s,
            "rounds": len(metrics), "urls_fetched": fetched, "gate_s": gate_s,
            "tracer_s": tracer_s, **anchors,
        },
    }

    if tracer:
        from pyspark.sql import functions as F
        from tracing import bloom_fp_ratio, kernel_metrics, layer_metrics

        search_ms = [s * 1e3 for k, s in lat if k != "suggest"]
        doc["info"].update(search_requests=len(search_ms),
                           search_p50_ms=statistics.median(search_ms) if search_ms else None)
        n_results = [len(r or []) for (k, _), r in zip(lat, results) if k != "suggest"]
        layers = layer_metrics(tracer, n_results, len(metrics))
        totals = {r["key"]: r["v"] for r in run.metrics_df().where("stage = 'round'")
                  .groupBy("key").agg(F.sum("value").alias("v")).collect()}
        layers["politeness.deferred_ratio"] = (
            totals.get("n_deferred", 0) / max(1, totals.get("n_in", 0)))
        du = sum(os.path.getsize(os.path.join(dp, f))
                 for dp, _, fs in os.walk(root) for f in fs)
        layers["lake.bytes_per_url"] = du / max(1, fetched)
        seen_df = run.seen_df()
        layers["seen.bloom_fp_ratio"] = bloom_fp_ratio(
            spark, seen_df, seen_df.count(), os.path.join(a.work, "bloom_probe"), a.seed)
        layers.update(kernel_metrics(pages, os.path.join(a.inputs, "robots.parquet"), a.seed))
        layers.update(anchors)
        layers["trace.overhead_ratio"] = crawl_s / max(1e-9, crawl_s - tracer_s)
        doc["layers"] = layers
        doc["spans"] = tracer.spans

    spark.stop()
    with open(a.out, "w") as f:
        json.dump(doc, f)
    shutil.rmtree(os.path.join(a.work, "tmp"), ignore_errors=True)


if __name__ == "__main__":
    main()
