"""The benchmark's own test: the oracle gate passes a correct crawl and
fires on corrupted outputs; BENCHMARK.json matches what run.py prints.

    python3 perfbench/selftest.py        # from the repository root

Runs one small crawl (``crawl_polite``, seed 7) and one request cycle
in a fresh session, checks that the gate counts zero failures, then
corrupts one committed texts row on disk and one search result in
memory and checks that each is counted as a failed operation.  Exits
non-zero on any miss.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import run as bench  # noqa: E402
import tracing  # noqa: E402

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def check_manifest() -> None:
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check({w["name"] for w in spec["workloads"]} == set(WORKLOADS),
          "BENCHMARK.json workloads == workloads.WORKLOADS")
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END,
          "BENCHMARK.json end_to_end == run.END_TO_END")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER,
          "BENCHMARK.json per_layer == run.PER_LAYER")


def check_helpers() -> None:
    check(tracing.covered_s([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == 3.0,
          "covered_s unions overlapping job intervals and clips to the span")
    check(tracing._size_bytes("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, 2 B)") == 1536.0,
          "SQL size metric text parses to bytes")


def check_gate() -> None:
    import measure
    from prepare import prepare
    from workloads import CYCLE, WORKLOADS

    from cloud_based_web_crawling_indexing_system_spark.api import CrawlService
    from cloud_based_web_crawling_indexing_system_spark.operators.crawl import CrawlRun

    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    cache = os.path.join(ROOT, ".perfbench")
    workload, seed = "crawl_polite", 7
    inputs = prepare(cache, workload, seed)
    with open(os.path.join(inputs, "oracle.json")) as f:
        oracle = json.load(f)
    work = os.path.join(cache, "work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = measure.build_session(work)
    try:
        pages, robots, seeds = measure.read_tables(spark, inputs)
        run = CrawlRun(spark, os.path.join(work, "crawl"), WORKLOADS[workload].cfg)
        run.init(pages, robots, seeds)
        metrics = run.run()
        _, failed, reasons = gate.compare_crawl(oracle["digests"], gate.engine_digests(run, metrics))
        check(failed == 0, f"correct crawl passes the gate ({reasons[:2]})")
        svc = CrawlService(spark, run.root, pages, robots, WORKLOADS[workload].cfg)
        cycle = oracle["queries"][: len(CYCLE)]
        results, _, errors = measure.query_loop(svc, cycle, len(cycle), 0.0)
        _, failed, reasons = gate.compare_requests(cycle, oracle["expected"], results)
        check(failed == 0 and not errors, f"engine search/suggest pass the request gate ({reasons[:2]})")

        # corrupt one committed texts row: one byte of one page's index text
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = sorted(glob.glob(os.path.join(run.root, "texts", "data", "round=*", "*.parquet")))[0]
        t = pq.read_table(path)
        col = t.column("index_text").to_pylist()
        col[0] = col[0] + "x"
        t = t.set_column(t.schema.get_field_index("index_text"), "index_text",
                         pa.array(col, t.schema.field("index_text").type))
        pq.write_table(t, path)
        # drop the Hadoop checksum sidecar, or the read fails before the gate sees the row
        os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
        _, failed, reasons = gate.compare_crawl(oracle["digests"], gate.engine_digests(run, metrics))
        check(failed == 1 and reasons[0].startswith("texts"),
              f"one corrupted texts row is one failed operation ({reasons[:1]})")

        # a crawl that dropped its last round fails that round
        _, failed, _ = gate.compare_crawl(oracle["digests"], gate.engine_digests(run, metrics[:-1]))
        check(failed >= 1, "a missing round is counted as failed")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    queries, expected = oracle["queries"], oracle["expected"]
    _, failed, _ = gate.compare_requests(queries, expected, expected)
    check(failed == 0, "oracle answers pass the request gate")
    bad = [list(r) for r in expected]
    i = next(i for i, q in enumerate(queries) if q["kind"] != "suggest" and expected[i])
    bad[i] = [[u, f + 1] for u, f in expected[i]]
    _, failed, _ = gate.compare_requests(queries, expected, bad)
    check(failed == 1, "one corrupted search result is one failed operation")
    _, failed, _ = gate.compare_requests(queries, expected, [None] + expected[1:])
    check(failed == 1, "a request that raised is one failed operation")


def main() -> None:
    check_manifest()
    check_helpers()
    check_gate()
    if FAILURES:
        sys.exit(f"{len(FAILURES)} self-test check(s) failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
