"""Input preparation, run in its own process before any timing starts.

Generates a workload's corpus from its seed, the fixed warm-up corpus,
the seeded request list, and the oracle digests, and caches them under
``<cache>/inputs/<workload>-s<seed>-<size>/``.  A complete entry holds a
``DONE`` marker, so a later run with the same (workload, seed, size)
reuses it.  Nothing here is counted in ``setup_s``.

    python3 perfbench/prepare.py --workload crawl_polite --seed 1 --cache .perfbench
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gate  # noqa: E402
from workloads import WARM_CORPUS, WORKLOADS, make_queries  # noqa: E402


def input_dir(cache: str, workload: str, seed: int) -> str:
    w = WORKLOADS[workload]
    key = hashlib.sha256(w.size_key().encode()).hexdigest()[:10]
    return os.path.join(cache, "inputs", f"{workload}-s{seed}-{key}")


def warm_dir(cache: str) -> str:
    return os.path.join(cache, "inputs", f"warm-{WARM_CORPUS['scale']}-s{WARM_CORPUS['seed']}-hostjobs")


def write_host_jobs(d: str, seed: int, depth: int = 5) -> None:
    """Replace the corpus' seeds table by one domain job per host root."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cloud_based_web_crawling_indexing_system_spark.sources.fixtures import _EPOCH

    robots = pq.read_table(os.path.join(d, "robots.parquet")).column("host").to_pylist()
    pages = pq.read_table(os.path.join(d, "pages.parquet"), columns=["url"]).column("url")
    hosts = sorted({u.split("/")[2] for u in pages.to_pylist()} | set(robots))
    n = len(hosts)
    table = pa.table({
        "job_id": [str(uuid.UUID(int=seed * 100_000 + i)) for i in range(n)],
        "seed_url": [f"http://{h}/" for h in hosts],
        "depth_limit": pa.array([depth] * n, pa.int32()),
        "domain": [True] * n,
        "seed_idx": pa.array(range(n), pa.int32()),
        "created_at": pa.array([_EPOCH] * n, pa.timestamp("us")),
    })
    pq.write_table(table, os.path.join(d, "seeds.parquet"))


def prepare(cache: str, workload: str, seed: int) -> str:
    import pandas as pd

    from cloud_based_web_crawling_indexing_system_spark.oracle import crawl_oracle
    from cloud_based_web_crawling_indexing_system_spark.sources.fixtures import write_corpus

    wd = warm_dir(cache)
    if not os.path.exists(os.path.join(wd, "DONE")):
        shutil.rmtree(wd, ignore_errors=True)
        write_corpus(wd, **WARM_CORPUS)
        write_host_jobs(wd, WARM_CORPUS["seed"])
        open(os.path.join(wd, "DONE"), "w").close()

    w = WORKLOADS[workload]
    d = input_dir(cache, workload, seed)
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    write_corpus(d, scale="small", seed=seed, **w.corpus)
    write_host_jobs(d, seed)
    t_gen = time.time() - t0

    t0 = time.time()
    pages = pd.read_parquet(os.path.join(d, "pages.parquet"))
    robots = pd.read_parquet(os.path.join(d, "robots.parquet"))
    seeds = pd.read_parquet(os.path.join(d, "seeds.parquet"))
    res = crawl_oracle(pages, robots, seeds, w.cfg)
    queries = make_queries(workload, seed, res.texts)
    doc = {
        "workload": workload,
        "seed": seed,
        "size": w.size_key(),
        "digests": gate.oracle_digests(res),
        "queries": queries,
        "expected": gate.expected_results(res, queries),
    }
    with open(os.path.join(d, "oracle.json"), "w") as f:
        json.dump(doc, f)
    open(os.path.join(d, "DONE"), "w").close()
    print(f"prepared {workload} seed={seed}: generate {t_gen:.1f}s, oracle "
          f"{time.time() - t0:.1f}s, {doc['digests']['rounds']} rounds, "
          f"{doc['digests']['fetched']} urls", flush=True)
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cache", required=True)
    a = ap.parse_args()
    prepare(a.cache, a.workload, a.seed)


if __name__ == "__main__":
    main()
