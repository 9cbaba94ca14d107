"""Workload definitions: corpus shape, crawl config and query mix.

Every input is a pure function of (workload, seed); the program only
ever sees the generated tables.  The sizes are chosen so that one
untraced run (cold session, warm-up, one timed crawl, the oracle gate)
finishes in about a minute at local[4]: the benchmark's whole schedule
of runs has to fit in one hour.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from cloud_based_web_crawling_indexing_system_spark.oracle import CrawlConfig


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # keyword arguments of sources.fixtures.write_corpus(scale="small");
    # the crawl is submitted as one domain job per host root (depth 5),
    # so each round sums many hosts' independent link draws and the
    # work per crawl barely moves with the seed
    corpus: dict
    cfg: CrawlConfig

    def size_key(self) -> str:
        parts = [f"{k}={self.corpus[k]}" for k in sorted(self.corpus)] + [repr(self.cfg)]
        return "-".join(str(p).replace(" ", "") for p in parts)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_bulk",
            why=(
                "open budget, bloom and compaction off, ~360 URLs a round: fetch/parse/index "
                "path without admit/defer; traced, the round floor (driver ~2 s/round, "
                "frontier write) dominates, UDF work 4-7%"
            ),
            corpus=dict(n_hosts=30, n_pages=2000),
            cfg=CrawlConfig(round_budget_s=1e9, max_rounds=2),
        ),
        Workload(
            name="crawl_polite",
            why=(
                "binding budget (about half the due URLs deferred), bloom on from round 0, "
                "compaction at round 1: the per-round floor (planning, jobs, admit/defer, "
                "frontier write, bloom, compaction) dominates"
            ),
            corpus=dict(n_hosts=30, n_pages=1200),
            # compacting every 2nd round: round 1 writes the postings and seen
            # checkpoints, round 2 leaves a one-round delta tail for search
            cfg=CrawlConfig(round_budget_s=10.0, bloom_min_seen=1, max_rounds=3,
                            compact_every=2),
        ),
    )
}

# the warm-up crawls a different, fixed tiny corpus with the same job
# shape and config, capped at WARM_ROUNDS rounds: round 1 reads a
# Spark-written frontier, so every core's Python worker starts in the
# warm-up instead of inside the timed crawl
WARM_CORPUS = dict(scale="tiny", seed=90210)
WARM_ROUNDS = 2
# query-loop cycle: one request of each kind, in this order
CYCLE = ("head", "and", "or", "not", "phrase", "tail", "suggest")
N_CYCLES = 12


def make_queries(workload: str, seed: int, texts: dict[str, bytes]) -> list[dict]:
    """Seeded request list over the corpus' own vocabulary: head words
    (highest document frequency), tail words (lowest), adjacent word
    pairs for phrases, and prefixes/typos for suggest."""
    from cloud_based_web_crawling_indexing_system_spark.functions.terms import tokenize

    rng = random.Random(f"{workload}|{seed}|queries")
    df: dict[str, int] = {}
    pairs: set[tuple[str, str]] = set()
    for url in sorted(texts):
        toks = tokenize(texts[url].decode("utf-8"))
        for w in set(toks):
            df[w] = df.get(w, 0) + 1
        if len(pairs) < 5000:
            pairs.update(zip(toks, toks[1:]))
    words = sorted(df, key=lambda w: (-df[w], w))
    alpha = [w for w in words if w.isalpha() and w not in ("and", "or", "not")]
    head = alpha[:10]
    tail = alpha[-20:]
    pair_list = sorted(pairs)
    out = []
    for c in range(N_CYCLES):
        for kind in CYCLE:
            if kind == "head":
                q = rng.choice(head)
            elif kind == "and":
                a, b = rng.sample(head, 2)
                q = f"{a} and {b}" if rng.random() < 0.5 else f"{a} {b}"
            elif kind == "or":
                q = f"{rng.choice(head)} or {rng.choice(tail)}"
            elif kind == "not":
                a, b = rng.sample(head, 2)
                q = f"{a} not {b}"
            elif kind == "phrase":
                a, b = rng.choice(pair_list)
                q = f'"{a} {b}"'
            elif kind == "tail":
                q = rng.choice(tail)
            elif kind == "suggest":
                w = rng.choice(head)
                if rng.random() < 0.5:
                    q = w[: max(2, len(w) // 2)]
                else:  # one-character typo: Levenshtein fallback path
                    i = rng.randrange(len(w))
                    q = w[:i] + "x" + w[i + 1:]
            else:
                raise ValueError(kind)
            out.append({"cycle": c, "kind": kind, "q": q})
    return out
