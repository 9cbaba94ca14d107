"""Oracle-digest correctness gate.

The sequential oracle (``oracle.crawl_oracle`` / ``search_oracle``) is
run once per (workload, seed) and reduced to digests that are cached
next to the inputs.  Every benchmark run reduces the engine's committed
tables to the same digests, outside the timed sections, and counts
each mismatch as a failed operation:

- one operation per crawl round: that round's frontier rows in
  canonical order, the seen rows first claimed in it, and its metric
  counters (the URLs discovered in the last round are claimed for the
  round after it, which is checked as one more operation);
- two whole-crawl operations: the texts table (url + index_text bytes)
  and the postings state (term, job_id, url, frequency);
- one operation per search or suggest request: its result list.

Texts and postings are digested as (row count, sum of a 40-bit prefix
of each row's SHA-256), which Spark computes without collecting the
table and Python reproduces byte for byte.
"""

from __future__ import annotations

import hashlib
import json

SEP = "\x1f"
ROUND_KEYS = ("n_in", "n_blocked", "n_deferred", "n_fetched", "n_missed",
              "n_failed", "n_disc", "n_new", "n_indexed", "n_postings")
FRONTIER_COLS = ("job_id", "url", "url_hash", "host", "depth", "tries")


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode("utf-8")).hexdigest()


def row_hash40(data: bytes) -> int:
    return int(hashlib.sha256(data).hexdigest()[:10], 16)


def frontier_digests(rows) -> dict[str, str]:
    """rows: dicts with 'round' + FRONTIER_COLS -> {round: digest} in
    the oracle's canonical (host_hash31, depth, url) order."""
    from cloud_based_web_crawling_indexing_system_spark.functions.urlnorm import host_hash31

    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(int(r["round"]), []).append(
            [r[c] if c not in ("depth", "tries") else int(r[c]) for c in FRONTIER_COLS]
        )
    out = {}
    for rnd, rs in by_round.items():
        rs.sort(key=lambda x: (host_hash31(x[3]), x[4], x[1]))
        out[str(rnd)] = _sha(rs)
    return out


def seen_digests(items) -> dict[str, str]:
    """items: (url_hash, url, first_round) -> {first_round: digest}."""
    by_round: dict[int, list] = {}
    for h, url, rnd in items:
        by_round.setdefault(int(rnd), []).append([h, url])
    return {str(r): _sha(sorted(v)) for r, v in by_round.items()}


def round_counters(metrics) -> dict[str, list]:
    return {str(int(m["round"])): [int(m[k]) for k in ROUND_KEYS] for m in metrics}


def bag_digest(rows_bytes) -> list[int]:
    n = s = 0
    for b in rows_bytes:
        n += 1
        s += row_hash40(b)
    return [n, s]


# -- oracle side -------------------------------------------------------------


def oracle_digests(res) -> dict:
    """OracleResult -> the cached digest document."""
    post: dict[tuple, int] = {}
    for p in res.postings:
        k = (p["term"], p["job_id"], p["url"])
        post[k] = post.get(k, 0) + int(p["frequency"])
    return {
        "frontier": frontier_digests(res.frontier_log),
        "seen": seen_digests((h, u, r) for h, (u, r) in res.seen.items()),
        "counters": round_counters(res.metrics),
        "texts": bag_digest(url.encode("utf-8") + SEP.encode() + t for url, t in res.texts.items()),
        "postings": bag_digest(
            SEP.join((t, j, u, str(f))).encode("utf-8") for (t, j, u), f in post.items()
        ),
        "rounds": len(res.metrics),
        "fetched": sum(int(m["n_fetched"]) for m in res.metrics),
    }


def suggest_oracle(vocab: dict[str, int], raw: str, k: int = 5) -> list[str]:
    """Python statement of ``suggest_terms``: unigram vocabulary,
    prefix matches first, then collection frequency, then term; typo
    tolerance Levenshtein <= 2 within a +-2 length window."""
    q = (raw or "").strip().lower()
    if not q:
        return []

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    cands = []
    for t, f in vocab.items():
        pfx = t.startswith(q)
        if pfx or (abs(len(t) - len(q)) <= 2 and lev(t, q) <= 2):
            cands.append((-int(pfx), -f, t))
    cands.sort()
    return [t for _, _, t in cands[:k]]


def expected_results(res, queries: list[dict], limit: int = 50) -> list:
    """Oracle answer for each request: [[url, freq], ...] top-``limit``
    for search, [term, ...] for suggest."""
    from cloud_based_web_crawling_indexing_system_spark.oracle import parse_query, search_oracle

    by_term: dict[str, list] = {}
    vocab: dict[str, int] = {}
    for p in res.postings:
        by_term.setdefault(p["term"], []).append(p)
        if " " not in p["term"]:
            vocab[p["term"]] = vocab.get(p["term"], 0) + int(p["frequency"])
    out = []
    for q in queries:
        if q["kind"] == "suggest":
            out.append(suggest_oracle(vocab, q["q"]))
            continue
        terms, _, ex = parse_query(q["q"])
        # search_oracle only reads rows whose term is queried, so the
        # pre-filter keeps its answer and skips the full postings scan
        rows = [p for t in set(terms) | set(ex) for p in by_term.get(t, ())]
        out.append([[u, int(f)] for u, f in search_oracle(rows, q["q"])[:limit]])
    return out


# -- engine side ---------------------------------------------------------------


def _spark_bag_digest(df, *cols) -> list[int]:
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.sha2(F.concat_ws(SEP, *cols), 256), 1, 10), 16, 10).cast("long")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return [int(row["n"]), int(row["s"] or 0)]


def engine_digests(run, metrics: list[dict]) -> dict:
    """A finished CrawlRun's committed tables -> the same digests."""
    from pyspark.sql import functions as F

    # a crawl capped by max_rounds commits the unprocessed next frontier,
    # which the oracle does not log
    fr = (run.frontier_log_df().where(f"round < {len(metrics)}")
          .select("round", *FRONTIER_COLS).collect())
    seen = run.seen_df().select("url_hash", "url", "first_round").collect()
    texts = run.texts_df()
    postings = run.postings_df()
    return {
        "frontier": frontier_digests(r.asDict() for r in fr),
        "seen": seen_digests((r["url_hash"], r["url"], r["first_round"]) for r in seen),
        "counters": round_counters(metrics),
        "texts": _spark_bag_digest(texts, F.col("url"), F.col("index_text")),
        "postings": _spark_bag_digest(
            postings, "term", "job_id", "url", F.col("frequency").cast("string")
        ),
        "rounds": len(metrics),
        "fetched": sum(int(m["n_fetched"]) for m in metrics),
    }


def compare_crawl(expected: dict, got: dict) -> tuple[int, int, list[str]]:
    """-> (attempted, failed, reasons) over the crawl's operations."""
    reasons = []
    rounds = sorted({int(r) for d in (expected, got)
                     for part in ("frontier", "seen", "counters") for r in d[part]})
    failed = 0
    for r in rounds:
        k = str(r)
        bad = [part for part in ("frontier", "seen", "counters")
               if expected[part].get(k) != got[part].get(k)]
        if bad:
            failed += 1
            reasons.append(f"round {r}: {','.join(bad)} differ from the oracle")
    for part in ("texts", "postings"):
        if list(expected[part]) != list(got[part]):
            failed += 1
            reasons.append(f"{part}: digest {got[part]} != oracle {expected[part]}")
    return len(rounds) + 2, failed, reasons


def compare_requests(queries: list[dict], expected: list, got: list) -> tuple[int, int, list[str]]:
    reasons = []
    failed = 0
    for i, (q, g) in enumerate(zip(queries, got)):
        if g is None or g != expected[i]:
            failed += 1
            reasons.append(f"request {i} {q['kind']} {q['q']!r}: result differs from the oracle")
    return len(got), failed, reasons
