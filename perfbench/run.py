"""Crawl benchmark of the PySpark crawl engine (search traced per layer).

    python3 perfbench/run.py --workload crawl_bulk|crawl_polite --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Each run:

1. prepares the seed's inputs and oracle digests in a separate process
   (cached under ``.perfbench/inputs``; see ``prepare.py``);
2. starts one fresh measuring process (``measure.py``) and samples the
   resident memory of its whole process tree (Python driver, JVM,
   Python workers) every 250 ms;
3. prints informational lines, then as the last line one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``.

An untraced run times one whole crawl, however long it takes;
``--seconds`` sets the length of the query loop of a traced run.

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` they are the per-layer ones of a traced process, plus
``trace.overhead_ratio``: the traced crawl's wall time over the same
wall minus the tracer's own status-store reads, so the untraced cost is
estimated inside the same process and never from another run or
revision.  End-to-end numbers never come from a traced process.

The process exits non-zero, without a result line, when the program
is not present next to the benchmark or a step fails to finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
PACKAGE = "cloud_based_web_crawling_indexing_system_spark"
DEADLINE_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "crawl_urls_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "crawl.step_s": "s",
    "crawl.driver_s": "s",
    "crawl.jobs": "count",
    "crawl.stages": "count",
    "crawl.tasks": "count",
    "crawl.executor_run_s": "s",
    "crawl.executor_cpu_s": "s",
    "crawl.gc_s": "s",
    "crawl.shuffle_write_mb": "MB",
    "crawl.shuffle_read_mb": "MB",
    "crawl.spill_mb": "MB",
    "crawl.python_out_mb": "MB",
    "crawl.python_in_mb": "MB",
    "lake.write_s.frontier": "s",
    "lake.write_s.seen": "s",
    "lake.write_s.postings": "s",
    "lake.write_s.texts": "s",
    "lake.write_s.postings_state": "s",
    "lake.write_s.seen_state": "s",
    "lake.bytes_per_url": "B",
    "seen.bloom_add_s": "s",
    "seen.bloom_generations": "count",
    "seen.bloom_fp_ratio": "ratio",
    "politeness.deferred_ratio": "ratio",
    "kernel.extract_text_us": "us",
    "kernel.extract_links_us": "us",
    "kernel.term_freqs_us": "us",
    "kernel.porter_stem_us": "us",
    "kernel.can_fetch_us": "us",
    "kernel.canonicalize_us": "us",
    "udf.parse_page_us": "us",
    "udf.term_freqs_us": "us",
    "search.build_ms": "ms",
    "search.exec_ms": "ms",
    "search.jobs": "count",
    "search.bytes_read": "B",
    "search.rows_read_per_result": "rows",
    "suggest.exec_ms": "ms",
    "anchor.jvm_s": "s",
    "anchor.py_s": "s",
    "anchor.jvm_post_s": "s",
    "anchor.py_post_s": "s",
    "trace.overhead_ratio": "ratio",
}


class TreeSampler(threading.Thread):
    """Peak summed proportional set size (PSS) of a process and all its
    descendants.  PSS splits each shared page between the processes that
    map it, so Python workers forked from one daemon are not counted
    once per fork as a plain RSS sum would.  The JVM shares no pages with
    the rest of the tree, so its RSS is its PSS; it is read from
    ``status``, because ``smaps_rollup`` walks a multi-GB JVM's page
    tables under its mmap lock (about 20 ms at 1 GB resident) on every
    sample."""

    def __init__(self, pid: int, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak_b = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def _tree(self) -> list[tuple[int, bool, bool]]:
        """[(pid, is a JVM, parent is a JVM)] for the sampled tree."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [(self.pid, False)]
        while todo:
            p, jvm_parent = todo.pop()
            try:
                # the executable belongs to the address space: a child the
                # JVM forked still reads as java until it execs
                jvm = os.readlink(f"/proc/{p}/exe").endswith("/java")
            except OSError:
                continue
            out.append((p, jvm, jvm_parent))
            todo.extend((c, jvm) for c in children.get(p, ()))
        return out

    def run(self) -> None:
        while not self._halt.is_set():
            total = 0
            for p, jvm, jvm_parent in self._tree():
                if jvm and jvm_parent:
                    # the JVM spawning a Python worker: the child shares or
                    # copies the JVM's memory until it execs
                    continue
                try:
                    with open(f"/proc/{p}/status" if jvm else f"/proc/{p}/smaps_rollup") as f:
                        key = "VmRSS:" if jvm else "Pss:"
                        total += next(int(ln.split()[1]) for ln in f
                                      if ln.startswith(key)) * 1024
                    self.seen.add(p)
                except (OSError, IndexError, ValueError, StopIteration):
                    pass
            self.peak_b = max(self.peak_b, total)
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _reap(pids) -> None:
    """Kill and wait for every process of a finished step that is still alive."""
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    give_up = time.monotonic() + 30
    for p in alive:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < give_up:
            try:
                if os.waitpid(p, os.WNOHANG) != (0, 0):
                    break
            except ChildProcessError:
                # not our child: wait for its parent to reap it
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def _child(args: list[str], deadline: float) -> tuple[int, TreeSampler]:
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
               PYTHONHASHSEED="0", TMPDIR=os.path.join(CACHE, "tmp"))
    # executors must run the same interpreter as the driver
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.makedirs(env["TMPDIR"], exist_ok=True)
    proc = subprocess.Popen([sys.executable, *args], cwd=ROOT, env=env,
                            start_new_session=True)
    sampler = TreeSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        code = proc.wait()
    sampler.stop()
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except OSError:
        pass
    _reap(sampler.seen - {proc.pid})
    return code, sampler


def _measure(a, trace: int, inputs: str, warm: str, deadline: float) -> tuple[dict, float]:
    work = os.path.join(CACHE, "work", f"{os.getpid()}-{trace}")
    out = os.path.join(work, "result.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, sampler = _child(
            [os.path.join(HERE, "measure.py"), "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(trace), "--inputs", inputs,
             "--warm", warm, "--work", work, "--out", out], deadline)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"measuring process failed (exit code {code})")
        with open(out) as f:
            doc = json.load(f)
        if trace:
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            path = os.path.join(CACHE, "traces", f"{a.workload}-s{a.seed}.json")
            with open(path, "w") as f:
                json.dump(doc.pop("spans"), f)
            print(f"spans written to {os.path.relpath(path, ROOT)}", flush=True)
        return doc, sampler.peak_b / (1 << 20)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from prepare import input_dir, warm_dir
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        sys.exit(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")

    inputs = input_dir(CACHE, a.workload, a.seed)
    if not os.path.exists(os.path.join(inputs, "DONE")):
        # input generation is off the clock: the first run of a checkout
        # may take longer than DEADLINE_S here
        code, _ = _child([os.path.join(HERE, "prepare.py"), "--workload", a.workload,
                          "--seed", str(a.seed), "--cache", CACHE], time.monotonic() + 900)
        if code != 0:
            sys.exit(f"input preparation failed (exit code {code})")
        deadline = time.monotonic() + DEADLINE_S
    warm = warm_dir(CACHE)

    if a.trace:
        traced, _ = _measure(a, 1, inputs, warm, deadline)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "traced": True,
                          **traced["info"]}), flush=True)
        values = dict(traced["layers"])
        names = PER_LAYER
        correct, attempted, failed = traced["correct"], traced["attempted"], traced["failed"]
    else:
        base, peak_mb = _measure(a, 0, inputs, warm, deadline)
        print(json.dumps({"workload": a.workload, "seed": a.seed, **base["info"]}), flush=True)
        values = dict(base["e2e"], peak_rss_mb=peak_mb)
        names = END_TO_END
        correct, attempted, failed = base["correct"], base["attempted"], base["failed"]
    missing = sorted(set(names) - set(values))
    if missing:
        sys.exit(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
    }))


if __name__ == "__main__":
    main()
