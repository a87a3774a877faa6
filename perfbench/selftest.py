"""Self-test of the benchmark's own checks, on tiny corpora.

    python3 perfbench/selftest.py

1. The SQL-metric parser on value strings as Spark prints them.
2. ``verify`` counts a missing, repeated, unexpected or altered url once
   each.
3. For every workload, a tiny corpus of the same shape goes through the
   workload's entry point and its output check: zero failures. Then one
   oracle digest is altered and the same output must fail exactly one url,
   which shows the check can fail.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import reaper  # noqa: E402
import run  # noqa: E402
from ledger import parse_metric  # noqa: E402

TINY_DOCS = 48


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_parse_metric() -> None:
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "8.1 s (243 ms, 490 ms, 861 ms (stage 14.0: task 62))")
    check(abs(m["total"] - 8.1) < 1e-9 and abs(m["med"] - 0.49) < 1e-9
          and abs(m["max"] - 0.861) < 1e-9 and m["stage"] == 14, "timing breakdown")
    m = parse_metric("2024.4 KiB (161.5 KiB, 238.4 KiB, 928.5 KiB (stage 96.0: task 269))")
    check(abs(m["total"] - 2024.4 * 1024) < 1e-6 and abs(m["min"] - 161.5 * 1024) < 1e-6,
          "size breakdown")
    check(parse_metric("1,500")["total"] == 1500, "count with separator")
    check(abs(parse_metric("13 ms")["total"] - 0.013) < 1e-12, "plain timing")
    check(abs(parse_metric("2.5 m")["total"] - 150.0) < 1e-9, "minutes")
    check(parse_metric("0.0 B")["total"] == 0.0, "zero size")


def test_verify() -> None:
    oracle = {"a": ["d1", 2, "1.0.0"], "b": ["d2", 1, "1.0.0"], "c": ["d3", 0, "1.0.0"]}
    good = [("a", "d1", 2, "1.0.0"), ("b", "d2", 1, "1.0.0"), ("c", "d3", 0, "1.0.0")]
    check(run.verify(good, oracle)["failed"] == 0, "verify: exact output passes")
    cases = {
        "missing url": good[:2],
        "repeated url": good + [good[0]],
        "unexpected url": good + [("z", "d1", 2, "1.0.0")],
        "altered text": [good[0], ("b", "dX", 1, "1.0.0"), good[2]],
        "altered n_blocks": [good[0], ("b", "d2", 9, "1.0.0"), good[2]],
        "altered version": [good[0], ("b", "d2", 1, "1.1.0"), good[2]],
    }
    for what, rows in cases.items():
        check(run.verify(rows, oracle)["failed"] == 1, f"verify: {what} fails once")


def test_workloads() -> None:
    import corpus as corpus_mod

    k = min(2, len(os.sched_getaffinity(0)))
    run.configure_env()
    cache = os.path.join(run.WORK, "selftest")
    session = run.Session(k)
    try:
        for name in run.WORKLOADS:
            corpus = corpus_mod.ensure_corpus(ROOT, cache, name, 7, k, docs=TINY_DOCS)
            wl = run.Workload(name, session.spark, corpus)
            out = wl.action()
            res = wl.check(out)
            check(res["failed"] == 0 and res["attempted"] == len(corpus["oracle"])
                  and res.get("job_consistent", True), f"{name}: tiny corpus matches oracle")
            url = sorted(corpus["oracle"])[0]
            corpus["oracle"][url] = ["0" * 64] + corpus["oracle"][url][1:]
            res = wl.check(out)
            check(res["failed"] == 1, f"{name}: one altered digest fails one url")
    finally:
        session.close()
        shutil.rmtree(os.environ["SPARKDU_LOCAL_DIR"], ignore_errors=True)
        shutil.rmtree(os.path.join(run.WORK, f"job-{os.getpid()}"), ignore_errors=True)


if __name__ == "__main__":
    reaper.run_supervised(__file__)
    test_parse_metric()
    test_verify()
    test_workloads()
    print("selftest passed")
