"""Extraction benchmark: two workloads through the public entry points.

    python3 perfbench/run.py --workload flagship_skew --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Workloads:

- ``flagship_skew``: ``api.extract_pages`` (rule-only) to the ``noop`` sink
  over a corpus with mega-pages, one page over the 8 MiB cap and a 2% tail
  of re-captured urls.
- ``job_waves``: ``lineage.run_extract_job`` with the clf_v3 model, 64
  partition keys and 8 waves, into a fresh output directory per iteration.

One process runs Spark ``local[k]``, k = min(4, nproc), as the child of an
outer process that stops and reaps every process left under it when the
child ends (``reaper.py``). After set-up and an
untimed check of every url against the oracle's digest, the action repeats
until ``--seconds`` of timed work have passed. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` alternates untraced and traced iterations
and prints the per-module ledger. The last stdout line is one JSON object;
a ``{"config": ...}`` line before it records host, versions and corpus.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import reaper

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("flagship_skew", "job_waves")
DRIVER_MEM = "1g"
WARM_ROWS = 64
WARM_WAVES = 2  # waves of the untimed job run before the timed window


def since_start() -> float:
    """Seconds since the outer (supervising) process started: the start
    time it passes down in ``PERFBENCH_T0``, else this process's own age."""
    t0 = os.environ.get(reaper.T0_ENV)
    return time.time() - float(t0) if t0 else reaper.process_age()


def configure_env() -> None:
    """Keep Spark's scratch files inside the checkout and make the package
    importable by the Python workers the JVM forks."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARKDU_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARKDU_LOCAL_DIR"] = os.path.join(WORK, "spark-local", str(os.getpid()))
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


class Session:
    """A Spark session plus the JVM process behind it. ``close`` stops the
    session, shuts the gateway down and waits for the JVM and its Python
    workers to exit."""

    def __init__(self, k: int):
        from sparkdu.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app="perfbench", master=f"local[{k}]")
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        from procmon import alive, tree

        gateway = SparkContext._gateway
        others = tree(self.jvm_pid)[1:]  # Python daemon and workers
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the workers are the JVM's children, not ours: wait for them to go
        deadline = time.monotonic() + 30
        while any(alive(p) for p in others) and time.monotonic() < deadline:
            time.sleep(0.05)


def timed(fn, spent: list):
    """``fn`` wrapped to append the duration of every call to ``spent``."""
    def wrapped(*a, **kw):
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            spent.append(time.perf_counter() - t)
    return wrapped


def verify(rows, oracle: dict) -> dict:
    """Compare (url, sha256(text), n_blocks, version) rows with the oracle.
    A url fails once, whatever is wrong with it: missing, repeated,
    unexpected, or any field differing from the oracle."""
    seen: dict[str, int] = {}
    bad = set()
    for url, digest, n_blocks, version in rows:
        seen[url] = seen.get(url, 0) + 1
        want = oracle.get(url)
        if want is None or seen[url] > 1 or [digest, n_blocks, version] != want:
            bad.add(url)
    missing = [u for u in oracle if u not in seen]
    return {"attempted": len(oracle), "failed": len(bad) + len(missing),
            "missing": len(missing), "mismatched": len(bad)}


class Workload:
    """One workload: warm-up, timed action, and the check of its output."""

    def __init__(self, name: str, spark, corpus: dict):
        from sparkdu.tables import PAGES_SCHEMA

        from corpus import SHAPES

        self.name, self.spark, self.corpus = name, spark, corpus
        model = SHAPES[name]["model"]
        self.model_path = os.path.join(ROOT, model) if model else None
        self.pages = spark.read.schema(PAGES_SCHEMA).parquet(corpus["pages"])
        self.docs = corpus["props"]["docs"]
        self.out_root = os.path.join(WORK, f"job-{os.getpid()}")
        self.runs = 0
        self.summary: dict = {}

    # -- extract_pages workloads -------------------------------------
    def _extracted(self, pages):
        from sparkdu.api import ExtractConfig, extract_pages

        return extract_pages(self.spark, pages, ExtractConfig(model_path=self.model_path))

    # -- run_extract_job workload ------------------------------------
    def _job(self, pages, waves: int = 8) -> str:
        from sparkdu.lineage import ExtractJobConfig, run_extract_job

        self.runs += 1
        out = os.path.join(self.out_root, f"run{self.runs}")
        self.summary = run_extract_job(self.spark, pages, ExtractJobConfig(
            run_id=f"perfbench{self.runs}", out_dir=out, num_partitions=64,
            waves=waves, model_path=self.model_path))
        return out

    def warm_up(self) -> None:
        """``extract_pages`` on a small slice, with the workload's model: boots
        the Python workers and imports the extraction modules in them. The
        same for every workload, so set-up times compare across them."""
        self._extracted(self.pages.limit(WARM_ROWS)).write.format("noop").mode(
            "overwrite").save()

    def action(self):
        """The timed call. Returns the output directory of a job run."""
        if self.name == "job_waves":
            return self._job(self.pages)
        self._extracted(self.pages).write.format("noop").mode("overwrite").save()
        return None

    def untimed_pass(self) -> list[dict]:
        """One untimed run of the workload's entry point before the timed
        window. It brings the JIT and the Python workers to the state the
        timed iterations start from. ``extract_pages`` runs over the whole
        corpus and its output is checked. The job runs over the first of
        the corpus files (1/8 of the rows) in ``WARM_WAVES`` waves: a cold
        full job took 27-33 s on a 4-vCPU host against 21-24 s warm; this run
        takes 14-17 s there, and the timed runs after it are as warm. Its output
        is not checked; every timed job run is."""
        if self.name != "job_waves":
            return [self.check(None)]
        first = sorted(os.listdir(self.corpus["pages"]))[0]
        pages = self.spark.read.schema(self.pages.schema).parquet(
            os.path.join(self.corpus["pages"], first))
        shutil.rmtree(self._job(pages, WARM_WAVES), ignore_errors=True)
        return []

    def check(self, out) -> dict:
        """Untimed check of the output against the oracle digests. For the
        job, ``out`` is the directory of the run just timed: the committed
        snapshot is read back, and the wave summary must account for every
        deduplicated page with no error."""
        from pyspark.sql import functions as F

        if self.name == "job_waves":
            from sparkdu.snapshots import read_snapshot

            df = read_snapshot(self.spark, out)
        else:
            df = self._extracted(self.pages)
        rows = df.select("url", F.sha2("extracted_text", 256), "n_blocks",
                         "pipeline_version").collect()
        res = verify([tuple(r) for r in rows], self.corpus["oracle"])
        if self.name == "job_waves":
            s = self.summary
            res["job_errors"] = int(s["n_errors"])
            res["job_consistent"] = (s["waves_run"] == 8
                                     and s["n_pages"] == len(self.corpus["oracle"]))
            # the job does not write had_error out; it sums it per wave
            res["failed"] += res["job_errors"]
        return res


def timed_window(wl: Workload, seconds: float, trace: bool, jvm_pid: int) -> dict:
    """Repeat the action until ``seconds`` of timed work have passed. With
    ``trace``, iterations alternate untraced / traced (at least one each)
    and each traced one is followed by a ledger read, timed with it."""
    from procmon import Window

    it = {"wall": [], "cpu": [], "rss": [], "traced_wall": [], "ledgers": [],
          "checks": []}
    measured = 0.0
    i = 0
    while (measured < seconds or (trace and not (it["wall"] and it["traced_wall"]))):
        traced = trace and i % 2 == 1
        i += 1
        with Window(jvm_pid) as w:
            t = time.perf_counter()
            if traced:
                out, led = traced_action(wl)
            else:
                out = wl.action()
            wall = time.perf_counter() - t
        measured += wall
        if traced:
            it["traced_wall"].append(wall)
            it["ledgers"].append(led)
        else:
            it["wall"].append(wall)
            it["cpu"].append(w.cpu)
            it["rss"].append(w.peak_rss)
        if out is not None:
            it["checks"].append(wl.check(out))
            shutil.rmtree(out, ignore_errors=True)
    return it


def traced_action(wl: Workload):
    """One action with the snapshot commit wrapped, then its ledger read from
    the status stores. Returns (job output dir or None, ledger)."""
    import sparkdu.snapshots as snapshots

    import ledger

    reader = ledger.StatusReader(wl.spark)
    first = reader.last_execution_id()
    commits: list[float] = []
    original = snapshots.commit_wave_snapshot
    snapshots.commit_wave_snapshot = timed(original, commits)
    try:
        t = time.perf_counter()
        out = wl.action()
        action_s = time.perf_counter() - t
    finally:
        snapshots.commit_wave_snapshot = original
    eids = reader.executions_after(first)
    led = {f"api.{k}": v for k, v in ledger.extract_ledger(reader, eids).items()}
    is_job = wl.name == "job_waves"
    io = ledger.write_ledger(reader, eids) if is_job else {}
    led.update({
        "lineage.run_extract_job_s": action_s if is_job else 0.0,
        "lineage.waves": float(wl.summary.get("waves_run", 0)) if is_job else 0.0,
        "lineage.sql_executions": float(len(eids)) if is_job else 0.0,
        "lineage.scan_rows_ratio": io["scan_rows"] / wl.docs if is_job else 0.0,
        "lineage.write_bytes": io.get("write_bytes", 0.0),
        "lineage.files_written": io.get("files_written", 0.0),
        "snapshots.commit_wave_snapshot_s": sum(commits, 0.0),
        "snapshots.commits": float(len(commits)),
    })
    return out, led


def parse_pass(corpus: dict, model_path: str) -> dict:
    """Single-core, in-process pass over the rows the kernel parses (the
    latest capture of each url): ``extract_doc`` rule-only with
    ``sniff_decode`` and ``parse_blocks`` timed inside it, then
    ``extract_doc`` with the clf_v3 model."""
    import pyarrow.parquet as pq

    import sparkdu.parse as P

    table = pq.read_table(corpus["pages"], columns=["url", "warc_ts", "html"])
    latest: dict = {}
    for url, ts, html in zip(*(table.column(c).to_pylist() for c in ("url", "warc_ts", "html"))):
        if url not in latest or ts > latest[url][0]:
            latest[url] = (ts, html)
    docs = [h for _, h in latest.values()]
    with open(model_path) as f:
        model = json.load(f)
    spent: dict[str, list] = {"sniff_decode": [], "parse_blocks": []}
    originals = {n: getattr(P, n) for n in spent}
    per_doc = []
    for name, fn in originals.items():
        setattr(P, name, timed(fn, spent[name]))
    try:
        for html in docs:
            t = time.perf_counter()
            P.extract_doc(html, None)
            per_doc.append(time.perf_counter() - t)
    finally:
        for name, fn in originals.items():
            setattr(P, name, fn)
    t = time.perf_counter()
    for html in docs:
        P.extract_doc(html, model)
    model_s = time.perf_counter() - t
    rule_s = sum(per_doc)
    nbytes = sum(len(h) for h in docs)
    return {
        "parse.sniff_decode_s": sum(spent["sniff_decode"]),
        "parse.parse_blocks_s": sum(spent["parse_blocks"]),
        "parse.extract_doc_s": rule_s,
        "parse.extract_doc_model_s": model_s,
        "parse.mb_per_s_core": nbytes / 1e6 / rule_s,
        "parse.docs_per_s_core": len(docs) / rule_s,
        "parse.slowest_doc_s": max(per_doc),
    }


def metric_units() -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def host_config(args, k: int, session: Session, corpus: dict) -> dict:
    import pyarrow

    jvm = session.spark.sparkContext._jvm
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)), "k": k,
        "driver_memory": DRIVER_MEM,
        "spark": session.spark.version, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "java": jvm.System.getProperty("java.version"),
        "corpus": corpus["props"],
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("sparkdu/api.py", "sparkdu/lineage.py", "oracle/extract.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout",
                  file=sys.stderr)
            return 2
    k = min(4, len(os.sched_getaffinity(0)))
    configure_env()
    sys.path[:0] = [ROOT, HERE]
    import pyspark  # noqa: F401  (set-up covers the imports users pay)

    import sparkdu.api  # noqa: F401
    import sparkdu.lineage  # noqa: F401

    import corpus as corpus_mod

    imports_s = since_start()  # interpreter start to here, both included
    phases = {"imports": imports_s}
    t = time.perf_counter()
    corpus = corpus_mod.ensure_corpus(ROOT, os.path.join(WORK, "cache"),
                                      args.workload, args.seed, k)
    phases["corpus"] = time.perf_counter() - t

    session = Session(k)
    try:
        wl = Workload(args.workload, session.spark, corpus)
        t = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = imports_s + session.get_spark_s + warmup_s
        config = host_config(args, k, session, corpus)
        phases["setup"] = session.get_spark_s + warmup_s
        t = time.perf_counter()
        checks = wl.untimed_pass()
        phases["untimed"] = time.perf_counter() - t
        t = time.perf_counter()
        it = timed_window(wl, args.seconds, bool(args.trace), session.jvm_pid)
        phases["window"] = time.perf_counter() - t
        checks += it["checks"]
    finally:
        t = time.perf_counter()
        session.close()
        phases["close"] = time.perf_counter() - t
        shutil.rmtree(os.environ["SPARKDU_LOCAL_DIR"], ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, f"job-{os.getpid()}"), ignore_errors=True)

    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    correct = failed == 0 and all(c.get("job_consistent", True) for c in checks)
    wall = median(it["wall"])
    if args.trace:
        metrics = {name: median([led[name] for led in it["ledgers"]])
                   for name in it["ledgers"][0]}
        metrics["session.get_spark_s"] = session.get_spark_s
        metrics["session.warmup_s"] = warmup_s
        t = time.perf_counter()
        metrics.update(parse_pass(corpus, os.path.join(ROOT, "artifacts/clf_v3.json")))
        phases["parse_pass"] = time.perf_counter() - t
        metrics["trace.overhead_ratio"] = median(it["traced_wall"]) / wall
        metrics["verify.docs_failed_ratio"] = failed / attempted
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": wl.docs / wall,
            "cpu_s": median(it["cpu"]),
            "peak_rss_mb": median(it["rss"]) / 1e6,
            "docs_ok_ratio": 1.0 - failed / attempted,
        }
    config["samples"] = {"untraced": len(it["wall"]), "traced": len(it["traced_wall"])}
    config["iterations"] = {"wall_s": [round(w, 4) for w in it["wall"]],
                            "cpu_s": [round(c, 2) for c in it["cpu"]],
                            "peak_rss_mb": [round(r / 1e6) for r in it["rss"]]}
    config["checks"] = checks
    config["phases_s"] = {n: round(v, 2) for n, v in phases.items()}
    print(json.dumps({"config": config}))
    units = metric_units()
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    reaper.run_supervised(__file__)
    sys.exit(main())
