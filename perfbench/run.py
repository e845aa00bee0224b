"""Benchmark of the crawl engine and the corpus pipeline.

    python3 perfbench/run.py --workload crawl_polite_skew --seed 1 \
        --seconds 10 --trace 0

Run from the root of the repository. One process, one workload, Spark
``local[4]`` with a 6g driver; every file it writes stays under
``.perfbench_work/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the run sets up (session, inputs, engine), then
runs the workload's operation until ``--seconds`` have passed (at
least once) and reports the end-to-end metrics as medians. With
``--trace 1`` the run first repeats itself untraced in a child
process, the baseline of the tracing overhead; then, with the Spark
event log on, it times one traced operation and one standalone
extraction pass, writes spans and the per-layer table to
``.perfbench_work/trace/<workload>-seed<n>/`` and reports the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SETUP_ROUNDS = 3

END_TO_END = {"items_per_s": "1/s", "setup_s": "s"}

SPARK_MODULES = ("plans.crawl", "functions.extract", "sources.storage",
                 "sources.warc", "functions.boilerplate", "operators.dedupe",
                 "operators.decontam", "jobs.corpus")
SPARK_UNITS = {"run_s": "s", "cpu_s": "s", "gc_s": "s",
               "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
               "fetch_wait_s": "s", "spill_bytes": "B"}
CORPUS_STAGES = (
    ("parse", "sources.warc.parse"),
    ("main_content", "functions.boilerplate.main_content"),
    ("host_template_strip", "operators.dedupe.host_template_strip"),
    ("paragraph_dedup", "operators.dedupe.paragraph_dedup"),
    ("quality", "jobs.corpus.quality"),
    ("exact_dedup", "jobs.corpus.exact_dedup"),
    ("near_dup", "jobs.corpus.near_dup"),
    ("decontam", "operators.decontam.decontam"),
    ("lang_write", "jobs.corpus.lang_write"),
    ("wet_export", "sources.warc.wet_export"),
)
PER_LAYER = {
    "plans.crawl.waves": "count",
    "plans.crawl.wave_s": "s",
    "plans.crawl.plan_s": "s",
    "plans.crawl.ckpt_s": "s",
    "plans.crawl.metrics_s": "s",
    "plans.crawl.commit_s": "s",
    "plans.crawl.jobs_per_wave": "count",
    "plans.crawl.resume_s": "s",
    "plans.crawl.attempted": "count",
    "plans.crawl.fetched": "count",
    "plans.crawl.outlinks": "count",
    "plans.crawl.discovered": "count",
    "plans.crawl.fetch_ok_ratio": "ratio",
    "plans.crawl.discovered_per_outlink": "ratio",
    "operators.wave.max_host_urls_per_wave": "count",
    "functions.extract.python_run_s": "s",
    "functions.extract.python_bytes_sent": "B",
    "functions.extract.python_bytes_returned": "B",
    "functions.extract.pages_per_s": "1/s",
    "sources.storage.commits": "count",
    "sources.storage.commit_job_s": "s",
    "sources.storage.commit_wait_s": "s",
    "sources.storage.bytes_written": "B",
    "sources.storage.files_written": "count",
    "sources.storage.bytes_per_page": "B",
    **{m: u for _, p in CORPUS_STAGES
       for m, u in ((f"{p}_s", "s"), (f"{p}.rows_out", "count"),
                    (f"{p}.kept", "ratio"))},
    **{f"{m}.spark.{k}": u for m in SPARK_MODULES
       for k, u in SPARK_UNITS.items()},
    "trace.overhead_s": "s",
    "session.peak_rss_mb": "MB",
}


def java_opts(work: str) -> str:
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def _prepare_env(work: str) -> None:
    """Everything Spark, the JVM and Python temp files write goes
    under ``work``; workers import the program from the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "6g"
    # the short-lived JVM spark-submit starts to build the driver's
    # command line; the driver JVM gets the same via extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    for p in (ROOT, os.path.join(ROOT, "jobs")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _session(work: str, trace: bool):
    from go_scrapper_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": java_opts(work),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=CORES,
                     shuffle_partitions=CORES, extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and the JVM the session launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the JVM and the
    Python workers it forked."""
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
    kb = 0
    stack = list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


class Runner:
    """Runs, checks and counts the operations of one run."""

    def __init__(self, wl, expected):
        self.wl = wl
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def checked_op(self, tracer):
        """Run, check and clean up one operation. Returns its result,
        or None if it raised or its output was wrong."""
        self.attempted += 1
        try:
            res = self.wl.op(tracer)
            errs = self.wl.check(res, self.expected)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return None
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            self.wl.cleanup(res)
            return None
        return res


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer_metrics(wl, res, facts, red, log, tracer, extract_pps,
                      overhead_s) -> dict:
    from perfbench import eventlog

    vals = dict.fromkeys(PER_LAYER, 0.0)
    if facts is not None:  # the crawl
        ph, cm = facts["phases"], facts["committed"]
        waves = tracer.named("plans.crawl.run_superstep")
        windows = [(s["start"], s["end"]) for s in waves]
        vals.update({
            "plans.crawl.waves": len(waves),
            "plans.crawl.wave_s": sum(b - a for a, b in windows),
            "plans.crawl.plan_s": ph.get("plan", 0.0),
            "plans.crawl.ckpt_s": ph.get("ckpt", 0.0),
            "plans.crawl.metrics_s": ph.get("metrics", 0.0),
            "plans.crawl.commit_s": ph.get("commit", 0.0),
            "plans.crawl.jobs_per_wave":
                eventlog.jobs_in(log, windows) / max(len(waves), 1),
            "plans.crawl.resume_s": res["resume_s"],
            "operators.wave.max_host_urls_per_wave": res["max_host_urls"],
            "sources.storage.commits": facts["commits"],
            "sources.storage.commit_job_s":
                red["spark"].get("sources.storage", {}).get("run_s", 0.0),
            "sources.storage.commit_wait_s": ph.get("commit_wait", 0.0),
            "sources.storage.bytes_written": facts["store_bytes"],
            "sources.storage.files_written": facts["store_files"],
            "sources.storage.bytes_per_page":
                facts["store_bytes"] / max(res["items"], 1),
        })
        for k in ("attempted", "fetched", "outlinks", "discovered"):
            vals[f"plans.crawl.{k}"] = cm.get(k, 0)
        vals["plans.crawl.fetch_ok_ratio"] = (
            cm.get("fetched", 0) / max(cm.get("attempted", 0), 1))
        vals["plans.crawl.discovered_per_outlink"] = (
            cm.get("discovered", 0) / max(cm.get("outlinks", 0), 1))
        for key, py in red["python"].items():
            mod, udf = key.split(":", 1)
            if udf == "extract_batches" and mod != "functions.extract":
                for k, v in py.items():
                    vals[f"functions.extract.{k}"] += v
    else:  # the corpus
        rows_in = res["items"]
        for key, prefix in CORPUS_STAGES:
            out = res["rows"].get(key, 0)
            vals[f"{prefix}_s"] = res["secs"].get(key, 0.0)
            vals[f"{prefix}.rows_out"] = out
            vals[f"{prefix}.kept"] = out / max(rows_in, 1)
            rows_in = out
    for mod in SPARK_MODULES:
        for k in SPARK_UNITS:
            vals[f"{mod}.spark.{k}"] = red["spark"].get(mod, {}).get(k, 0.0)
    vals["functions.extract.pages_per_s"] = extract_pps
    vals["trace.overhead_s"] = overhead_s
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the harness self-check")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_scrapper_spark",
                                       "session.py")):
        print(f"perfbench: no go_scrapper_spark package under {ROOT}; "
              "run from the root of a repository checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    untraced = _untraced_run(args) if trace else None
    spark = runner = traced = None
    try:
        try:
            wl = WORKLOADS[args.workload](os.path.join(work, "data"),
                                          args.seed, args.small)
            # the reference values are pure Python (the crawl's take
            # seconds): computed before anything is timed, so that they
            # hold no core or GIL while the session and inputs set up
            runner = Runner(wl, wl.expected())
            t0 = time.perf_counter()
            spark = wl.spark = _session(work, trace)
            session_s = time.perf_counter() - t0
            rounds = []
            # setup_s is an end-to-end metric: a traced run sets up once
            for _ in range(1 if trace else SETUP_ROUNDS):
                t = time.perf_counter()
                wl.setup_round()
                rounds.append(time.perf_counter() - t)
            off = Tracer(spark.sparkContext, "", enabled=False)
            setup_s = session_s + statistics.median(rounds)
            print(f"perfbench: session {session_s:.2f}s, set-up rounds "
                  f"{[round(r, 2) for r in rounds]}", file=sys.stderr)
            if trace:
                traced = _traced_ops(spark, wl, runner, args.seed,
                                     untraced)
            else:
                metrics = _measure(wl, runner, off, args.seconds, setup_s)
        finally:
            if spark is not None:
                _stop(spark)
        if trace:
            metrics = _traced_metrics(wl, traced, work, base, args.seed)
        for e in runner.errors:
            print(f"perfbench: FAILED: {e}", file=sys.stderr)
        if untraced is not None:
            runner.attempted += untraced["attempted"]
            runner.failed += untraced["failed"]
        elif trace:
            runner.attempted += 1
            runner.failed += 1
        units = PER_LAYER if trace else END_TO_END
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _measure(wl, runner, off, seconds, setup_s) -> dict:
    """Operations until ``seconds`` have passed, at least one."""
    rates = []
    t_measure = time.perf_counter()
    while True:
        res = runner.checked_op(off)
        if res is not None:
            rates.append(res["items"] / res["wall_s"])
            print(f"perfbench: op {res['wall_s']:.2f}s, {res['items']} "
                  "items", file=sys.stderr)
            wl.cleanup(res)
        if time.perf_counter() - t_measure >= seconds:
            break
    return {"items_per_s": _median(rates), "setup_s": setup_s}


def _untraced_run(args) -> dict | None:
    """The same run with tracing off, in its own process (and JVM):
    the baseline of the tracing overhead. Both operations are then the
    first in their JVM, like the end-to-end measurement."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds", "0",
           "--trace", "0"] + (["--small"] if args.small else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"perfbench: untraced run failed:\n{p.stderr[-4000:]}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def _traced_ops(spark, wl, runner, seed, untraced) -> dict:
    """A traced operation, then a standalone extraction pass. The
    overhead is the traced operation's time minus the untraced run's
    (the same inputs, so the same item count)."""
    from pyspark.sql import functions as F

    from go_scrapper_spark.functions.extract import extract_pages
    from perfbench.tracing import Tracer

    tracer = Tracer(spark.sparkContext, f"{wl.name}-seed{seed}",
                    enabled=True)
    res = runner.checked_op(tracer)
    overhead_s = 0.0
    rate = untraced["metrics"]["items_per_s"]["value"] if untraced else 0
    if res is not None and rate:
        overhead_s = res["wall_s"] - res["items"] / rate
    with tracer.span("functions.extract.extract_pages", "functions.extract"):
        src = wl.extract_input()
        n_pages = src.count()
        t = time.perf_counter()
        extract_pages(src.select(
            "url", "html", F.lit(0).alias("depth"),
            F.lit(0).cast("long").alias("seq"), F.lit(0).alias("fpo"),
        )).count()
        extract_pps = n_pages / (time.perf_counter() - t)
    facts = None
    if res is not None:
        if hasattr(wl, "layer_facts"):
            facts = wl.layer_facts(res)
        wl.cleanup(res)
    return {"tracer": tracer, "res": res, "facts": facts,
            "extract_pps": extract_pps, "overhead_s": overhead_s,
            "rss_mb": peak_rss_mb()}


def _traced_metrics(wl, traced, work, base, seed) -> dict:
    """Reduce the event log of the stopped session and write the
    spans and the per-layer table next to a copy of the log."""
    from perfbench import eventlog

    if traced["res"] is None:
        return dict.fromkeys(PER_LAYER, 0.0)
    tracer = traced["tracer"]
    (logfile,) = glob.glob(os.path.join(work, "eventlog", "*"))
    log = eventlog.load(logfile)
    tops = [(s["start"], s["end"]) for s in tracer.spans
            if s["parent"] is None]
    red = eventlog.reduce(log, tops)
    vals = per_layer_metrics(wl, traced["res"], traced["facts"], red, log,
                             tracer, traced["extract_pps"],
                             traced["overhead_s"])
    vals["session.peak_rss_mb"] = traced["rss_mb"]
    out = os.path.join(base, "trace", f"{wl.name}-seed{seed}")
    os.makedirs(out, exist_ok=True)
    tracer.write(os.path.join(out, "spans.json"))
    with open(os.path.join(out, "layers.json"), "w") as f:
        json.dump({"metrics": vals, "reduced": red}, f, indent=1,
                  sort_keys=True)
    shutil.copy(logfile, os.path.join(out, "eventlog.json"))
    print(f"perfbench: trace written to {out}", file=sys.stderr)
    return vals


if __name__ == "__main__":
    sys.exit(main())
