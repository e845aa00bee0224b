"""Self-check of the harness at a tiny size.

    python3 perfbench/selfcheck.py

Runs both workloads traced (``--small --trace 1``: set-up,
untraced and traced operations, every output check, the event-log
reducer), checks that the layers each workload exercises report work,
then checks that the benchmark fails cleanly in a directory that holds
only ``BENCHMARK.json`` and ``perfbench/``. Takes about three minutes
on a 4-core box. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-layer metrics that must be > 0 on each workload
EXERCISED = {
    "crawl_polite_skew": (
        "plans.crawl.waves", "plans.crawl.wave_s", "plans.crawl.resume_s",
        "plans.crawl.jobs_per_wave", "plans.crawl.fetched",
        "operators.wave.max_host_urls_per_wave",
        "functions.extract.python_run_s", "functions.extract.pages_per_s",
        "sources.storage.commits", "sources.storage.commit_job_s",
        "sources.storage.bytes_written", "plans.crawl.spark.run_s",
    ),
    "corpus_warc": (
        "sources.warc.parse.rows_out", "jobs.corpus.near_dup.rows_out",
        "operators.decontam.decontam.rows_out",
        "sources.warc.wet_export.rows_out", "jobs.corpus.spark.run_s",
        "sources.warc.spark.run_s", "functions.boilerplate.spark.run_s",
        "operators.dedupe.spark.run_s", "operators.decontam.spark.run_s",
        "functions.extract.pages_per_s",
    ),
}


def _run(cwd: str, workload: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    for workload, names in EXERCISED.items():
        p = _run(ROOT, workload)
        if p.returncode != 0:
            print(p.stderr[-4000:], file=sys.stderr)
            sys.exit(f"{workload}: exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if not res["correct"] or res["failed"]:
            print(p.stderr[-4000:], file=sys.stderr)
            sys.exit(f"{workload}: {res['failed']} failed operations")
        if set(res["metrics"]) != per_layer:
            sys.exit(f"{workload}: metrics differ from BENCHMARK.json")
        idle = [n for n in names if not res["metrics"][n]["value"] > 0]
        if idle:
            sys.exit(f"{workload}: no work reported by {idle}")
        print(f"{workload}: ok, {res['attempted']} operations checked")

    bare = os.path.join(ROOT, ".perfbench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(bare, "corpus_warc")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        sys.exit("without the program the benchmark must fail silently")
    print("bare directory: fails with exit code", p.returncode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
