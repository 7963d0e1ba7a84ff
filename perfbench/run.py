"""Benchmark for cityfinder_spark: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from --seed (see
gen.py) and cached under .perfbench/ in the checkout; all Spark scratch
data also stays there. Every output is checked against oracle.py. The
last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (see README.md for what each one means and which layer moves
it). Host facts go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

from spans import process_tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_facts() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"cores": cores, "ram_gb": round(mem_kb / 2**20, 1), "python": sys.version.split()[0]}


def fit_host(work: str, host: dict, need_bytes: int) -> dict[str, str]:
    """Environment and Spark settings that fit the session to this host
    without changing session.py. Returns extra Spark conf."""
    free = shutil.disk_usage(ROOT).free
    if free < need_bytes:
        raise SystemExit(f"perfbench: need {need_bytes >> 20} MiB free disk, have {free >> 20} MiB")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # an eighth of RAM, 1-2 GiB: the default 48g does not fit small hosts,
    # and a heap the runs fill keeps the JVM's resident size steady
    mem_gb = max(1, min(2, int(host["ram_gb"] // 8)))
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_gb}g"
    # Python workers must import cityfinder_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: temporary files in the
    # checkout and no performance-data file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p
    )
    big = "1000000"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job/stage/execution in the status stores for the trace
        "spark.ui.retainedJobs": big,
        "spark.ui.retainedStages": big,
        "spark.sql.ui.retainedExecutions": big,
    }


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        total = 0
        for p in process_tree(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(0.1)

    def stop(self) -> float:
        """Stop sampling (idempotent); the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("assign_sparse", "finder_online"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cityfinder_spark", "__init__.py")):
        print(f"perfbench: no cityfinder_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads

    host = host_facts()
    cache = os.path.join(ROOT, ".perfbench")
    work = os.path.join(cache, f"run-{os.getpid()}")
    conf = fit_host(work, host, workloads.disk_need())
    try:
        result = workloads.run(args, host, conf, cache, work, RssSampler())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
