"""The benchmark's workloads, their correctness checks and metrics.

Every workload shares one set-up: start the session, load the seeded
cities and postal dimensions, build a `CityFinder` and ask it one
nearest-city query. The finder part runs SETUP_REPS times (a fresh
finder each time, in the one session) and `setup_s` is the session
start plus the median repetition, each without the share of its time
the hypervisor stole (speed.not_stolen).

Only calls into the public API are timed, from outside; the adjusted
timings leave out the share of each call's time the hypervisor stole
(speed.py). With --trace 1 the measured time is split: the first half
runs untraced, the second traced; the ratio of their median operation
times is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import sys
import time
import traceback

import numpy as np

import gen
import oracle
from spans import SparkProbe, Tracer, merge, self_time_by_layer
from speed import adjust, cpu_ticks, not_stolen

N_CITIES = 100_000
# The cities and postal dimensions are one fixed world, like the GeoNames
# dump a deployment loads; --seed varies the traffic run against it
# (points, payload rows, queries).
WORLD_SEED = 0
N_SPARSE = 16_000   # points per assign_sparse job
N_PAYLOAD = 6_000   # image rows in the checkpointed pass of a traced run
CHECK_SAMPLE = 256  # rows per batch workload checked against brute force
PAYLOAD_ROW_BYTES = 4_700
SETUP_REPS = 3
PROBE_POINT = (48.85, 2.35)

# per-layer metrics reported with --trace 1; a layer that a workload
# does not exercise reports 0
LAYER_METRICS = {
    "session.start_s": "s",
    "finder.build_s": "s",
    "finder.index_bytes": "B",
    "finder.cover_cells": "count",
    "finder.hot_cells": "count",
    "bcast.broadcast_s": "s",
    "nearest.cands_mean": "count",
    "nearest.cands_p99": "count",
    "nearest.escalation_ratio": "ratio",
    "nearest.python_run_s": "s",
    "nearest.python_boot_s": "s",
    "nearest.python_bytes_sent": "B",
    "nearest.python_bytes_returned": "B",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "spark.cpu_util": "ratio",
    "spark.scan_s": "s",
    "spark.spill_bytes": "B",
    "checkpoint.run_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.write_amp": "ratio",
    "checkpoint.resume_s": "s",
    "checkpoint.resume_redo_buckets": "count",
    "stored_bytes_ratio": "ratio",
    "online.nearest_ms_p50": "ms",
    "online.postal_ms_p50": "ms",
    "online.name_ms_p50": "ms",
    "online.jobs_per_query.nearest": "count",
    "online.jobs_per_query.postal": "count",
    "online.jobs_per_query.name": "count",
    "online.tasks_per_query.nearest": "count",
    "online.tasks_per_query.postal": "count",
    "online.tasks_per_query.name": "count",
    "online.query_ms_p90": "ms",
    "name.jobs_per_query": "count",
    "name.shuffle_bytes_per_query": "B",
    "postal.jobs_per_query": "count",
    "self_s.bench": "s",
    "self_s.session": "s",
    "self_s.finder": "s",
    "self_s.nearest": "s",
    "self_s.spark": "s",
    "self_s.checkpoint": "s",
    "self_s.online": "s",
    "trace.self_sum_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.spans": "count",
    "failed_ratio": "ratio",
    "host.steal_ratio": "ratio",
}
END_TO_END = {"rows_per_s_adj": "1/s", "latency_ms_p50_adj": "ms", "setup_s": "s", "peak_rss_mb": "MB"}


def _since(ticks: tuple[int, int]) -> tuple[int, int]:
    """(busy, steal) CPU ticks since `ticks` = cpu_ticks()."""
    return tuple(b - a for a, b in zip(ticks, cpu_ticks()))


def disk_need() -> int:
    """Free disk a run needs: the payload input, its staged copy and two
    outputs, and 1 GiB of headroom for Spark's scratch files."""
    return 4 * N_PAYLOAD * PAYLOAD_ROW_BYTES + (1 << 30)


class Bench:
    def __init__(self, args, host, conf, cache, work, rss):
        self.args = args
        self.seed = args.seed
        self.conf = conf
        self.cache = cache
        self.work = work
        self.cores = host["cores"]
        self.rss = rss
        self.attempted = 0
        self.failed = 0
        self.tracer = Tracer(bool(args.trace))
        self.layer: dict[str, float] = {}
        # (route, seconds, traced, busy CPU ticks, steal CPU ticks)
        self.log: list[tuple[str, float, bool, int, int]] = []
        self.traced_wall = 0.0  # elapsed time of the traced half of the loop

    def input_path(self, name: str, seed: int, size: int, make) -> str:
        """Cached Parquet copy of a generated table, one file per core."""
        path = os.path.join(self.cache, "inputs", f"{name}-s{seed}-n{size}-f{self.cores}")
        return gen.materialize(make, path, self.cores)

    def record(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        self.failed += 0 if ok else n

    # ---- set-up ----

    def setup(self) -> None:
        self.cities = gen.cities(WORLD_SEED, N_CITIES)
        self.postal = gen.postal(WORLD_SEED, self.cities)
        cities_path = self.input_path("cities", WORLD_SEED, N_CITIES, lambda: self.cities)
        postal_path = self.input_path("postal", WORLD_SEED, N_CITIES, lambda: self.postal)
        from cityfinder_spark.finder import CityFinder
        from cityfinder_spark.session import get_spark

        c0, t0 = cpu_ticks(), time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", cores=self.cores, shuffle_partitions=self.cores,
                extra_conf=self.conf,
            )
        self.session_s = time.perf_counter() - t0
        session = self.session_s * not_stolen(*_since(c0))
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.tracer.probe = SparkProbe(self.spark)
        want = self.expect_nearest(*PROBE_POINT)
        reps, reps_measured = [], []
        for _ in range(SETUP_REPS):
            c0, t0 = cpu_ticks(), time.perf_counter()
            with self.tracer.span("finder.build", spark=True):
                finder = CityFinder(
                    self.spark.read.parquet(cities_path), self.spark.read.parquet(postal_path)
                )
            with self.tracer.span("finder.first_query", spark=True):
                got = finder.find_nearest_city(*PROBE_POINT)
            reps_measured.append(time.perf_counter() - t0)
            reps.append(reps_measured[-1] * not_stolen(*_since(c0)))
            self.record(oracle.same_city(got, want))
        self.setup_s = session + statistics.median(reps)
        self.setup_measured_s = self.session_s + statistics.median(reps_measured)
        self.finder = finder

    def expect_nearest(self, lat: float, lon: float) -> dict:
        pos, dist = oracle.nearest(self.cities, np.array([lat]), np.array([lon]))
        p = int(pos[0])
        return {
            "Latitude": float(self.cities["lat"][p]), "Longitude": float(self.cities["lon"][p]),
            "Name": self.cities["name"][p], "Country": self.cities["country"][p],
            "DistanceKm": float(dist[0]),
        }

    # ---- measured loop ----

    def timed(self, route: str, fn):
        """fn(); its result. Its wall time and the CPU ticks over it go
        to `self.log`, also when fn raises."""
        c0, t0 = cpu_ticks(), time.perf_counter()
        try:
            return fn()
        finally:
            self.log.append((route, time.perf_counter() - t0, self.tracer.enabled, *_since(c0)))

    def loop(self, op, seconds: float) -> None:
        """op(i) until `seconds` have passed (at least once)."""
        deadline = time.perf_counter() + seconds
        i = 0
        while not i or time.perf_counter() < deadline:
            op(i)
            i += 1

    def measure(self, op, plain=None) -> None:
        """The measured loop. With tracing, the first half of the time
        runs `plain` (default: op) untraced and the second half runs op
        traced; its spans are `self.loop_spans`."""
        if not self.args.trace:
            self.loop(op, self.args.seconds)
        else:
            tracer, self.tracer = self.tracer, Tracer(False)
            self.loop(plain or op, self.args.seconds / 2)
            self.tracer = tracer
            first = len(tracer.spans)
            t0 = time.perf_counter()
            self.loop(op, self.args.seconds / 2)
            self.traced_wall = time.perf_counter() - t0
            self.loop_spans = tracer.spans[first:]

    def walls(self, route: str | None = None, traced: bool | None = False,
              adjusted: bool = False) -> list[float]:
        """Logged wall times of one route (None: every route; traced=None:
        traced or not); adjusted=True leaves out the share of each that
        the hypervisor stole (speed.adjust)."""
        return [
            adjust(t, busy, steal) if adjusted else t
            for r, t, tr, busy, steal in self.log
            if (route is None or r == route) and (traced is None or tr == traced)
        ]

    def steal_ratio(self) -> float:
        """Share of the wanted CPU time stolen during the measured loop."""
        busy = sum(e[3] for e in self.log)
        return 1.0 - not_stolen(busy, sum(e[4] for e in self.log))

    def overhead(self, route: str) -> None:
        self.layer["trace.overhead_ratio"] = (
            statistics.median(self.walls(route, True)) / statistics.median(self.walls(route)) - 1.0
        )

    # ---- checks and kernel statistics ----

    def check_assignments(self, pdf) -> None:
        """A seeded sample of output rows equals the brute-force argmin."""
        rng = np.random.default_rng(self.seed)
        s = pdf.iloc[rng.choice(len(pdf), size=min(CHECK_SAMPLE, len(pdf)), replace=False)]
        pos, dist = oracle.nearest(self.cities, s["lat"].to_numpy(float), s["lon"].to_numpy(float))
        ok = (s["city_id"].to_numpy() == self.cities["city_id"][pos]) & (
            np.abs(s["dist_km"].to_numpy(float) - dist) <= oracle.DIST_TOL_KM
        )
        self.record(True, int(ok.sum()))
        self.record(False, int((~ok).sum()))

    def kernel_stats(self, lat: np.ndarray, lon: np.ndarray, dist: np.ndarray) -> None:
        """In-ring candidates per point (CityIndex.lookup) and the share of
        rows past the ring proof: no in-ring candidate, or a nearest city
        at or beyond the certainty radius."""
        from cityfinder_spark.geo.cells import certainty_radius_np

        idx = self.finder.index
        _, counts = idx.lookup(lat, lon)
        slack = 10.0 ** -oracle.ROUND_DIGITS
        esc = (counts == 0) | (dist + slack >= certainty_radius_np(lat, idx.ring, idx.level))
        self.layer["nearest.cands_mean"] = float(counts.mean())
        self.layer["nearest.cands_p99"] = float(np.percentile(counts, 99))
        self.layer["nearest.escalation_ratio"] = float(esc.mean())

    # ---- per-layer metrics ----

    def layer_metrics(self) -> dict[str, float]:
        self.tracer.resolve()
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        spans = self.tracer.spans
        out["session.start_s"] = self.session_s
        out["finder.build_s"] = statistics.median(s.duration for s in spans if s.name == "finder.build")
        idx = self.finder.index
        out["finder.index_bytes"] = float(len(pickle.dumps(idx, protocol=pickle.HIGHEST_PROTOCOL)))
        out["finder.cover_cells"] = float(len(idx.cover_cells))
        out["finder.hot_cells"] = float(len(idx.hot_cells))
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        with self.tracer.span("bcast.broadcast"):
            bc = sc.broadcast(idx)
        out["bcast.broadcast_s"] = time.perf_counter() - t0
        bc.destroy()
        # Spark work of the traced loop, per operation
        roots = [s for s in self.loop_spans if s.name.startswith("bench.")]
        acts = [s for s in self.loop_spans if s.spark]
        sm = merge([s.spark for s in acts])
        n_ops = len(roots)
        wall = sum(s.duration for s in acts)
        out["nearest.python_run_s"] = sm["python_run_s"] / n_ops
        out["nearest.python_boot_s"] = sm["python_start_s"] / n_ops
        out["nearest.python_bytes_sent"] = sm["python_bytes_sent"] / n_ops
        out["nearest.python_bytes_returned"] = sm["python_bytes_returned"] / n_ops
        out["spark.tasks"] = sm["tasks"] / n_ops
        out["spark.task_skew"] = sm["task_skew"]
        out["spark.cpu_util"] = sm["tree_cpu_s"] / (wall * self.cores) if wall else 0.0
        out["spark.scan_s"] = sm["scan_s"] / n_ops
        out["spark.spill_bytes"] = sm["spill_bytes"] / n_ops
        out.update(self.layer)
        for layer, t in self_time_by_layer(spans).items():
            if f"self_s.{layer}" in out:
                out[f"self_s.{layer}"] = t
        # the traced half's elapsed time is taken by the loop, not by a
        # span: time no span covers lowers the ratio
        loop_self = self_time_by_layer(self.loop_spans)
        out["trace.self_sum_ratio"] = sum(loop_self.values()) / self.traced_wall
        out["trace.spans"] = float(len(spans))
        out["failed_ratio"] = self.failed / self.attempted
        return out


# ---- workloads ----


def assign_sparse(b: Bench) -> dict:
    """nearest_city_df over points uniform on the sphere, job after job,
    into a noop sink."""
    n = N_SPARSE
    pts = b.spark.read.parquet(b.input_path("sparse", b.seed, n, lambda: gen.sparse_points(b.seed, n)))

    def action(i):
        with b.tracer.span("bench.job", req=i):
            with b.tracer.span("nearest.plan"):
                out = b.finder.nearest_city_df(pts)
            with b.tracer.span("spark.action", spark=True):
                out.write.format("noop").mode("overwrite").save()

    def job(i):
        b.timed("job", lambda: action(i))

    b.measure(job)
    peak = b.rss.stop()
    walls = b.walls("job", None)
    b.record(True, len(walls))
    pdf = b.finder.nearest_city_df(pts).select("pt_id", "lat", "lon", "city_id", "dist_km").toPandas()
    b.record(len(pdf) == n and pdf["pt_id"].nunique() == n and pdf["city_id"].notna().all())
    b.check_assignments(pdf)
    b.kernel_stats(pdf["lat"].to_numpy(float), pdf["lon"].to_numpy(float), pdf["dist_km"].to_numpy(float))
    if b.args.trace:
        b.overhead("job")
        checkpoint_layer(b)
    med = statistics.median(b.walls("job"))
    adj = statistics.median(b.walls("job", adjusted=True))
    return {"rows_per_s": n / med, "latency_ms_p50": 1e3 * med,
            "rows_per_s_adj": n / adj, "latency_ms_p50_adj": 1e3 * adj, "peak_rss_mb": peak}


def _fingerprint(df, cols: list[str]) -> tuple:
    """(rows, distinct image ids, order-free sum of row hashes)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("image_id").alias("ids"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["ids"], row["h"]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def checkpoint_layer(b: Bench) -> None:
    """The write-side use of the operator, measured in the traced run:
    image+caption rows through run_resumable with the nearest join as
    process_fn, once uninterrupted and once interrupted after half the
    buckets and resumed. The resume must redo exactly the remaining
    buckets and end with the uninterrupted result; both outputs must keep
    every row's bytes and caption."""
    from cityfinder_spark.plans.checkpoint import read_result, run_resumable

    n = N_PAYLOAD
    src_path = b.input_path("payload", b.seed, n, lambda: gen.payload(b.seed, n, b.cities))
    src = b.spark.read.parquet(src_path)
    in_bytes = _du(src_path)
    n_buckets = b.cores

    def process(df):
        with b.tracer.span("nearest.plan"):
            return b.finder.nearest_city_df(df, id_col="image_id")

    def resumable(out, fail_after=None):
        return run_resumable(b.spark, src, process, out, stage="assign", id_col="image_id",
                             n_buckets=n_buckets, fail_after=fail_after)

    full, part = os.path.join(b.work, "ingest"), os.path.join(b.work, "ingest-resumed")
    with b.tracer.span("checkpoint.run", spark=True) as run:
        resumable(full)
    k = max(1, n_buckets // 2)
    with b.tracer.span("checkpoint.interrupted", spark=True):
        done = resumable(part, fail_after=k)
    with b.tracer.span("checkpoint.resume", spark=True) as resume:
        redo = resumable(part)
    b.tracer.resolve()
    b.layer["checkpoint.run_s"] = run.duration
    b.layer["checkpoint.jobs"] = run.spark["jobs"]
    b.layer["checkpoint.write_amp"] = run.spark["output_bytes"] / in_bytes
    b.layer["stored_bytes_ratio"] = _du(full) / in_bytes
    b.layer["checkpoint.resume_s"] = resume.duration
    b.layer["checkpoint.resume_redo_buckets"] = float(len(redo))
    b.record(len(done) == k and sorted(done + redo) == list(range(n_buckets)))

    res = read_result(b.spark, full)
    cols = ["image_id", "bytes", "caption"]
    want = _fingerprint(src, cols)
    b.record(want[:2] == (n, n) and _fingerprint(res, cols) == want)
    cols = ["image_id", "city_id", "dist_km", "bytes", "caption"]
    b.record(_fingerprint(read_result(b.spark, part), cols) == _fingerprint(res, cols))
    b.check_assignments(res.select("image_id", "lat", "lon", "city_id", "dist_km").toPandas())


def finder_online(b: Bench) -> dict:
    """One client in a closed loop: each single query waits for its
    answer. A cycle is nine nearest-city queries (half near towns, half
    anywhere), one postal and one name query, the name kind rotating
    through exact, 1 edit, 2 edits and miss. The loop runs whole cycles
    until --seconds have passed, so every run has the same route mix;
    `rows_per_s` is answered queries per second of query time. The mix
    is this benchmark's choice, sized so that a cycle fits a run; no
    traffic record of the reference is available to take it from."""
    n_cycles, n_near = 16, 9
    per_cycle = n_near + 2
    cty, pst, f = b.cities, b.postal, b.finder
    near = gen.nearest_queries(b.seed, n_near * n_cycles, cty)
    postal_q = gen.postal_queries(b.seed, n_cycles, pst)
    names = gen.name_queries(b.seed, 4 * n_cycles, cty)
    names = [names[4 * c + (b.seed + c) % 4] for c in range(n_cycles)]
    names_o = oracle.NameOracle(cty)
    postal_o = oracle.PostalOracle(pst)

    def want_name(name, country):
        hit = names_o.lookup(name, country)
        if hit is None:
            return None
        p, kind, ed = hit
        return {"Name": cty["name"][p], "Latitude": float(cty["lat"][p]),
                "Longitude": float(cty["lon"][p]), "Country": country.upper(),
                "MatchType": kind, "EditDist": ed}

    def want_postal(code, country):
        r = postal_o.lookup(code, country)
        if r is None:
            return None
        return {"Name": pst["place_name"][r], "Latitude": float(pst["lat"][r]),
                "Longitude": float(pst["lon"][r]), "Country": country.upper()}

    def query(route, req, call, want):
        def traced_call():
            with b.tracer.span("bench.query", req=req):
                with b.tracer.span(f"online.{route}", req=req, spark=True):
                    return call()

        try:
            ok = oracle.same_city(b.timed(route, traced_call), want())
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            traceback.print_exc()
            ok = False
        b.record(ok)

    def nearest(k, req):
        la, lo = near[k % len(near)]
        query("nearest", req, lambda: f.find_nearest_city(la, lo), lambda: b.expect_nearest(la, lo))

    def cycle(c):
        c %= n_cycles
        for j in range(n_near):
            nearest(n_near * c + j, per_cycle * c + j)
            if j == n_near // 2:
                code, ctry = postal_q[c]
                query("postal", per_cycle * c + n_near, lambda: f.find_city_by_postal_code(code, ctry),
                      lambda: want_postal(code, ctry))
        kind, nm, ctry = names[c]
        # a 10 s run answers one name query, of kind NAME_KINDS[seed % 4]
        print(json.dumps({"name_query": kind}), file=sys.stderr)
        query("name", per_cycle * c + n_near + 1, lambda: f.find_city_by_name(nm, ctry),
              lambda: want_name(nm, ctry))

    # a traced run compares traced cycles with untraced nearest queries:
    # an untraced cycle would double the run for one more name query
    b.measure(cycle, plain=lambda i: nearest(i, i))
    peak = b.rss.stop()
    lat = np.array([q[0] for q in near])
    lon = np.array([q[1] for q in near])
    _, dist = oracle.nearest(cty, lat, lon)
    b.kernel_stats(lat, lon, dist)
    for route in ("nearest", "postal", "name"):
        b.layer[f"online.{route}_ms_p50"] = 1e3 * statistics.median(b.walls(route, None))
    b.layer["online.query_ms_p90"] = 1e3 * float(np.percentile(b.walls(None, None), 90))
    if b.args.trace:
        b.overhead("nearest")
        b.tracer.resolve()
        for route in ("nearest", "postal", "name"):
            spans = [s for s in b.loop_spans if s.name == f"online.{route}"]
            sm = merge([s.spark for s in spans])
            b.layer[f"online.jobs_per_query.{route}"] = sm["jobs"] / len(spans)
            b.layer[f"online.tasks_per_query.{route}"] = sm["tasks"] / len(spans)
            if route != "nearest":
                b.layer[f"{route}.jobs_per_query"] = sm["jobs"] / len(spans)
            if route == "name":
                b.layer["name.shuffle_bytes_per_query"] = sm["shuffle_write_bytes"] / len(spans)
    walls, adj = b.walls(), b.walls(adjusted=True)
    return {"rows_per_s": len(walls) / sum(walls), "latency_ms_p50": 1e3 * statistics.median(walls),
            "rows_per_s_adj": len(adj) / sum(adj), "latency_ms_p50_adj": 1e3 * statistics.median(adj),
            "peak_rss_mb": peak}


WORKLOADS = {"assign_sparse": assign_sparse, "finder_online": finder_online}


def run(args, host, conf, cache, work, rss) -> dict:
    import pyspark

    print(json.dumps({"host": {**host, "spark": pyspark.__version__}}), file=sys.stderr)
    b = Bench(args, host, conf, cache, work, rss)
    try:
        b.setup()
        e2e = WORKLOADS[args.workload](b)
        steal = b.layer["host.steal_ratio"] = b.steal_ratio()
        e2e["setup_s"] = b.setup_s
        if args.trace:
            metrics = {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in b.layer_metrics().items()}
            trace_dir = os.path.join(cache, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as fh:
                json.dump([s.__dict__ for s in b.tracer.spans], fh)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
            # the figures before speed adjustment, on the line before the result
            measured = {k: e2e[k] for k in ("rows_per_s", "latency_ms_p50")}
            measured["setup_s"] = b.setup_measured_s
            print(json.dumps({"measured": measured, "host.steal_ratio": steal}))
    finally:
        b.rss.stop()
        stop_spark(getattr(b, "spark", None))
    return {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
            "metrics": metrics}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)
