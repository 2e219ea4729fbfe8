"""Benchmark entry point (metrics listed in BENCHMARK.json, design in README.md).

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The program is imported from
that checkout; every input is generated from ``--seed`` under
``.bench_work/`` and removed at exit. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics (Spark's event
log on, spans folded onto its jobs). The last stdout line is the result
object; the line before it is the full report (all metrics with units,
host pinning, every failed check).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import queue
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, assign_jobs, layer_metrics, read_event_log  # noqa: E402

PACKAGE = "big_data_elt_pipeline_spark"
# registry queries of the batch pass; the seed permutes their order
QUERY_MIX = ["kpis", "tpch_q18", "serving_weekly", "hll_monthly_distinct"]
# collections published for serving_lookup
SERVED = ("gold_client_scores", "gold_daily")
TOPK_SPECS = ("expected_value_12m:desc", "monetary_12m:desc", "value_at_risk_12m:desc")
SILVER_RULES = {"clients": ("bad_id", "bad_date", "bad_email"),
                "achats": ("bad_id", "bad_date", "bad_amount", "bad_product")}
COMMON = ("s", "self_s", "jobs", "stages", "shuffle_write_bytes", "spill_bytes",
          "task_skew", "gc_s", "busy_frac")


def descendants() -> set[int]:
    """Pids of every live or zombie descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers outlive it
    briefly), so that ``stop_processes`` can wait for every one of them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def stop_processes(spark, grace_s: float = 20.0) -> None:
    """Stop the session, end the JVM and every process it started, and
    wait until each has ended: the JVM exits when its stdin closes, the
    rest are signalled if still there after ``grace_s``."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a broken session still has a JVM to end
            traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:  # no child left, so no descendant either
            return
        if time.monotonic() > deadline:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + grace_s
        time.sleep(0.02)


def tree_peak_rss() -> dict[str, int]:
    """Per-process peak resident memory (VmHWM, bytes) of this process and
    its live descendants, by kind: the driver, the JVM and the reused
    Python workers. Each is a kernel high-water mark, so no sampling is
    needed."""
    out = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    for p in {os.getpid(), *descendants()}:
        try:
            with open(f"/proc/{p}/status") as f:
                hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM")) * 1024
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except (OSError, StopIteration, IndexError, ValueError):
            continue
        kind = "driver" if p == os.getpid() else "jvm" if comm == "java" else "workers"
        out[kind] += hwm
        out["n_workers"] += kind == "workers"
    return out


class Run:
    """One benchmark run: pinned host settings, the shared session, the
    tracer and the tallies every workload reports through."""

    def __init__(self, args: argparse.Namespace, root: str):
        self.args = args
        self.root = root
        self.trace = bool(args.trace)
        self.work = os.path.join(root, ".bench_work",
                                 f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.trace)
        self.failures: list[str] = []
        self.errors: dict[str, str] = {}
        self.attempted = 0
        self.setup_s = 0.0
        self.passes: list[float] = []
        self.op_ms: list[float] = []
        self.layer_extra: dict[str, float] = {}
        self.report: dict = {}
        self._lock = threading.Lock()
        # serving_lookup: docstore root and the collection each request read
        self.store: str | None = None
        self.request_coll: dict[str, str] = {}

    # --- host pinning --------------------------------------------------
    def pin_host(self) -> dict:
        os.makedirs(f"{self.work}/tmp", exist_ok=True)
        os.makedirs(f"{self.work}/events", exist_ok=True)
        with open("/proc/meminfo") as f:
            mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
        driver_gb = max(1, min(4, mem_kb // (1024 * 1024) // 4))
        py_path = os.environ.get("PYTHONPATH")
        pinned = {
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
            "SPARK_LOCAL_DIRS": f"{self.work}/spark-local",
            # Python DataSource workers import the package by name
            "PYTHONPATH": self.root + (os.pathsep + py_path if py_path else ""),
            "TMPDIR": f"{self.work}/tmp",
        }
        os.environ.update(pinned)
        os.environ.pop("SPARK_MASTER_URL", None)
        # no JVM perf-data file under /tmp; temp files stay in the checkout
        submit = ["--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp"]
        if self.trace:
            submit += ["--conf", "spark.eventLog.enabled=true",
                       "--conf", f"spark.eventLog.dir=file://{self.work}/events",
                       "--conf", "spark.eventLog.compress=false"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
        with open("/proc/loadavg") as f:
            load = f.read().split()[:3]
        return {**pinned, "nproc": self.cpus, "mem_total_gb": round(mem_kb / 1024 ** 2, 1),
                "loadavg": [float(x) for x in load]}

    # --- tallies ---------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one checked operation; a failure is named with the error
        the operation raised, if any."""
        with self._lock:  # client threads report concurrently
            self.attempted += 1
            if not ok:
                error = self.errors.pop(name, "")
                self.failures.append(f"{name}: {error}{'; ' if error else ''}{detail}"[:500])

    def timed(self, name: str, fn):
        """Run one operation under a span; returns (result, seconds), the
        result being None if it raised (its check then fails)."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as exc:  # a failed operation is a result, not a crash
            out = None
            self.errors[name] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        return out, time.perf_counter() - t0


# --- medallion_batch ----------------------------------------------------------

def medallion_batch(run: Run, spark) -> dict:
    """Bronze -> silver -> gold (+ serving views) over dirty reference CSVs,
    the incremental ca_monthly refresh from the clean purchases, then the
    registry query mix over the generated corpus. Checks run after each
    pass, outside the timed region."""
    import numpy as np

    from big_data_elt_pipeline_spark import pipeline as P
    from big_data_elt_pipeline_spark.plans import queries as Q
    from big_data_elt_pipeline_spark.plans.compare import diff_frames, duckdb_connection
    from big_data_elt_pipeline_spark.sources import tpch
    from big_data_elt_pipeline_spark.streaming import incremental as SI

    tr, work, seed = run.tracer, run.work, run.args.seed
    t0 = time.perf_counter()
    with tr.span("gen"):
        expected = gen.write_reference_sources(f"{work}/src", seed)
        corpus_rows = gen.write_corpus(f"{work}/corpus", seed)
    # one trivial job finishes the session's lazy start-up (executor
    # threads, code generation) before the timed pass
    spark.sql("SELECT id % 10 AS k, count(*) FROM range(10000) GROUP BY 1").collect()
    run.setup_s += time.perf_counter() - t0
    registry = Q.spark_queries()
    oracle_sql = Q.oracle_queries()
    order = [QUERY_MIX[i] for i in np.random.default_rng(seed).permutation(len(QUERY_MIX))]
    source_rows = sum(expected["raw_rows"].values()) + sum(corpus_rows.values())
    src_bytes = sum(os.path.getsize(f"{work}/src/{t}.csv") for t in ("clients", "achats"))

    epochs = EpochListener(spark) if run.trace else None
    lake_ratio = 0.0
    op_s: dict[str, list[float]] = run.report.setdefault("op_s", {})
    deadline = time.perf_counter() + run.args.seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        lake, inc = f"{work}/lake{i}", f"{work}/inc{i}"
        results: dict = {}
        with tr.span("pass"):
            t_pass = time.perf_counter()
            steps = [
                ("bronze", lambda: P.bronze_ingest(spark, f"{work}/src", lake)),
                ("silver", lambda: P.silver_transform(spark, lake, gen.MIN_DATE, gen.MAX_DATE)),
                ("gold", lambda: P.gold_transform(spark, lake)),
                ("incremental", lambda: SI.incremental_ca_monthly(
                    spark, tpch.achats_df(spark, f"{work}/corpus"),
                    f"{inc}/src", f"{inc}/state").toPandas()),
            ]
            steps += [(f"query.{q}", lambda q=q: run_query(run, spark, registry[q])) for q in order]
            for name, fn in steps:
                results[name.removeprefix("query.")], sec = run.timed(name, fn)
                run.op_ms.append(sec * 1e3)
                op_s.setdefault(name, []).append(sec)
            run.passes.append(time.perf_counter() - t_pass)

        # --- checks and layer counts (untimed) -----------------------------
        try:
            bronze, audit = results["bronze"], results["silver"]
            run.check("bronze", bronze == expected["raw_rows"], f"{bronze} != {expected['raw_rows']}")
            rows_out = {t: spark.read.parquet(f"{lake}/silver/{t}").count()
                        for t in ("clients", "achats")}
            run.check("silver", audit == expected["audit"] and rows_out == expected["rows_out"],
                      f"audit {audit} rows_out {rows_out} != {expected['audit']} {expected['rows_out']}")
            problems, _ = run.timed("golden_check", lambda: P.golden_check(spark, lake))
            run.check("golden_check", problems == [], str(problems))
            con = duckdb_connection(f"{work}/corpus")
            state, batch = results["incremental"], con.execute(oracle_sql["ca_monthly"]).fetchdf()
            diff = ["raised"] if state is None else diff_frames(state[["mois", "ca"]], batch)
            run.check("incremental", not diff, "vs batch ca_monthly: " + "; ".join(diff))
            for q in order:
                got = results[q]
                diff = ["raised"] if got is None else diff_frames(
                    got[0], con.execute(oracle_sql[q]).fetchdf())
                run.check(f"query.{q}", not diff, "; ".join(diff))
            con.close()
            if i == 0:
                lake_bytes = {layer: dir_bytes(f"{lake}/{layer}") for layer in ("bronze", "silver", "gold")}
                lake_ratio = sum(lake_bytes.values()) / src_bytes
                if run.trace:
                    layer_counts(run, spark, lake, inc, results, rows_out, lake_bytes, lake_ratio, order)
        except Exception as exc:  # a check that cannot run is a failed check
            run.check("checks", False, f"{type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
        shutil.rmtree(lake, ignore_errors=True)
        shutil.rmtree(inc, ignore_errors=True)
        i += 1

    if epochs is not None:
        run.layer_extra.update(epochs.summary(run, passes=i))
    wall = statistics.median(run.passes)
    return {
        "rows_per_s": source_rows / wall,
        "requests_per_s": len(run.op_ms) / sum(run.passes),
        "lake_bytes_per_source_byte": lake_ratio,
    }


def layer_counts(run: Run, spark, lake, inc, results, rows_out, lake_bytes, lake_ratio,
                 order) -> None:
    """Layer-specific counts of the first pass, for the traced run."""
    from big_data_elt_pipeline_spark import pipeline as P

    x = run.layer_extra
    x["bronze.rows"] = float(sum((results["bronze"] or {}).values()))
    x["silver.rows_out"] = float(sum(rows_out.values()))
    for t, rules in SILVER_RULES.items():
        for r in rules:
            x[f"silver.dropped_{t}_{r}"] = float((results["silver"] or {}).get(t, {}).get(f"dropped_{r}", 0))
    x["gold.rows"] = float(sum(spark.read.parquet(f"{lake}/gold/{t}").count()
                               for t in P.GOLD_TABLES + P.SERVING_TABLES))
    for layer, b in lake_bytes.items():
        x[f"{layer}.bytes_written"] = float(b)
    x["gold.files_written"] = float(sum(
        f.endswith(".parquet") for _, _, fs in os.walk(f"{lake}/gold") for f in fs))
    x["lake.bytes_per_source_byte"] = lake_ratio
    x["incremental.staged_files"] = float(sum(
        f.endswith(".parquet") for _, _, fs in os.walk(f"{inc}/src/data") for f in fs))
    for q in order:
        if results[q] is not None:
            x[f"query.{q}.plan_s"], x[f"query.{q}.exchanges"] = results[q][1:]


def run_query(run: Run, spark, fn) -> tuple:
    """Build one registry query, plan it (traced runs time build-to-
    executedPlan and count its exchanges), then execute it to pandas."""
    t0 = time.perf_counter()
    df = fn(spark, f"{run.work}/corpus")
    plan = exchanges = 0.0
    if run.trace:
        text = df._jdf.queryExecution().executedPlan().toString()
        plan = time.perf_counter() - t0
        exchanges = float(sum(line.lstrip(" +-:").startswith(("Exchange", "BroadcastExchange"))
                              for line in text.splitlines()))
    return df.toPandas(), plan, exchanges


class EpochListener:
    """Streaming progress (one event per micro-batch) for traced runs."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append((time.time(), p.numInputRows, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_L())

    def summary(self, run: Run, passes: int) -> dict[str, float]:
        time.sleep(1.0)  # progress events are delivered asynchronously
        batches = [e for e in self.events if e[1] > 0]
        inc = [s for s in run.tracer.spans if s.name == "incremental"]
        wall = sum(s.end - s.start for s in inc)
        add = sum(d.get("addBatch", 0) for _, _, d in batches) / 1e3
        trig = [d.get("triggerExecution", 0) for _, _, d in batches]
        return {
            "incremental.epochs": len(batches) / passes,
            "incremental.epoch_p50_ms": float(statistics.median(trig)) if trig else 0.0,
            "incremental.trigger_overhead_s": (wall - add) / passes,
        }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# --- serving_lookup -------------------------------------------------------------

def serving_lookup(run: Run, spark) -> dict:
    """Gold views published to the docstore at setup; then ``nproc``
    closed-loop client threads replay a seeded request list (70% Zipf
    point lookups, 20% 7-day ranges, 10% sort_spec top-10) until the
    run's seconds are spent. Every response is compared with an answer
    precomputed by DuckDB over the published view's source."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark import serving_publish as SP
    from big_data_elt_pipeline_spark.operators import serving
    from big_data_elt_pipeline_spark.plans import queries as Q
    from big_data_elt_pipeline_spark.plans.compare import duckdb_connection

    tr, work, seed = run.tracer, run.work, run.args.seed
    t0 = time.perf_counter()
    with tr.span("gen"):
        gen.write_corpus(f"{work}/corpus", seed)
    store = f"{work}/store"
    with tr.span("publish"):
        SP.publish_gold(spark, f"{work}/corpus", store, {v: SP.GOLD_VIEWS[v] for v in SERVED})
    run.setup_s += time.perf_counter() - t0

    con = duckdb_connection(f"{work}/corpus")
    scores = con.execute(Q.oracle_queries()["client_scores"]).fetchdf()
    daily = con.execute(Q.oracle_queries()["serving_daily"]).fetchdf()
    con.close()
    by_id = {r["id_client"]: r for r in scores.to_dict("records")}
    days = sorted(daily["jour"])

    rng = np.random.default_rng(seed)
    ids = rng.permutation(scores["id_client"].to_numpy())
    zipf = 1.0 / np.arange(1, len(ids) + 1) ** 1.1
    n_req = 6 * run.cpus
    # fixed 70/20/10 shares in seeded order, so every seed sends the same mix
    n_range, n_topk = round(0.2 * n_req), round(0.1 * n_req)
    kinds = rng.permutation(["point"] * (n_req - n_range - n_topk)
                            + ["range"] * n_range + ["topk"] * n_topk)
    last_start = len([d for d in days if d <= (dt.date.fromisoformat(days[-1])
                                                - dt.timedelta(days=7)).isoformat()])
    requests = []
    for k in kinds:
        if k == "point":
            requests.append(("point", int(rng.choice(ids, p=zipf / zipf.sum()))))
        elif k == "range":
            d0 = dt.date.fromisoformat(days[int(rng.integers(0, last_start))])
            requests.append(("range", (d0.isoformat(), (d0 + dt.timedelta(days=7)).isoformat())))
        else:
            requests.append(("topk", TOPK_SPECS[int(rng.integers(0, len(TOPK_SPECS)))]))

    def answer(kind, arg):
        if kind == "point":
            return [by_id[arg]]
        if kind == "range":
            return daily[(daily.jour >= arg[0]) & (daily.jour < arg[1])].sort_values("jour").to_dict("records")
        col = arg.split(":")[0]
        return list(scores.sort_values(col, ascending=False)[col].head(10))

    expected = [answer(k, a) for k, a in requests]
    sc = spark.sparkContext
    lat: dict[str, list[float]] = {"point": [], "range": [], "topk": []}
    plan_ms: list[float] = []
    exec_ms: list[float] = []
    rows_returned = [0]
    lock = threading.Lock()

    def serve(kind, arg, rid, pass_id, layer="docstore"):
        sc.setLocalProperty("perfbench.request", rid)
        t_req = time.perf_counter()
        with tr.span(layer, parent=pass_id, request=rid):
            with tr.span("docstore.plan", request=rid):
                if kind == "point":
                    df = spark.read.format("docstore").load(f"{store}/gold_client_scores") \
                        .filter(F.col("id_client") == arg)
                elif kind == "range":
                    df = spark.read.format("docstore").load(f"{store}/gold_daily") \
                        .filter((F.col("jour") >= arg[0]) & (F.col("jour") < arg[1]))
                else:
                    df = serving.sort_spec(
                        spark.read.format("docstore").load(f"{store}/gold_client_scores"), arg, 10)
                df._jdf.queryExecution().executedPlan()
            t_exec = time.perf_counter()
            with tr.span("docstore.exec", request=rid):
                rows = [r.asDict() for r in df.collect()]
        t_end = time.perf_counter()
        with lock:
            lat[kind].append((t_end - t_req) * 1e3)
            plan_ms.append((t_exec - t_req) * 1e3)
            exec_ms.append((t_end - t_exec) * 1e3)
            rows_returned[0] += len(rows)
        return rows

    def matches(kind, arg, rows, want) -> bool:
        if kind == "topk":
            col = arg.split(":")[0]
            return [r[col] for r in rows] == want and all(r == by_id[r["id_client"]] for r in rows)
        if kind == "range":
            rows = sorted(rows, key=lambda r: r["jour"])
        return rows == want

    def client(work_q: queue.Queue, pass_id, p):
        while True:
            try:
                j = work_q.get_nowait()
            except queue.Empty:
                return
            kind, arg = requests[j]
            rid = f"p{p}r{j}"
            run.request_coll[rid] = "gold_daily" if kind == "range" else "gold_client_scores"
            t_req = time.perf_counter()
            try:
                rows = serve(kind, arg, rid, pass_id)
            except Exception as exc:  # a failed request is a result, not a crash
                with lock:  # its wait still counts as latency
                    lat[kind].append((time.perf_counter() - t_req) * 1e3)
                run.check(f"request {kind} {arg}", False, f"{type(exc).__name__}: {exc}")
                continue
            run.check(f"request {kind} {arg}", matches(kind, arg, rows, expected[j]),
                      "response differs from the DuckDB answer")

    # one untimed request per client lets the read path's lazy set-up
    # (Python worker start, code generation) finish before timing
    t0 = time.perf_counter()
    warm = [threading.Thread(target=serve, args=(*requests[j], f"warm{j}", None, "warmup"))
            for j in range(run.cpus)]
    for t in warm:
        t.start()
    for t in warm:
        t.join()
    run.setup_s += time.perf_counter() - t0
    for v in (*lat.values(), plan_ms, exec_ms):
        v.clear()
    rows_returned[0] = 0

    deadline = time.perf_counter() + run.args.seconds
    p = 0
    t_window = time.perf_counter()
    while p == 0 or time.perf_counter() < deadline:
        work_q: queue.Queue = queue.Queue()
        for j in range(len(requests)):
            work_q.put(j)
        with tr.span("pass") as pass_id:
            t_pass = time.perf_counter()
            threads = [threading.Thread(target=client, args=(work_q, pass_id, p))
                       for _ in range(run.cpus)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            run.passes.append(time.perf_counter() - t_pass)
        p += 1
    window = time.perf_counter() - t_window
    run.op_ms = [x for v in lat.values() for x in v]
    n = len(run.op_ms)
    run.layer_extra.update({
        "docstore.plan_ms": statistics.median(plan_ms) if plan_ms else 0.0,
        "docstore.exec_ms": statistics.median(exec_ms) if exec_ms else 0.0,
    })
    for kind, v in lat.items():
        run.layer_extra[f"docstore.{kind}_p50_ms"] = statistics.median(v) if v else 0.0
    run.store = store
    run.report["requests"] = {"n": n, "kinds": {k: len(v) for k, v in lat.items()}}
    return {
        "rows_per_s": rows_returned[0] / window,
        "requests_per_s": n / window,
        "point_p50_ms": run.layer_extra["docstore.point_p50_ms"],
        "range_p50_ms": run.layer_extra["docstore.range_p50_ms"],
        "topk_p50_ms": run.layer_extra["docstore.topk_p50_ms"],
    }


def docstore_shards(run: Run, spans, jobs, stages) -> dict[str, float]:
    """Shards read per request over shards stored, and tasks per request,
    from the scan stage of each request's jobs."""
    if not run.store:
        return {}
    total = {}
    for coll in SERVED:
        with open(f"{run.store}/{coll}/manifest.json") as f:
            total[coll] = len(json.load(f)["shards"])
    by_span = assign_jobs(spans, jobs)
    read = stored = tasks = n = 0
    for s in spans:
        if s.name != "docstore":
            continue
        mine = [j for c in spans if c.request == s.request for j in by_span.get(c.id, [])]
        ids = sorted(i for j in mine for i in j.stages if i in stages)
        if not ids:
            continue
        n += 1
        tasks += sum(stages[i].tasks for i in ids)
        read += stages[ids[0]].tasks
        stored += total[run.request_coll[s.request]]
    return {"docstore.shards_read_frac": read / stored if stored else 0.0,
            "docstore.tasks_per_request": tasks / n if n else 0.0}


# --- reporting ------------------------------------------------------------------

def per_layer_names() -> list[str]:
    names = ["session.s", "gen.s", "golden_check.s", "golden_check.jobs", "golden_check.busy_frac"]
    for layer in ("bronze", "silver", "gold", "incremental", "publish", "docstore"):
        names += [f"{layer}.{m}" for m in COMMON]
    for q in QUERY_MIX:
        names += [f"query.{q}.{m}" for m in
                  ("s", "plan_s", "jobs", "stages", "exchanges", "shuffle_write_bytes", "busy_frac")]
    names += ["bronze.rows", "bronze.bytes_written", "silver.rows_out", "silver.bytes_written"]
    names += [f"silver.dropped_{t}_{r}" for t, rules in SILVER_RULES.items() for r in rules]
    names += ["gold.rows", "gold.bytes_written", "gold.files_written", "lake.bytes_per_source_byte"]
    names += ["docstore.plan_ms", "docstore.exec_ms", "docstore.shards_read_frac",
              "docstore.tasks_per_request", "docstore.point_p50_ms", "docstore.range_p50_ms",
              "docstore.topk_p50_ms"]
    names += ["incremental.epochs", "incremental.staged_files", "incremental.epoch_p50_ms",
              "incremental.trigger_overhead_s", "trace.wall_s"]
    return names


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    if leaf.endswith("bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf in ("busy_frac", "shards_read_frac", "task_skew", "bytes_per_source_byte"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("medallion_batch", "serving_lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "pipeline.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = Run(args, root)
    host = run.pin_host()
    become_subreaper()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        with run.tracer.span("session"):
            from big_data_elt_pipeline_spark.session import get_spark

            spark = get_spark("perfbench")
        run.setup_s = time.perf_counter() - t0
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        host["python"] = sys.version.split()[0]
        extra = (medallion_batch if args.workload == "medallion_batch" else serving_lookup)(run, spark)
        rss = tree_peak_rss()
        run.report["peak_rss_mb_by_process"] = {k: v / 2 ** 20 if k != "n_workers" else v
                                                for k, v in rss.items()}
        peak_rss = rss["driver"] + rss["jvm"] + rss["workers"]
        stop_processes(spark)
        spark = None
        return finish(run, host, extra, peak_rss)
    finally:
        stop_processes(spark)  # returns at once if already done
        shutil.rmtree(run.work, ignore_errors=True)


def finish(run: Run, host: dict, extra: dict, peak_rss: int) -> int:
    wall = statistics.median(run.passes)
    failed = len(run.failures)
    e2e = {
        "setup_s": (run.setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (extra["rows_per_s"], "1/s"),
        "requests_per_s": (extra["requests_per_s"], "1/s"),
        "latency_p50_ms": (statistics.median(run.op_ms), "ms"),
        "peak_rss_mb": (peak_rss / 2 ** 20, "MB"),
    }
    # too few samples per run for a p95 to be steady: reported, not gated
    report_only = {
        "latency_p95_ms": (statistics.quantiles(run.op_ms, n=20, method="inclusive")[-1], "ms"),
        "failed_frac": (failed / max(run.attempted, 1), "ratio"),
        **{k: (extra[k], "ms") for k in ("point_p50_ms", "range_p50_ms", "topk_p50_ms") if k in extra},
    }
    if "lake_bytes_per_source_byte" in extra:
        report_only["lake_bytes_per_source_byte"] = (extra["lake_bytes_per_source_byte"], "ratio")

    if run.trace:
        metrics = traced_metrics(run, wall)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    full = {
        "workload": run.args.workload, "seed": run.args.seed, "trace": run.args.trace,
        "passes": len(run.passes), "pass_s": run.passes, "operations": len(run.op_ms),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **report_only}.items()},
        "host": host, "failures": run.failures, **run.report,
    }
    if run.trace:
        full["layers"] = metrics
    print(json.dumps(full, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": max(run.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


def traced_metrics(run: Run, wall: float) -> dict:
    """Fold the event log onto the spans; every per-layer name is
    reported, 0 for layers this workload does not reach."""
    jobs, stages = read_event_log(f"{run.work}/events")
    spans = run.tracer.spans
    passes = max(len(run.passes), 1)
    # set-up layers run once per run, the others once per pass
    layers = layer_metrics(spans, jobs, stages, run.cpus, passes, once={"session", "gen", "publish"})
    values: dict[str, float] = {"trace.wall_s": wall}
    for layer, m in layers.items():
        for k, v in m.items():
            values[f"{layer}.{k}"] = v
    values.update(run.layer_extra)
    values.update(docstore_shards(run, spans, jobs, stages))
    os.makedirs(os.path.join(run.root, ".bench_work", "traces"), exist_ok=True)
    run.tracer.dump(os.path.join(run.root, ".bench_work", "traces",
                                 f"{run.args.workload}-seed{run.args.seed}.json"),
                    {"layers": layers, "jobs": len(jobs), "stages": len(stages)})
    return {n: {"value": float(values.get(n, 0.0)), "unit": unit_of(n)} for n in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
