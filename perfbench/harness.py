"""Sessions, the closed-loop run, statistics and the metrics of one run.

One process, one Spark session at a time, on ``local[4]`` with
``spark.sql.shuffle.partitions=4``. An untraced run (``--trace 0``) sets up
``SETUPS`` times, then runs jobs back to back, at least one, until the run's
seconds have passed, and reports the end-to-end metrics. There is no warm-up
job: the first job runs in a JVM that has done only set-up, as one batch
submission does. A traced run (``--trace 1``) sets up once, in a session
with the Spark event log on, runs the same loop with the tracer installed,
and reports the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import time
from pathlib import Path

import reference as ref
import tracing
from workloads import WORKLOADS, Ctx, derive_turn_edges

CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"
OFFHEAP_SIZE = "1g"
SETUPS = 3  # set-ups per untraced run; setup_s is their median
MAX_CONSECUTIVE_FAILURES = 3
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
STATE_PROBE_WRITES = 5
ROTATION_SLOTS = 3  # StateScratch's default keep_last: writes that create tables


def engine_env(root: Path, run_dir: Path) -> dict[str, str]:
    """Environment for the engine: scratch, memory and worker import path,
    all inside ``run_dir``. Identical on both sides of any A/B."""
    py_path = os.environ.get("PYTHONPATH")
    return {
        "CASSOVARY_SPARK_SCRATCH": str(run_dir / "engine"),
        "CASSOVARY_SPARK_DRIVER_MEM": DRIVER_MEM,
        "CASSOVARY_SPARK_OFFHEAP_SIZE": OFFHEAP_SIZE,
        "SPARK_LOCAL_DIRS": str(run_dir / "engine" / "spark_local"),
        "TMPDIR": str(run_dir / "tmp"),
        # Python workers (streaming's applyInPandasWithState) import the package
        "PYTHONPATH": str(root) + (os.pathsep + py_path if py_path else ""),
    }


def summarize(xs: list[float]) -> dict:
    """Median, quartiles, the highest percentile with at least ten samples
    beyond it (None below 20 samples), and the sample count."""
    n = len(xs)
    if n == 0:
        return {"median": None, "q1": None, "q3": None, "pct": None, "n": 0}
    q1, _, q3 = statistics.quantiles(xs, n=4) if n >= 2 else (xs[0],) * 3
    pct = None
    for p in PERCENTILES:
        if round(n * (100 - p) / 100, 6) >= 10:
            pct = (p, statistics.quantiles(xs, n=1000)[round(p * 10) - 1])
            break
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "pct": pct, "n": n}


def format_summary(name: str, xs: list[float], unit: str) -> str:
    s = summarize(xs)
    if not s["n"]:
        return f"{name:40s} no samples on this workload"
    tail = (f" p{s['pct'][0]:g}={s['pct'][1]:.4f}" if s["pct"]
            else " (under 20 samples: no tail percentile)")
    return (f"{name:40s} median={s['median']:.4f} q1={s['q1']:.4f} q3={s['q3']:.4f}"
            f"{tail} n={s['n']} {unit}")


def cpu_seconds(root_pid: int | None) -> float:
    """CPU seconds (user + system) used so far by this process, the JVM
    ``root_pid`` and the JVM's descendants (Python workers), including
    children they have reaped. Time stolen by the host is not in it."""
    me = os.times()
    total = me.user + me.system
    if root_pid is None:
        return total
    parents: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        parents[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        children = [p for p, pp in parents.items() if pp == parent and p not in tree]
        tree.update(children)
        frontier.extend(children)
    return total + sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def source_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted((root / "cassovary_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_revision(root: Path) -> str:
    if not (root / ".git").exists():
        return "none (not a git checkout)"
    out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                         capture_output=True, text=True, timeout=30)
    return out.stdout.strip() or "unknown"


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 root: Path, run_dir: Path, out_dir: Path):
        self.wl = WORKLOADS[workload]()
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.root, self.run_dir, self.out_dir = root, run_dir, out_dir
        self.dirs = {k: str(run_dir / k) for k in ("inputs", "work", "eventlog", "tmp")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.spark = None
        self.jvm_pid: int | None = None
        self.probe: tracing.RoutingProbe | None = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.engines: dict[str, set[str]] = {}
        self.bucketed: set[bool] = set()
        self.records: list[dict] = []  # traced jobs: step times and outputs
        self.rows_in = self.m = 0  # transcript rows and turn edges of the input
        self.phases: dict[str, float] = {}  # wall seconds of each phase of the run
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    # ------------------------------------------------------------ sessions
    def start_session(self, event_log: bool):
        from cassovary_spark import get_spark

        extra = {"spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData"}
        if event_log:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dirs["eventlog"],
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", cores=CORES,
                               shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=extra)
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, tracer, event_log: bool = False) -> tuple[Ctx, float]:
        """Session start plus the workload's inputs; returns the seconds."""
        self.stop_session()
        shutil.rmtree(self.dirs["inputs"], ignore_errors=True)
        os.makedirs(self.dirs["inputs"])
        t0 = time.perf_counter()
        ctx = Ctx(self.start_session(event_log), self.seed, self.dirs, trace=tracer)
        self.wl.setup(ctx, tracer)
        return ctx, time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session, then the JVM (and with it the Python workers),
        and wait for it to exit."""
        if self.probe is not None:
            self.probe.close()
        self.stop_session()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # ---------------------------------------------------------------- jobs
    def run_job(self, ctx: Ctx) -> dict | None:
        """One closed-loop job; returns its step times, or None if it failed."""
        tracer = ctx.trace
        ctx.job, ctx.job_no = {}, ctx.job_no + 1
        times: dict[str, float] = {}
        wall = cpu = 0.0
        self.attempted += 1
        try:
            with tracer.span("job"):
                for step in self.wl.steps:
                    ctx.step = step.name
                    if tracer.enabled:
                        ctx.spark.sparkContext.setJobGroup("perfbench:" + step.name, step.name)
                    calls = []
                    for _ in range(step.repeat):
                        routed_before = self.probe.calls
                        with tracer.span("step." + step.name):
                            c0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
                            out = step.run(ctx)
                            calls.append(time.perf_counter() - t0)
                            cpu += cpu_seconds(self.jvm_pid) - c0
                        routed = "local" if self.probe.calls > routed_before else "distributed"
                        self.engines.setdefault(step.name, set()).add(routed)
                        if step.engine is not None and routed != step.engine:
                            raise ref.Mismatch(f"{step.name} routed to {routed}, "
                                               f"declared {step.engine}")
                        step.check(ctx, out)
                    times[step.name] = statistics.median(calls)
                    wall += sum(calls)
            for _step, res in ctx.job.get("pagerank_runs", []):
                self.bucketed.update(r["state_bucketed"] for r in res.history
                                     if "state_bucketed" in r)
        except Exception as exc:  # noqa: BLE001 — a failed job is counted; the run goes on
            self.failed += 1
            self.failures.append(f"job {ctx.job_no}: {type(exc).__name__}: {exc}"[:2000])
            return None
        finally:
            if tracer.enabled:
                ctx.spark.sparkContext.setJobGroup("perfbench:none", "between jobs")
            self.wl.cleanup_job(ctx)
        times["job_s"] = wall
        times["job_cpu_s"] = cpu
        for step, res in ctx.job.get("pagerank_runs", []):
            if step == "pagerank_s":  # every call runs the same iteration count
                times["pagerank_edge_iters_per_s"] = self.m * res.iterations / times[step]
        if tracer.enabled:
            self.records.append({"times": times, "job": ctx.job})
        return times

    def loop(self, ctx: Ctx, seconds: float) -> list[dict]:
        """Closed loop: jobs back to back, at least one, until ``seconds``
        have passed."""
        done: list[dict] = []
        deadline = time.perf_counter() + seconds
        streak = 0
        while True:
            times = self.run_job(ctx)
            if times is not None:
                streak = 0
                done.append(times)
            else:
                streak += 1
            if time.perf_counter() >= deadline or streak >= MAX_CONSECUTIVE_FAILURES:
                return done

    # ----------------------------------------------------------------- run
    def run(self) -> tuple[dict, list[str]]:
        """Run the workload; returns the result object and report lines."""
        null = tracing.NullTracer()
        setup_times = []
        for _ in range(1 if self.trace else SETUPS):
            ctx, dt = self.setup(null, event_log=self.trace)
            setup_times.append(dt)
        self.phase("setup")
        self.wl.references(ctx)  # untimed, once per seed
        self.rows_in, self.m = ctx.inputs["rows_in"], ctx.inputs["m"]
        self.phase("references")
        self.probe = tracing.RoutingProbe()
        if not self.trace:
            jobs = self.loop(ctx, self.seconds)
            self.phase("measure")
            py, jvm = self.peak_rss()
            metrics = {
                name: {"value": median([j[name] for j in jobs]), "unit": unit}
                for name, unit in (("job_s", "s"), ("job_cpu_s", "s"), ("pagerank_s", "s"),
                                   ("pagerank_edge_iters_per_s", "1/s"))
            }
            metrics["setup_s"] = {"value": median(setup_times), "unit": "s"}
            lines = self.step_report(jobs) + [
                format_summary("setup_s", setup_times, "s"),
                f"{'peak_rss_mb':40s} {py + jvm:.1f} MB (driver {py:.1f} + JVM {jvm:.1f})",
            ]
            return self.result(metrics), lines + self.meta_report()

        tracer = ctx.trace = tracing.Tracer()
        tracer.install()
        try:
            traced = self.loop(ctx, self.seconds)
            self.phase("measure traced")
            probes = self.layer_probes(ctx)
            self.phase("layer probes")
        finally:
            tracer.uninstall()
        leaked = tracing.dir_bytes(self.run_dir / "engine", skip=("spark_local",))
        py, jvm = self.peak_rss()
        self.stop_session()  # flushes the event log
        metrics, lines = self.layers(tracer, traced, probes, leaked, py, jvm)
        lines = self.step_report(traced) + lines + self.meta_report()
        self.dump_trace(tracer, lines)
        return self.result(metrics), lines

    def result(self, metrics: dict) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def peak_rss(self) -> tuple[float, float]:
        """Peak resident MB of this Python process and of the JVM."""
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return py, int(line.split()[1]) / 1024.0
        return py, 0.0

    # ------------------------------------------------------------- reports
    def step_report(self, jobs: list[dict]) -> list[str]:
        lines = [format_summary(name, [j[name] for j in jobs], "s")
                 for name in [s.name for s in self.wl.steps] + ["job_s", "job_cpu_s"]]
        return lines + [format_summary("pagerank_edge_iters_per_s",
                                       [j["pagerank_edge_iters_per_s"] for j in jobs], "1/s")]

    def meta_report(self) -> list[str]:
        """Everything that makes a run measure a different program: routes,
        state layout fallbacks, knobs, session sizing, revision."""
        conf = {}
        if self.spark is not None:
            c = self.spark.sparkContext.getConf()
            conf = {k: c.get(k, None) for k in (
                "spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
                "spark.memory.offHeap.enabled", "spark.memory.offHeap.size")}
        meta = {
            "workload": self.wl.name, "seed": self.seed, "seconds": self.seconds,
            "trace": self.trace,
            "engines": {k: sorted(v) for k, v in self.engines.items()},
            "state_bucketed": sorted(self.bucketed),
            "cassovary_env": {k: v for k, v in sorted(os.environ.items())
                              if k.startswith("CASSOVARY_")},
            "spark": conf or {"cores": CORES, "shuffle_partitions": SHUFFLE_PARTITIONS,
                              "driver_memory": DRIVER_MEM, "offheap_size": OFFHEAP_SIZE},
            "git_revision": git_revision(self.root),
            "source_digest": source_digest(self.root),
        }
        phases = " ".join(f"{k}={v:.1f}" for k, v in self.phases.items())
        return ([f"{'fail_ratio':40s} {self.failed}/{self.attempted}",
                 f"{'run_phases_s':40s} {phases}"]
                + [f"failure: {f}" for f in self.failures]
                + ["meta " + json.dumps(meta, sort_keys=True)])

    def dump_trace(self, tracer, lines: list[str]) -> None:
        self.out_dir.mkdir(parents=True, exist_ok=True)
        path = self.out_dir / f"{self.wl.name}-seed{self.seed}-trace.json"
        with open(path, "w") as f:
            json.dump({"report": lines, "spans": tracer.as_records()}, f)

    # -------------------------------------------------------------- layers
    def layer_probes(self, ctx: Ctx) -> dict:
        """Traced-run-only measurements on the workload's turn edges, derived
        once more from its transcript frame (a ``sources.turn_edges`` span):
        the routing pre-scan ``count()`` and a PageRank-shaped state
        round-trip through ``StateScratch``."""
        from pyspark.sql import functions as F

        from cassovary_spark import plans
        from cassovary_spark.checkpoint import StateScratch
        from cassovary_spark.graph import out_degrees, vertices_of

        edges = derive_turn_edges(self.wl.transcripts(ctx), ctx.trace)
        prescan = []
        for _ in range(3):
            t0 = time.perf_counter()
            m = edges.count()
            prescan.append(time.perf_counter() - t0)
        p = plans.choose_partitions(ctx.spark, m)
        state = (vertices_of(edges).join(out_degrees(edges), "id", "left")
                 .select("id", F.lit(1.0).alias("pagerank"),
                         F.col("out_degree").isNull().alias("is_dangling"))
                 .persist())
        state.count()
        scratch = StateScratch(ctx.spark)
        writes, reads = [], []
        try:
            # the first writes of a rotation create its tables; a superstep
            # in steady state pays the insert into a rotated slot
            for i in range(STATE_PROBE_WRITES):
                t0 = time.perf_counter()
                back = scratch.roundtrip(state, bucket_by="id", num_buckets=p)
                t1 = time.perf_counter()
                back.count()
                if i >= ROTATION_SLOTS:
                    writes.append(t1 - t0)
                    reads.append(time.perf_counter() - t1)
            fallbacks = int(not scratch._bucketing_ok)
        finally:
            scratch.close()
            state.unpersist()
            edges.unpersist()
        return {"prescan": prescan, "partitions": p, "state_write": writes,
                "state_read": reads, "fallbacks": fallbacks}

    def layers(self, tracer, traced, probes, leaked, py, jvm):
        """Per-layer figures of the traced loop. Returns the JSON metrics
        (each measured on every workload; counts are 0 where a layer does no
        work) and text lines with the full breakdown."""
        n_jobs = max(1, len(self.records))
        J: dict[str, dict] = {}
        lines: list[str] = []

        def put(name, value, unit):
            J[name] = {"value": value, "unit": unit}
            lines.append(f"{name:40s} {value!r} {unit}")

        def dist(name, xs, unit="s"):
            lines.append(format_summary(name, xs, unit))
            return median(xs)

        def inside(name, step):
            """Spans named ``name`` that ran inside a ``step`` span."""
            outer = tracer.named("step." + step)
            return [s for s in tracer.named(name)
                    if any(o.start <= s.start and s.end <= o.end for o in outer)]

        # sources
        put("sources.turn_edges_s", median([s.seconds for s in tracer.named("sources.turn_edges")]), "s")
        put("sources.rows_in", int(self.rows_in), "count")
        put("sources.edges_out", int(self.m), "count")
        # plans
        put("plans.prescan_s", median(probes["prescan"]), "s")
        put("plans.partitions", int(probes["partitions"]), "count")
        chosen = sorted({s.attrs["partitions"] for s in tracer.named("plans.choose_partitions")})
        lines.append(f"{'plans.partitions_by_operators':40s} {chosen}")
        lines.append(f"{'plans.engine':40s} " + ", ".join(
            f"{k}={'/'.join(sorted(v))}" for k, v in self.engines.items()))
        # operators: distributed supersteps
        walls, fixed, per_job, dist_steps = [], [], [], set()
        for rec in self.records:
            n = 0
            for step, res in rec["job"].get("pagerank_runs", []):
                w = [row["wall_sec"] for row in res.history if "wall_sec" in row]
                if w:  # distributed steps run once per job
                    walls += w
                    n += len(w)
                    fixed.append(rec["times"][step] - sum(w))
                    dist_steps.add(step)
            per_job.append(n)
        put("operators.supersteps", int(median(per_job)), "count")
        p50 = dist("operators.superstep_s", walls)
        dist("operators.fixed_s", fixed)
        ev = tracing.read_event_log(self.dirs["eventlog"], {"perfbench:" + s for s in dist_steps})
        total = sum(per_job)
        put("operators.shuffle_bytes_per_superstep",
            ev["shuffle_bytes"] // total if total else 0, "bytes")
        put("operators.shuffle_records_per_superstep",
            ev["shuffle_records"] // total if total else 0, "count")
        lines.append(f"{'operators.task_skew':40s} {ev['task_skew']!r} "
                     f"(median over {ev['stages']} stages of max/median task time)")
        # local engine
        transfer = tracer.named("local_engine.transfer")
        dist("local_engine.transfer_s", [s.seconds for s in transfer])
        ns = []
        for op in tracing.KERNELS:
            spans = tracer.named(f"local_engine.kernel.{op}")
            dist(f"local_engine.kernel_s.{op}", [s.seconds for s in spans])
            ns += [s.seconds * 1e9 / (s.attrs["iterations"] * s.attrs["edges"])
                   for s in spans if s.attrs.get("iterations")]
        dist("local_engine.result_s", [s.seconds for s in tracer.named("local_engine.result")])
        dist("local_engine.kernel_ns_per_edge_iter", ns, "ns")
        put("local_engine.bytes_moved_computed",
            sum(s.attrs["bytes"] for s in transfer) // n_jobs, "bytes")
        # streaming
        batches = [p for rec in self.records for p in rec["job"].get("stream_progress", [])
                   if p["numInputRows"] > 0]
        put("streaming.batches", len(batches) // n_jobs, "count")
        put("streaming.rows_in", sum(p["numInputRows"] for p in batches) // n_jobs, "count")
        state_rows = [op["numRowsTotal"] for p in batches for op in p["stateOperators"]]
        put("streaming.state_rows", int(max(state_rows)) if state_rows else 0, "count")
        dist("streaming.batch_ms", [p["durationMs"]["triggerExecution"] for p in batches], "ms")
        # checkpoint: state transport and the durable store
        w, r = median(probes["state_write"]), median(probes["state_read"])
        put("checkpoint.state_write_s", w, "s")
        put("checkpoint.state_read_s", r, "s")
        rts = tracer.named("checkpoint.scratch_roundtrip")
        put("checkpoint.bucketed_fallbacks",
            probes["fallbacks"] + sum(1 for s in rts if not s.attrs.get("bucketed", True)),
            "count")
        saves = tracer.named("checkpoint.save")
        dist("checkpoint.save_s", [s.seconds for s in saves])
        put("checkpoint.save_bytes", int(median([s.attrs["bytes"] for s in saves])), "bytes")
        dist("checkpoint.latest_s", [s.seconds for s in tracer.named("checkpoint.latest")])
        replayed = [rec["job"]["replayed"] for rec in self.records if "replayed" in rec["job"]]
        put("checkpoint.replayed_supersteps", max(replayed, default=0), "count")
        put("checkpoint.leaked_bytes", leaked, "bytes")
        # session memory and the cost of tracing
        put("session.driver_rss_mb", py, "MB")
        put("session.jvm_rss_mb", jvm, "MB")
        # minus job_s of the untraced runs of the same workload = tracing cost
        put("trace.job_s", median([j["job_s"] for j in traced]), "s")
        lines += self.pagerank_split(inside, probes, p50, w, r)
        return J, lines

    def pagerank_split(self, inside, probes, p50, w, r) -> list[str]:
        """PageRank's time split into layers, with the unexplained rest."""
        if p50:
            return [f"{'split.superstep':40s} p50={p50:.4f} s = state write {w:.4f}"
                    f" + state read {r:.4f} + rest {p50 - w - r:.4f}"
                    f" (state share {(w + r) / p50:.3f})"]
        pr = median([rec["times"]["pagerank_s"] for rec in self.records
                     if "pagerank_s" in rec["times"]])
        if not pr:
            return []
        pre = median(probes["prescan"])
        parts = {
            "transfer": median([s.seconds for s in inside("local_engine.transfer", "pagerank_s")]),
            "kernel": median([s.seconds for s in inside("local_engine.kernel.pagerank", "pagerank_s")]),
            "result": median([s.seconds for s in inside("local_engine.result", "pagerank_s")]),
        }
        rest = pr - pre - sum(parts.values())
        return [f"{'split.pagerank_local':40s} pagerank_s={pr:.4f} s = prescan {pre:.4f} + "
                + " + ".join(f"{k} {v:.4f}" for k, v in parts.items())
                + f" + unexplained {rest:.4f}"]
