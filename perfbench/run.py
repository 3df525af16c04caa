"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Runs one named workload (see ``workloads.py``) from the repository
root in a fresh process, checks every output, and prints each metric as
``name value unit`` followed by one JSON line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the span tree to ``perfbench/.work/out/``.
Everything the benchmark writes stays inside the checkout:
``perfbench/.work/`` (inputs, Spark scratch, traces), ``.derived/``
(the program's derived layouts, under benchmark-only basenames) and
nothing else.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick
    resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: Process age when this module started running, and the clock reading
#: it belongs to: ``setup_s`` counts from process start.
_AGE0 = _process_age_s()
_T0 = time.perf_counter()

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
PACKAGE = "hadoop_cs4225_spark"


def _since_start() -> float:
    return _AGE0 + time.perf_counter() - _T0


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--layouts-only",
        action="store_true",
        help="build the workload's missing layouts and exit (run.py "
        "calls itself with this, so the builds warm no timed process)",
    )
    return p.parse_args()


def _environment() -> None:
    """Confine Spark, its JVM and Python workers to the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, BENCH]


def _adopt_orphans() -> None:
    """Become the reaper of every process started under this one
    (Linux ``PR_SET_CHILD_SUBREAPER``): the Spark JVM, Python workers
    and the layout-build child's JVM are reparented here when their
    parent exits, so ``_stop_all`` can wait for each of them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def _stop_all(spark, grace_s: float = 60.0) -> None:
    """Stop Spark and its JVM, then wait until every process started
    under this one has ended; kill what is left after ``grace_s`` and
    give up 10 s after that."""
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:
            print(f"perfbench: spark.stop raised {_error(e)}", file=sys.stderr)
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline + 10:
            print(f"perfbench: processes {kids} did not end", file=sys.stderr)
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _bytes_since(path: str, since: float) -> int:
    """Bytes of the files under ``path`` modified at or after ``since``."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(base, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _mtimes(path: str) -> dict[str, float]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[p] = os.path.getmtime(p)
    return out


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"


class Bench:
    def __init__(self, args, wl: dict, sf_dir: str, gen_s: float):
        from probes import Tracer

        self.args = args
        self.wl = wl
        self.sf_dir = sf_dir
        self.gen_s = gen_s  # input generation, left out of setup_s
        self.tracer = Tracer(bool(args.trace))
        self.rng = random.Random(args.seed)
        self.spark = None
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.setup_s = 0.0
        self.setup_parts: dict[str, float] = {}
        self.wall_s = 0.0
        self.ops: list[dict] = []  # queries and maintainer calls
        self.builds: list[dict] = []  # layout builds and freshness checks
        self.ingest: dict = {}
        self.ingesting = wl["kind"] == "ingest"
        self.rebuilt: list[str] = []  # layouts written during the pass

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        """Start the SparkSession, import and load the registry, build or
        freshness-check every layout the workload reads.
        ``setup_s`` runs from process start to the end of this, less
        input generation."""
        from workloads import LAYOUTS

        tr = self.tracer
        with tr.span("setup"):
            tb = time.perf_counter()
            before = _since_start() - self.gen_s
            if not self.ingesting and not self.args.layouts_only:
                self.prebuild()
            t0 = time.perf_counter()
            with tr.span("session.get_spark"):
                from hadoop_cs4225_spark.session import get_spark

                self.spark = get_spark(
                    app_name="perfbench",
                    extra_conf={
                        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                        + os.path.join(WORK, "tmp"),
                    },
                )
            t1 = time.perf_counter()
            with tr.span("registry.get_queries"):
                from hadoop_cs4225_spark import registry

                self.queries = registry.get_queries()
                self.oracles = registry.get_oracles()
            t2 = time.perf_counter()
            if not self.ingesting:
                self.ensure_layouts([layout[0] for layout in LAYOUTS])
            t3 = time.perf_counter()
        self.setup_s = _since_start() - self.gen_s
        self.setup_parts = {
            "process_start": before,
            "cold_build": t0 - tb,
            "session": t1 - t0,
            "registry": t2 - t1,
            "layouts": t3 - t2,
        }

    def layouts_marker(self) -> str:
        return os.path.join(self.sf_dir, "_LAYOUTS_BUILT")

    def prebuild(self) -> None:
        """Build the layouts of a dataset seen for the first time in a
        child process. Building them here would leave this process's
        JVM and the program's memo caches warm for the timed pass; the
        child's time still counts in ``setup_s``. A layout the child
        fails to build is built, or its failure counted, by this
        process's own ``ensure_layouts``."""
        if os.path.exists(self.layouts_marker()):
            return
        with self.tracer.span("sources.sinks.cold_build"):
            a = self.args
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds), "--layouts-only"],
                stdout=subprocess.DEVNULL,
                check=False,
            )

    def ensure_layouts(self, names) -> None:
        """Run the named layout builders in dependency order; each is a
        freshness check when its layout is built. Every call is recorded
        in ``builds``; one that raises is a failed operation."""
        from workloads import LAYOUTS

        for metric, module, fn, extra in LAYOUTS:
            if metric not in names:
                continue
            rec = {"name": metric, "error": None}
            with self.tracer.span(f"sources.sinks.{metric}"):
                t0 = time.perf_counter()
                try:
                    mod = importlib.import_module(f"{PACKAGE}.operators.{module}")
                    getattr(mod, fn)(self.spark, self.sf_dir, *extra)
                except Exception as e:  # counted, never dropped
                    rec["error"] = _error(e)
                rec["latency_s"] = time.perf_counter() - t0
            self.builds.append(rec)

    # ---- one query operation ------------------------------------------
    def run_query(self, name: str) -> None:
        from hadoop_cs4225_spark.plans.explain import plan_string
        from probes import job_counters, plan_metrics

        sc = self.spark.sparkContext
        tr = self.tracer
        group = f"op{len(self.ops)}"
        rec = {"name": name, "error": None}
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tr.span(f"op:{name}", group=group) as sid:
            rec["span"] = sid
            try:
                if name not in self.queries:
                    raise KeyError(f"{name} is not registered")
                fn = self.queries[name]
                rec["module"] = fn.__module__.rsplit(".", 1)[-1]
                with tr.span("operators.build"):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if tr.enabled:
                    rec["eager_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    with tr.span("plans.plan"):
                        tp = time.perf_counter()
                        plan_string(df)
                        rec["plan_s"] = time.perf_counter() - tp
                    t1 = time.perf_counter()
                with tr.span("operators.collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
                rec["columns"] = df.columns
                rec["rows"] = rows
                rec["build_s"] = t1 - t0 - rec.get("plan_s", 0.0)
                rec["collect_s"] = t2 - t1
            except Exception as e:  # counted, never dropped
                t2 = time.perf_counter()
                rec["error"] = _error(e)
                df = None
        rec["latency_s"] = t2 - t0 - rec.get("plan_s", 0.0)
        if tr.enabled:
            tc = time.perf_counter()
            rec["counters"] = job_counters(
                self.spark, sc.statusTracker().getJobIdsForGroup(group)
            )
            if df is not None:
                try:
                    rec["plan_metrics"] = plan_metrics(df)
                except Exception as e:
                    rec["plan_metrics_error"] = str(e)[:200]
            rec["trace_s"] = time.perf_counter() - tc + rec.get("plan_s", 0.0)
        self.spark.catalog.clearCache()
        self.ops.append(rec)

    # ---- the run ------------------------------------------------------
    def run(self) -> None:
        """Set up once, then time one pass over the workload's
        operations, in the pinned order. A pass of either workload is
        longer than the benchmark's ``run_seconds``, so one pass covers
        ``--seconds``."""
        with self.tracer.span("run"):
            self.setup()
            if self.ingesting:
                self.prepare_ingest()
            derived = self.derived_tree()
            before = _mtimes(derived)
            t0 = time.perf_counter()
            if self.ingesting:
                self.ingest_pass()
            else:
                for name in self.wl["ops"]:
                    self.run_query(name)
            self.wall_s = time.perf_counter() - t0
            if not self.ingesting:
                after = _mtimes(derived)
                self.rebuilt = sorted(
                    {
                        os.path.relpath(p, derived).split(os.sep)[0]
                        for p in set(before) | set(after)
                        if before.get(p) != after.get(p)
                    }
                )

    def derived_tree(self) -> str:
        from hadoop_cs4225_spark.sources.sinks import derived_path

        return derived_path(self.sf_dir, "")

    # ---- ingest -------------------------------------------------------
    def prepare_ingest(self) -> None:
        """Read the documents and deal them into chunks with the seed."""
        import pyarrow.parquet as pq

        from workloads import INGEST_CHUNKS

        self.docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        n = self.docs.num_rows
        perm = list(range(n))
        self.rng.shuffle(perm)
        cuts = [n * i // INGEST_CHUNKS for i in range(INGEST_CHUNKS + 1)]
        self.chunk_rows = [sorted(perm[lo:hi]) for lo, hi in zip(cuts, cuts[1:])]

    def ingest_pass(self) -> None:
        """Delete the private derived tree and streaming state, build the
        layouts cold, then append each chunk and run every maintainer
        on it (one micro-batch each)."""
        import pyarrow.parquet as pq

        from hadoop_cs4225_spark.streaming import streams
        from probes import job_counters, jobs_since, last_job_id
        from workloads import INGEST_LAYOUTS, MAINTAINERS

        tr = self.tracer
        derived = self.derived_tree()
        stream_dir = os.path.join(WORK, "ingest")
        shutil.rmtree(derived, ignore_errors=True)
        shutil.rmtree(stream_dir, ignore_errors=True)
        chunks_dir = os.path.join(stream_dir, "chunks")
        os.makedirs(chunks_dir)

        t0 = time.perf_counter()
        with tr.span("ingest.build"):
            self.ensure_layouts(INGEST_LAYOUTS)
        t1 = time.perf_counter()
        store_bytes = _dir_bytes(derived)
        src_bytes = os.path.getsize(os.path.join(self.sf_dir, "documents.parquet"))
        for i, rows in enumerate(self.chunk_rows):
            chunk = os.path.join(chunks_dir, f"chunk-{i:03d}.parquet")
            pq.write_table(self.docs.take(rows), chunk)
            chunk_bytes = os.path.getsize(chunk)
            for m in MAINTAINERS:
                fn = getattr(streams, f"run_incremental_{m}")
                root = os.path.join(stream_dir, m)
                first_job = last_job_id(self.spark) if tr.enabled else 0
                rec = {"name": m, "batch": i, "error": None}
                started = time.time()
                a = time.perf_counter()
                with tr.span(f"streaming.{m}.batch[{i}]"):
                    try:
                        out = fn(self.spark, chunks_dir, root, os.path.join(stream_dir, f"{m}.ckpt"))
                        rec["result"] = out
                    except Exception as e:  # counted, never dropped
                        rec["error"] = _error(e)
                rec["latency_s"] = time.perf_counter() - a
                if tr.enabled:
                    tc = time.perf_counter()
                    rec["counters"] = job_counters(
                        self.spark, jobs_since(self.spark, first_job)
                    )
                    rec["written_ratio"] = _bytes_since(root, started) / chunk_bytes
                    rec["trace_s"] = time.perf_counter() - tc
                rec["root"] = root
                self.ops.append(rec)
        t2 = time.perf_counter()
        self.ingest = {
            "build_s": t1 - t0,
            "incr_s": t2 - t1,
            "docs": self.docs.num_rows,
            "store_ratio": store_bytes / src_bytes,
            "written_mb": store_bytes / 1e6,
        }

    # ---- checks -------------------------------------------------------
    def check(self) -> None:
        """Set ``fail`` on every operation that raised or returned a
        wrong result."""
        from checks import OracleChecker, check_maintainer

        for r in self.ops + self.builds:
            r["fail"] = r["error"]
        if self.ingesting:
            final = {r["name"]: r for r in self.ops}  # each maintainer's last call
            for name, r in final.items():
                if r["fail"]:
                    continue
                with self.tracer.span(f"check:{name}"):
                    try:
                        r["fail"] = check_maintainer(
                            self.spark, name, r["result"], self.sf_dir, r["root"]
                        )
                    except Exception as e:
                        r["fail"] = f"check raised {type(e).__name__}: {str(e)[:200]}"
            return
        checker = OracleChecker(self.sf_dir, self.oracles)
        try:
            for r in self.ops:
                if r["fail"]:
                    continue
                with self.tracer.span("check", parent=r["span"]):
                    try:
                        r["fail"] = checker.check(r["name"], r["columns"], r["rows"])
                    except Exception as e:
                        r["fail"] = f"oracle raised {type(e).__name__}: {str(e)[:200]}"
        finally:
            checker.close()


def _end_to_end(b: Bench) -> dict[str, tuple[float, str]]:
    return {"setup_s": (b.setup_s, "s"), "wall_s": (b.wall_s, "s")}


def _per_layer(b: Bench) -> dict[str, tuple[float, str]]:
    """Every per-layer metric; 0 where the workload has no such work."""
    from probes import jvm_peak_rss_mb
    from workloads import INGEST_LAYOUTS, MAINTAINERS

    queries = [r for r in b.ops if "batch" not in r]
    counters = [r["counters"] for r in b.ops if "counters" in r]
    pm = [r.get("plan_metrics", {}) for r in queries]
    calls = [r for r in b.ops if "batch" in r]
    records = b.ops + b.builds

    def csum(key):
        return sum(c[key] for c in counters)

    def msum(key):
        return sum(m.get(key, 0.0) for m in pm)

    stages = csum("stages")
    parts = b.setup_parts
    ing = b.ingest
    trace_s = sum(r.get("trace_s", 0.0) for r in b.ops)
    out: dict[str, tuple[float, str]] = {
        "op_p50_s": (_median([r["latency_s"] for r in b.ops]), "s"),
        "setup.process_start_s": (parts["process_start"], "s"),
        "sources.sinks.cold_build_s": (parts["cold_build"], "s"),
        "session.get_spark_s": (parts["session"], "s"),
        "registry.get_queries_s": (parts["registry"], "s"),
        "sources.sinks.fresh_check_s": (parts["layouts"], "s"),
        "jvm_peak_rss_mb": (jvm_peak_rss_mb(b.spark), "MB"),
        "failed_frac": (sum(1 for r in records if r["fail"]) / len(records), "ratio"),
        "operators.build_s": (sum(r.get("build_s", 0.0) for r in queries), "s"),
        "operators.collect_s": (sum(r.get("collect_s", 0.0) for r in queries), "s"),
        "operators.eager_jobs": (sum(r.get("eager_jobs", 0) for r in queries), "count"),
        "plans.plan_s": (sum(r.get("plan_s", 0.0) for r in queries), "s"),
        "operators.jobs": (csum("jobs"), "count"),
        "operators.stages": (stages, "count"),
        "operators.tasks": (csum("tasks"), "count"),
        "operators.executor_run_s": (csum("executor_run_s"), "s"),
        "operators.executor_cpu_s": (csum("executor_cpu_s"), "s"),
        "operators.busy_frac": (csum("executor_run_s") / (b.wall_s * b.cpus), "ratio"),
        "operators.shuffle_write_mb": (csum("shuffle_write_mb"), "MB"),
        "operators.shuffle_read_mb": (csum("shuffle_read_mb"), "MB"),
        "operators.skipped_stage_frac": (
            csum("skipped_stages") / stages if stages else 0.0, "ratio"
        ),
        "sources.tables.input_mb": (msum("filesSize") / 1e6, "MB"),
        "sources.tables.files_read": (msum("numFiles"), "count"),
        "sources.tables.scan_s": (msum("scanTime"), "s"),
        "functions.python_s": (msum("pythonTotalTime"), "s"),
        "functions.python_boot_s": (msum("pythonBootTime"), "s"),
        "functions.python_rows": (msum("pythonNumRowsReceived"), "count"),
        "functions.python_mb": (
            (msum("pythonDataSent") + msum("pythonDataReceived")) / 1e6, "MB"
        ),
    }
    for mod in _pinned_modules(b):
        out[f"operators.{mod}.s"] = (
            sum(r["latency_s"] for r in queries if r.get("module") == mod), "s"
        )
    built = {r["name"]: r["latency_s"] for r in b.builds} if b.ingesting else {}
    for metric in INGEST_LAYOUTS:
        out[f"sources.sinks.{metric}_s"] = (built.get(metric, 0.0), "s")
    out["sources.sinks.written_mb"] = (ing.get("written_mb", 0.0), "MB")
    out["ingest.build_s"] = (ing.get("build_s", 0.0), "s")
    incr = ing.get("incr_s", 0.0)
    out["ingest.docs_per_s"] = (ing["docs"] / incr if incr else 0.0, "docs/s")
    out["ingest.store_ratio"] = (ing.get("store_ratio", 0.0), "ratio")
    for m in MAINTAINERS:
        lat = [r["latency_s"] for r in calls if r["name"] == m]
        out[f"streaming.{m}.batch_p50_s"] = (_median(lat), "s")
    nb = max((r["batch"] for r in calls), default=-1) + 1
    early = sum(r["latency_s"] for r in calls if r["batch"] < nb // 2)
    late = sum(r["latency_s"] for r in calls if r["batch"] >= nb - nb // 2)
    ratios = [r["written_ratio"] for r in calls if "written_ratio" in r]
    out["streaming.rewrite_ratio"] = (_median(ratios), "ratio")
    out["streaming.late_early_ratio"] = (late / early if early else 0.0, "ratio")
    # Time the pass spent only because tracing was on, against the
    # rest of the pass.
    out["trace.overhead_frac"] = (trace_s / max(b.wall_s - trace_s, 1e-9), "ratio")
    return out


def _pinned_modules(b: Bench) -> list[str]:
    """Operator modules of every pinned query of every workload, so a
    traced run of any workload reports the same metric names."""
    from workloads import WORKLOADS

    return sorted(
        {
            b.queries[name].__module__.rsplit(".", 1)[-1]
            for wl in WORKLOADS.values()
            if wl["kind"] == "queries"
            for name in wl["ops"]
            if name in b.queries
        }
    )


def main() -> int:
    args = _args()
    _adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    from workloads import DATA_SEED, DATA_VARIANTS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    variant = args.seed % DATA_VARIANTS
    t0 = time.perf_counter()
    import gen

    sf_dir = gen.ensure_dataset(
        os.path.join(WORK, "data"),
        f"{wl['dataset']}_v{variant}",
        wl["sf"],
        DATA_SEED + variant,
    )
    b = Bench(args, wl, sf_dir, gen_s=time.perf_counter() - t0)
    try:
        if args.layouts_only:
            b.setup()
        else:
            b.run()
            b.check()
            metrics = _per_layer(b) if args.trace else _end_to_end(b)
            if args.trace:
                out_dir = os.path.join(WORK, "out")
                os.makedirs(out_dir, exist_ok=True)
                b.tracer.write(
                    os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
                )
    finally:
        _stop_all(b.spark)
    if args.layouts_only:
        if any(r["error"] for r in b.builds):
            return 1
        open(b.layouts_marker(), "w").close()
        return 0
    records = b.ops + b.builds
    attempted = len(records)
    failed = sum(1 for r in records if r["fail"])
    for r in records:
        if r["fail"]:
            where = f" (batch {r['batch']})" if "batch" in r else ""
            print(f"FAILED {r['name']}{where}: {r['fail']}")
    for layout in b.rebuilt:
        print(f"FAILED layout {layout}: rebuilt inside the timed pass")
    print(f"operations {len(b.ops)} layout calls {len(b.builds)}")
    for r in b.ops:
        where = f"[{r['batch']}]" if "batch" in r else ""
        print(f"op {r['name']}{where} {r['latency_s']:.3f} s")
    if "failed_frac" not in metrics:
        print(f"failed_frac {failed / attempted:.6f} ratio")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6f} {unit}")
    print(
        json.dumps(
            {
                "correct": not failed and not b.rebuilt,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
