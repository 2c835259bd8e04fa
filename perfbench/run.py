"""Layered performance benchmark for the etl_8x8_spark engine.

Runs one workload of registry queries through their public builders
``(spark, sf_dir) -> DataFrame`` on ``local[<cores>]`` from one driver
process, on tables generated from ``--seed``. Each query is measured
from the builder call until its noop sink completes, in wall time and
in CPU time of the whole process tree (``cputime.py``); the end-to-end
metrics are the CPU figures. After the measured passes every query's
output is checked once against its DuckDB oracle.

    python3 perfbench/run.py --workload adhoc_small --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and prints the per-layer metrics of the traced passes.
The last line of stdout is the result as one JSON object. Everything
the run writes stays under ``perfbench/.work``; a full record of the
run (host evidence, every pass, failures, spans) is kept in
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import cputime  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ENGINE_PKG = "etl_8x8_spark"
SCALE_TAG = "sf0.01"
SETUPS = 3
WARMUP_PASSES = 1
MIN_STEADY_PASSES = 3
SLOWEST_SPLIT = 20
DRIVER_MEM = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every directory Spark, the engine and Python write to
    under ``work``, and clear engine knobs inherited from the caller."""
    dirs = {k: os.path.join(work, k) for k in
            ("data", "scratch", "local", "warehouse", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # spark-submit's launcher JVM starts before the driver and gets
    # none of the driver's options.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    # Python workers import the engine's UDF modules by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return dirs


def spark_conf(dirs: dict[str, str], traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM} "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def redirect_output(log_path: str):
    """Send fds 1 and 2 (Python, the JVM, Python workers) to a log
    file; return handles on the original stdout and stderr."""
    sys.stdout.flush()
    sys.stderr.flush()
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return out, err


def cpu_probe() -> float:
    """Median seconds of a fixed pure-Python loop: host speed evidence."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def count_files(root: str, since: float) -> int:
    return sum(
        1
        for d, _, files in os.walk(root)
        for f in files
        if os.stat(os.path.join(d, f)).st_mtime >= since
    )


class Runner:
    """One driver process: set-up, measured passes, output check."""

    def __init__(self, args: argparse.Namespace, dirs: dict[str, str], log_path: str):
        self.wl = WORKLOADS[args.workload]
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.dirs = dirs
        self.log_path = log_path
        self.sf_dir = os.path.join(dirs["data"], SCALE_TAG)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.specs: dict = {}
        self.tracer = tracing.Tracer()
        # Wall clock minus perf_counter: puts spans on the event log's clock.
        self.epoch = time.time() - time.perf_counter()
        self.attempted = 0
        self.failures: list[dict] = []
        self.persisted_peak = 0
        self.run_span = None
        self.app_id = ""
        self.meter = None

    # -- failures -----------------------------------------------------
    def fail(self, name: str, phase: str, error) -> None:
        text = error if isinstance(error, str) else f"{type(error).__name__}: {error}"
        self.failures.append({"query": name, "phase": phase, "error": text[:400]})

    # -- set-up ---------------------------------------------------------
    def setup(self, index: int) -> dict[str, float]:
        """Session start, registry import, warm-up action and fixture
        materialisation into a fresh scratch directory. Set-ups after
        the first restart the session in the same JVM and re-import
        the engine's modules."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        for m in [m for m in sys.modules
                  if m == ENGINE_PKG or m.startswith(ENGINE_PKG + ".")]:
            del sys.modules[m]
        os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(
            self.dirs["scratch"], f"setup{index}")
        c0 = self.cpu()
        t0 = time.perf_counter()
        from etl_8x8_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cpus=self.cpus, shuffle_partitions=self.cpus,
            extra_conf=spark_conf(self.dirs, self.traced),
        )
        t1 = time.perf_counter()
        if self.meter is None:
            self.meter = cputime.Meter(self.jvm_pid())
        from etl_8x8_spark.registry import all_queries

        self.specs = all_queries()
        t2 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t3 = time.perf_counter()
        for key in self.wl.fixture_keys:
            try:
                self.specs[key].builder(self.spark, self.sf_dir)
            except Exception as exc:  # noqa: BLE001 - reported as a failure
                self.fail(key, "setup", exc)
            self.spark.catalog.clearCache()
        t4 = time.perf_counter()
        c4 = self.cpu()
        jit = c4[1] - c0[1]
        return {"session_s": t1 - t0, "registry_s": t2 - t1,
                "warmup_s": t3 - t2, "fixtures_s": t4 - t3, "total_s": t4 - t0,
                "cpu_s": c4[0] - c0[0] - jit, "jit_cpu_s": jit}

    def cpu(self) -> tuple[float, float]:
        """(tree CPU s, JIT CPU s); before the JVM starts it has no JIT."""
        return self.meter.read() if self.meter else (cputime.tree_cpu_s(), 0.0)

    # -- one query ------------------------------------------------------
    def run_query(self, name: str, pass_span) -> tuple[float, float, float] | None:
        """Latency, CPU seconds of the process tree without the JIT
        compiler threads, and CPU seconds of those threads; None when
        the query failed. A traced query gets a span per phase, and each
        phase runs its jobs in a job group named after its span."""
        builder = self.specs[name].builder
        traced = pass_span is not None
        phase = "build"
        self.attempted += 1
        c0 = self.cpu()
        t0 = time.perf_counter()
        if traced:
            q = self.tracer.open(name, "query", self.epoch + t0, pass_span)
            span = self._phase("build", t0, q)
        t1 = None
        try:
            df = builder(self.spark, self.sf_dir)
            if traced:
                phase = "plan"
                span = self._phase("plan", time.perf_counter(), q, span)
                df._jdf.queryExecution().executedPlan()
                span = self._phase("exec", time.perf_counter(), q, span)
            phase = "exec"
            df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            c1 = self.cpu()
        except Exception as exc:  # noqa: BLE001 - one query must not end the run
            self.fail(name, phase, exc)
        if traced:
            span.end = q.end = self.epoch + (t1 or time.perf_counter())
            self._group(None)
        self.hygiene(traced)
        if t1 is None:
            return None
        jit = c1[1] - c0[1]
        return t1 - t0, c1[0] - c0[0] - jit, jit

    def _phase(self, name: str, at: float, query, previous=None):
        if previous is not None:
            previous.end = self.epoch + at
        span = self.tracer.open(name, name, self.epoch + at, query)
        self._group(span)
        return span

    def _group(self, span) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", None if span is None else str(span.id))

    def hygiene(self, traced: bool) -> None:
        """After each query, outside its timing: record what it left
        persisted (traced passes) and drop it."""
        if traced:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
            self.persisted_peak = max(self.persisted_peak, held)
        self.spark.catalog.clearCache()

    def collect_heaps(self) -> None:
        """Between passes: collect both heaps so every pass starts from
        the same memory baseline."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    # -- passes ---------------------------------------------------------
    def probe_load_table(self, pass_span) -> None:
        """Direct readers.load_table calls, one per table."""
        from etl_8x8_spark.sources.readers import load_table

        for table in datagen.TABLES:
            t0 = time.perf_counter()
            span = self.tracer.open(f"load_table {table}", "sources",
                                    self.epoch + t0, pass_span)
            self._group(span)
            try:
                load_table(self.spark, self.sf_dir, table)
            finally:
                self._group(None)
            span.end = self.epoch + time.perf_counter()

    def run_pass(self, order: list[str], traced: bool) -> dict:
        self.collect_heaps()
        pass_span = None
        warn_from = os.path.getsize(self.log_path)
        t0 = time.perf_counter()
        if traced:
            pass_span = self.tracer.open("pass", "pass", self.epoch + t0, self.run_span)
            self.persisted_peak = 0
            self.probe_load_table(pass_span)
        latencies, cpus, jit = {}, {}, 0.0
        for name in order:
            took = self.run_query(name, pass_span)
            if took is not None:
                latencies[name], cpus[name], j = took
                jit += j
        t1 = time.perf_counter()
        record = {"traced": traced, "wall": sum(latencies.values()),
                  "cpu": sum(cpus.values()), "jit_cpu": jit, "elapsed": t1 - t0,
                  "latencies": latencies, "cpus": cpus}
        if traced:
            pass_span.end = self.epoch + t1
            record.update(
                span=pass_span.id,
                warn_lines=self.warn_lines(warn_from),
                files_written=count_files(self.dirs["scratch"], self.epoch + t0),
                persisted_bytes=self.persisted_peak,
            )
        return record

    def warn_lines(self, offset: int) -> int:
        with open(self.log_path, "rb") as fh:
            fh.seek(offset)
            return sum(1 for line in fh if b" WARN " in line)

    def measure(self, seconds: float) -> tuple[dict, list[dict], list[dict]]:
        """A cold pass, warm-up passes while the JIT still compiles the
        hot paths, then a fixed number of steady passes. In a traced run
        the steady passes alternate untraced and traced."""
        rng = random.Random(self.seed)

        def order() -> list[str]:
            keys = list(self.wl.keys)
            rng.shuffle(keys)
            return keys

        self.app_id = self.spark.sparkContext.applicationId
        t0 = time.perf_counter()
        self.run_span = self.tracer.open("run", "run", self.epoch + t0)
        cold = self.run_pass(order(), traced=False)
        warmup = [self.run_pass(order(), traced=False) for _ in range(WARMUP_PASSES)]
        n = max(MIN_STEADY_PASSES, round(seconds / self.wl.pass_s))
        steady = [self.run_pass(order(), traced=self.traced and i % 2 == 1)
                  for i in range(n)]
        self.run_span.end = self.epoch + time.perf_counter()
        return cold, warmup, steady

    # -- output check ---------------------------------------------------
    def check_outputs(self) -> None:
        from check import OracleCheck

        checker = OracleCheck(ROOT, self.sf_dir, datagen.TABLES, self.dirs["tmp"])
        try:
            for name in sorted(self.wl.keys):
                self.attempted += 1
                phase = "build"
                try:
                    df = self.specs[name].builder(self.spark, self.sf_dir)
                    phase = "exec"
                    result = df.toPandas()
                    phase = "check"
                    bad = checker.mismatch(result, self.specs[name].oracle)
                except Exception as exc:  # noqa: BLE001 - reported as a failure
                    self.fail(name, phase, exc)
                    continue
                finally:
                    self.spark.catalog.clearCache()
                if bad:
                    self.fail(name, "check", bad)
        finally:
            checker.close()

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> float:
        """High-water RSS of the driver JVM, from /proc."""
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / tracing.MB
        raise RuntimeError("VmHWM missing from /proc status")

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait()


def end_to_end(setups: list[dict], cold: dict, steady: list[dict], rss: float) -> tuple[dict, dict]:
    """End-to-end metrics of an untraced run, and the wall-clock figures
    and query CPU percentiles that go only into the record."""
    cpus = [v for p in steady for v in p["cpus"].values()]
    lats = [v for p in steady for v in p["latencies"].values()]
    tail, wall_tail = stats.tail_percentile(cpus), stats.tail_percentile(lats)
    if tail is None:
        raise RuntimeError(f"{len(cpus)} steady executions: too few for a tail")
    metrics = {
        "setup_s": statistics.median(s["cpu_s"] for s in setups),
        "cold_cpu_s": cold["cpu"],
        "pass_cpu_s": statistics.median(p["cpu"] for p in steady),
        "query_cpu_geomean_s": stats.geomean_of_medians([p["cpus"] for p in steady]),
        "peak_rss_mb": rss,
    }
    record = {
        "query_cpu_p50_s": statistics.median(cpus),
        "query_cpu_tail_s": tail[1],
        "jit_cpu_s": statistics.median(p["jit_cpu"] for p in steady),
        "setup_wall_s": statistics.median(s["total_s"] for s in setups),
        "cold_wall_s": cold["wall"],
        "wall_s": statistics.median(p["wall"] for p in steady),
        "latency_p50_s": statistics.median(lats),
        "latency_tail_s": wall_tail[1],
    }
    return metrics, {"tail_percentile": tail[0], "samples": len(cpus),
                     "steady_passes": len(steady), "unbounded": record}


def per_layer(runner: Runner, setups: list[dict], steady: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics of the traced passes (median over passes)."""
    with open(os.path.join(runner.dirs["eventlog"], runner.app_id)) as fh:
        log = tracing.parse_event_log(fh)
    groups = tracing.jobs_by_group(log)
    tracer = runner.tracer
    children: dict[int | None, list] = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)
    # Jobs and stages become spans under the phase whose group ran them.
    for s in list(tracer.spans):
        for job in groups.get(str(s.id), []):
            js = tracer.add(f"job {job.id}", "job", job.start, job.end, s)
            for st in tracing.job_stages(log, [job]):
                tracer.add(f"stage {st.id}", "stage", st.start, st.end, js)

    def jobs_of(spans) -> list:
        return [j for s in spans for j in groups.get(str(s.id), [])]

    def covered(spans) -> float:
        """Seconds of these spans during which one of their jobs ran."""
        return sum(tracing.union_length((j.start, j.end) for j in jobs_of([s]))
                   for s in spans)

    def totals(jobs) -> dict:
        return tracing.stage_totals(tracing.job_stages(log, jobs), runner.cpus)

    traced = [p for p in steady if p["traced"]]
    per_pass, split = [], []
    for p in traced:
        kids = children.get(p["span"], [])
        queries = [s for s in kids if s.layer == "query"]
        loads = [s for s in kids if s.layer == "sources"]
        phase = {ph: [c for q in queries for c in children.get(q.id, []) if c.layer == ph]
                 for ph in ("build", "plan", "exec")}
        query_jobs = jobs_of(phase["build"] + phase["plan"] + phase["exec"])
        every, ex = totals(query_jobs), totals(jobs_of(phase["exec"]))
        build_s = sum(s.duration for s in phase["build"])
        build_job_s = covered(phase["build"])
        exec_s = sum(s.duration for s in phase["exec"])
        per_pass.append({
            "sources.load_table_s": statistics.fmean(s.duration for s in loads),
            "sources.load_table_jobs": len(jobs_of(loads)) / len(loads),
            "sources.scan_mb": every["in_bytes"] / tracing.MB,
            "sources.scan_rows": every["in_rows"],
            "sources.warn_lines": p["warn_lines"],
            "sources.write_mb": every["out_bytes"] / tracing.MB,
            "sources.files_written": p["files_written"],
            "sources.write_s": sum(
                j.end - j.start for j in tracing.write_jobs(query_jobs, log)),
            "operators.build_s": build_s,
            "operators.build_jobs": len(jobs_of(phase["build"])),
            "operators.build_job_s": build_job_s,
            "operators.build_py_s": build_s - build_job_s,
            "catalyst.plan_s": sum(s.duration for s in phase["plan"]),
            "exec.s": exec_s,
            "exec.driver_s": exec_s - covered(phase["exec"]),
            "exec.jobs": len(jobs_of(phase["exec"])),
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.executor_run_s": ex["run_s"],
            "exec.executor_cpu_s": ex["cpu_s"],
            "exec.shuffle_write_mb": ex["shuffle_write"] / tracing.MB,
            "exec.shuffle_read_mb": ex["shuffle_read"] / tracing.MB,
            "exec.spill_mb": ex["spill"] / tracing.MB,
            "exec.slot_util": ex["slot_util"],
            "exec.task_skew": ex["task_skew"],
            "exec.gc_s": ex["gc_s"],
            "cache.persisted_mb": p["persisted_bytes"] / tracing.MB,
            "python_worker.stage_s": every["py_stage_s"],
            "python_worker.rows": every["py_rows"],
            "python_worker.data_mb": every["py_bytes"] / tracing.MB,
            "jvm.jit_cpu_s": p["jit_cpu"],
        })
        for q in queries:
            ph = {c.layer: c for c in children.get(q.id, [])}
            if len(ph) == 3:
                jobs = covered([ph["build"]])
                split.append({"query": q.name, "latency_s": q.duration,
                              "build_py_s": ph["build"].duration - jobs,
                              "build_job_s": jobs, "plan_s": ph["plan"].duration,
                              "exec_s": ph["exec"].duration})
    metrics = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
    metrics["session.start_s"] = statistics.median(s["session_s"] for s in setups)
    metrics["registry.load_s"] = statistics.median(s["registry_s"] for s in setups)
    metrics["pass.wall_s"] = statistics.median(p["wall"] for p in steady if not p["traced"])
    slowest = sorted(split, key=lambda d: -d["latency_s"])[:SLOWEST_SPLIT]
    metrics["trace.overhead_s"] = (
        statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in steady if not p["traced"]))
    extra = {"per_pass": per_pass, "self_time_s": tracing.self_times(tracer.spans),
             "slowest_split": slowest}
    return metrics, extra


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE_PKG)):
        print(f"perfbench: engine package {ENGINE_PKG}/ not found beside "
              f"{os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    try:
        declared = declared_metrics(args.trace)
    except (OSError, ValueError, KeyError) as exc:
        print(f"perfbench: cannot read BENCHMARK.json: {exc}", file=sys.stderr)
        return 2
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", stamp)
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    dirs = isolate(work)
    log_path = os.path.join(work, "driver.log")
    out, err = redirect_output(log_path)
    host = {"cpus": len(os.sched_getaffinity(0)), "loadavg_1m_start": os.getloadavg()[0],
            "cpu_probe_s": cpu_probe()}
    runner = Runner(args, dirs, log_path)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": SCALE_TAG}
    phases = {}
    try:
        t = time.perf_counter()
        datagen.generate(runner.sf_dir, args.seed)
        phases["datagen_s"] = -t + (t := time.perf_counter())
        setups = [runner.setup(i) for i in range(SETUPS)]
        phases["setup_s"] = -t + (t := time.perf_counter())
        cold, warmup, steady = runner.measure(args.seconds)
        phases["passes_s"] = -t + (t := time.perf_counter())
        rss = runner.peak_rss_mb()
        runner.check_outputs()
        phases["check_s"] = -t + (t := time.perf_counter())
        runner.shutdown()
        phases["shutdown_s"] = time.perf_counter() - t
        record.update(setups=setups, cold=cold, warmup=warmup, steady=steady,
                      peak_rss_mb=rss)
        if args.trace:
            metrics, extra = per_layer(runner, setups, steady)
            record.update(extra, spans=[vars(s) for s in runner.tracer.spans])
            summary = f"traced_passes={sum(p['traced'] for p in steady)}"
        else:
            metrics, info = end_to_end(setups, cold, steady, rss)
            record.update(info)
            summary = (f"tail=p{info['tail_percentile']} of n={info['samples']} "
                       f"steady_passes={info['steady_passes']}")
        record["metrics"] = metrics
        missing = sorted(set(declared) - set(metrics))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
    except Exception:  # noqa: BLE001 - report, stop Spark, exit non-zero
        traceback.print_exc(file=err)
        err.write(f"perfbench: run failed; driver log kept at {log_path}\n")
        try:
            runner.shutdown()
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=err)
        return 1
    host["loadavg_1m_end"] = os.getloadavg()[0]
    record.update(host=host, phases=phases, failures=runner.failures,
                  attempted=runner.attempted)
    path = os.path.join(results, f"{stamp}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for f in runner.failures:
        out.write(f"perfbench: FAILED {f['query']} [{f['phase']}] {f['error'][:200]}\n")
    out.write(
        f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} {summary} "
        f"loadavg_1m={host['loadavg_1m_start']:.2f}->{host['loadavg_1m_end']:.2f} "
        f"cpu_probe_s={host['cpu_probe_s']:.4f} record={os.path.relpath(path, ROOT)}\n"
    )
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
