"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 20 --trace 0

One closed-loop client: the next operation starts only after the previous
one returned, and each pass runs the workload's operations in a seeded
order. The run sets up (imports, ``get_spark``, one warm-up pass whose
outputs are checked), then times whole passes for about ``--seconds``,
at least one. Metric names and units come from
``BENCHMARK.json``; see ``perfbench/README.md``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics read by
``trace.Tracer``, including the tracing overhead. The last line of
standard output is always one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
record (host facts, sample counts, self time per layer).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nthu_cs542200_parallel_programming_hw4_mapreduce_spark"
WORKLOADS = ("mr_wordcount", "sql_relational", "llm_pipeline", "streaming_drain")
#: Extra untimed noop passes after the checked warm-up pass: the short
#: relational queries keep getting faster for several passes.
EXTRA_WARMUP = {"sql_relational": 2}
#: Units of the end-to-end figures in the record. BENCHMARK.json bounds the
#: steady ones; the others are printed in the record only (see README).
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "peak_rss_mb": "MB", "failed_ratio": "ratio",
}
#: Per-layer metrics reported per ``run_job`` call rather than per pass.
PER_CALL = "operators.mapreduce."


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


T_START = process_start_epoch()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="table scale factor")
    p.add_argument("--lines", type=int, default=200_000, help="run_job corpus lines")
    return p.parse_args(argv)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process and every live descendant (the JVM and
    its Python workers), by command name."""
    out: dict[str, float] = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return out


def source_digest() -> str:
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def tail(samples: list[float]) -> tuple[float, float]:
    """Value at the highest percentile with at least ten samples beyond it,
    and that percentile (the maximum, at 100, when n <= 10)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


class Context:
    """What one operation needs: the session, the tracer, the registry and
    the job-id boundary between building a query and writing it."""

    def __init__(self, spark, tracer, queries):
        self.spark = spark
        self.tracer = tracer
        self.queries = queries
        self.op = 0
        self.job_mid = 0

    def mark_write(self) -> None:
        if self.tracer.active:
            self.job_mid = self.tracer.next_job()


class Run:
    """The operations of one run, their outcomes, and the time excluded
    from set-up."""

    def __init__(self):
        self.excluded_s = 0.0
        self.ops: list[dict] = []
        self.problems: list[str] = []

    @contextmanager
    def excluded(self):
        """Time spent here is not set-up: inputs, oracles, probes, checks."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def op(self, ctx, wl, name: str, check: bool, traced: bool, pass_no: int) -> None:
        ctx.op += 1
        tracer = ctx.tracer
        t0 = time.perf_counter()
        if traced:
            lo = tracer.begin_op(ctx.op, name)
            ctx.job_mid = lo
        # one failed operation or check must not end the run
        try:
            result = wl.run(ctx, name, check)
        except Exception:
            result, err = None, traceback.format_exc()
        else:
            err = None
        latency = time.perf_counter() - t0
        if traced:
            tracer.end_op(lo, ctx.job_mid, result if isinstance(result, dict) else None)
        if err is None:
            with self.excluded():
                try:
                    problems = wl.verify(name, result)
                except Exception:
                    err = traceback.format_exc()
        if err is not None:
            print(f"[perfbench] {name} raised:\n{err}", file=sys.stderr)
            problems = [f"{name}: raised {err.strip().splitlines()[-1]}"]
        self.problems.extend(problems)
        self.ops.append({
            "name": name, "s": latency, "pass": pass_no, "traced": traced,
            "ok": not problems,
        })


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cache = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(cache, f"run-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # every JVM, Spark's launcher included: temp files inside the checkout,
    # and no /tmp/hsperfdata_* entry
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-XX:-UsePerfData",
    )))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        return _main(args, spec, cache, scratch, nproc, Run())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _main(args, spec, cache, scratch, nproc, run: Run) -> int:
    import importlib
    import pkgutil
    import tempfile

    import numpy as np

    tempfile.tempdir = None  # honour the TMPDIR set above
    import bench  # host calibration probe
    import tracing
    import workloads
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry, session

    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    queries = registry.all_queries()

    facts: dict = {"seed": args.seed, "workload": args.workload, "trace": args.trace}
    with run.excluded():
        facts["load_start"] = os.getloadavg()
        facts["calib_mt_ms_before"] = bench._calib_mt_ms()
        if args.workload == "mr_wordcount":
            wl = workloads.MapReduceWorkload(
                cache, args.seed, args.lines, nproc, os.path.join(scratch, "mr-out")
            )
        else:
            wl = workloads.QueryWorkload(
                workloads.QUERY_WORKLOADS[args.workload], cache, args.seed, args.sf
            )
    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    start_ms = (time.perf_counter() - t) * 1e3
    spark.sparkContext.setLogLevel("ERROR")
    tables_before = len(spark.catalog.listTables())
    tracer = tracing.Tracer(spark)
    ctx = Context(spark, tracer, queries)
    rng = np.random.default_rng([args.seed, 4])
    try:
        t = time.perf_counter()
        excluded_before = run.excluded_s
        for name in wl.pass_order(rng):
            run.op(ctx, wl, name, check=True, traced=False, pass_no=-1)
        for _ in range(EXTRA_WARMUP.get(args.workload, 0)):
            for name in wl.pass_order(rng):
                run.op(ctx, wl, name, check=False, traced=False, pass_no=-1)
        warmup_ms = (time.perf_counter() - t - (run.excluded_s - excluded_before)) * 1e3
        setup_s = time.time() - T_START - run.excluded_s

        # Whole passes only, so every run samples each operation equally
        # often: at least one, then another while, judged by the last
        # pass, it would end within --seconds plus half a pass. With
        # --trace 1 every other operation is traced, alternating by pass,
        # so two passes trace each operation once.
        t0 = time.perf_counter()
        need = 2 if args.trace else 1
        pass_no, last = 0, 0.0
        while pass_no < need or time.perf_counter() - t0 + last / 2 <= args.seconds:
            p0 = time.perf_counter()
            for i, name in enumerate(wl.pass_order(rng)):
                traced = bool(args.trace) and (i + pass_no) % 2 == 1
                if traced:
                    tracer.install()
                run.op(ctx, wl, name, check=False, traced=traced, pass_no=pass_no)
                if traced:
                    tracer.uninstall()
            last = time.perf_counter() - p0
            pass_no += 1
        measured_s = time.perf_counter() - t0
        facts["peak_rss_mb_by_process"] = rss = peak_rss_mb()
        tables_added = len(spark.catalog.listTables()) - tables_before
        facts.update(
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
        )
    finally:
        t = time.perf_counter()
        stop_session(spark)
        facts["shutdown_s"] = time.perf_counter() - t
    facts.update(
        nproc=nproc,
        SPARK_GRAFT_CPUS=os.environ["SPARK_GRAFT_CPUS"],
        python=platform.python_version(),
        git_sha=git_sha(),
        source_sha256=source_digest(),
        calib_mt_ms_after=bench._calib_mt_ms(),
        load_end=os.getloadavg(),
    )

    ops_per_pass = len(wl.ops)
    timed = [o for o in run.ops if o["pass"] >= 0]
    plain = [o for o in timed if not o["traced"]]
    lat = [o["s"] for o in plain]
    passes = pass_walls(timed)
    tail_ms, tail_pct = tail([x * 1e3 for x in lat])
    failed = sum(not o["ok"] for o in run.ops)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "op_p50_ms": statistics.median(lat) * 1e3,
        "op_tail_ms": tail_ms,
        "peak_rss_mb": sum(rss.values()),
        "failed_ratio": failed / len(run.ops),
    }
    record = {
        "facts": facts,
        "e2e": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "op_tail_percentile": tail_pct,
        "op_samples": len(lat),
        "passes": passes,
        "problems": run.problems[:20],
        "measured_s": measured_s,
        "warmup_ops": len(run.ops) - len(timed),
        "excluded_s": run.excluded_s,
        "ops": [(o["name"], o["pass"], round(o["s"] * 1e3, 1)) for o in timed],
    }
    if args.trace:
        layers = layer_metrics(
            tracer, timed, ops_per_pass, nproc, [m["name"] for m in spec["per_layer"]]
        )
        layers.update({
            "session.peak_rss_mb": e2e["peak_rss_mb"],
            "session.start_ms": start_ms,
            "session.warmup_ms": warmup_ms,
            "session.age_drift": passes[-1] / passes[0],
            "session.tables_added": tables_added,
        })
        record["layers"] = layers
        record["self_ms_by_layer"] = tracer.self_ms_by_layer()
        record["trace_harvest_s"] = tracer.harvest_s
        record["traced_ops"] = len(tracer.ops)
        trace_dir = os.path.join(cache, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write_spans(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    print(json.dumps(record, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
    }))
    return 0


def pass_walls(ops: list[dict]) -> list[float]:
    """Summed operation latency of each timed pass, in pass order."""
    by_pass: dict[int, float] = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["s"]
    return list(by_pass.values())


def layer_metrics(tracer, timed: list[dict], ops_per_pass: int, slots: int, names) -> dict:
    """Per-pass layer totals (per call for ``operators.mapreduce.*``);
    every name in ``names`` is present, zero where the layer saw no work."""
    ops = tracer.ops
    sums: dict[str, float] = {}
    for rec in ops:
        for k, v in rec.items():
            if isinstance(v, (int, float)) and k != "op":
                sums[k] = sums.get(k, 0.0) + v
    per_pass = ops_per_pass / max(1, len(ops))
    out = dict.fromkeys(names, 0.0)
    out.update((k, v * per_pass) for k, v in sums.items() if not k.startswith(PER_CALL))
    mr = [r for r in ops if PER_CALL + "run_job_ms" in r]
    for k in {k for r in mr for k in r if k.startswith(PER_CALL)}:
        out[k] = sums[k] / len(mr)
    if mr:
        out[PER_CALL + "reduce_skew"] = statistics.median(r[PER_CALL + "reduce_skew"] for r in mr)
    exec_ms = sums.get("spark.exec.ms", 0.0)
    out["spark.exec.slot_util"] = sums.get("spark.exec.run_ms", 0.0) / (exec_ms * slots) if exec_ms else 0.0
    wall = sums.get("wall_ms", 0.0)
    out["trace.unaccounted_ratio"] = sums.get("trace.unaccounted_ms", 0.0) / wall if wall else 0.0
    out["trace.overhead_ratio"] = overhead(timed)
    return out


def overhead(timed: list[dict]) -> float:
    """Traced over untraced latency, paired by operation name, minus one."""
    plain: dict[str, list[float]] = {}
    for o in timed:
        if not o["traced"]:
            plain.setdefault(o["name"], []).append(o["s"])
    num = den = 0.0
    for o in timed:
        if o["traced"] and o["name"] in plain:
            num += o["s"]
            den += statistics.mean(plain[o["name"]])
    return num / den - 1.0 if den else 0.0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process it started
    (the JVM and its Python workers) has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


if __name__ == "__main__":
    sys.exit(main())
