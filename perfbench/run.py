"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload llm_dedup --seed 3 --seconds 8 --trace 0
    python3 perfbench/run.py --steadiness 10 --workload etl_ingest --seconds 8

A run sizes Spark to the host (``local[nproc]``, shuffle partitions =
nproc, 2 GB driver heap), gives itself private temp, Spark-local and
artifact-store directories under ``.perfbench_work/`` in the checkout,
and then:

1. generates the workload's inputs from ``--seed`` (cached by seed and
   size; never timed);
2. sets up ``SETUP_REPS`` times: a session start (the first also
   launches the JVM), cold builds of the artifacts the workload
   consumes, and one pass;
3. runs ``--seconds`` worth of timed passes on a quiet host: their
   number is fixed by ``--seconds`` and the workload's nominal pass
   time (at least ``MIN_PASSES``), not by a clock;
4. checks every op once, untimed: lanes against DuckDB's result for
   their oracle SQL, written parquet against DuckDB's read of the same
   inputs. An op run that raises or mismatches is a failed op;
5. reads the peak RSS of the driver JVM and of this process.

Times are taken three ways: wall time, CPU time of this process and
all its descendants (``/proc``), and the share of busy CPU time the
hypervisor stole (``/proc/stat``). ``setup_s`` and ``pass_s`` are wall
times less that stolen share, so time given to other guests on a
shared host is not counted as the program's; raw wall times are on the
``info`` line. ``pass_cpu_s`` is the CPU time of a pass, which the
kernel does not charge for stolen time. ``DESIGN.md`` gives how far
heavy contention still moves both.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also turns on the event log and writes spans to
``.perfbench_work/traces/``). ``--steadiness N`` runs N seeds in child
processes and prints each metric's quartile spread over its median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

SETUP_REPS = 3
MIN_PASSES = 3
DRIVER_MEM = "2g"
INPUT_CACHE_ENTRIES = 6
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def _stat_ticks(pid: str) -> tuple[int, int]:
    """(parent pid, utime + stime + cutime + cstime) from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, its reaped children and
    every live descendant (the driver JVM and its Python workers).

    The kernel charges time the hypervisor took away to steal, not to
    the process, so this does not grow with stolen time as wall time
    does (it still grows when other guests slow the shared caches).
    """
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, used = _stat_ticks(name)
        except (FileNotFoundError, ProcessLookupError):  # exited meanwhile
            continue
        kids[ppid].append(int(name))
        ticks[int(name)] = used
    todo = list(kids[os.getpid()])
    while todo:
        pid = todo.pop()
        total += ticks[pid] / CLK_TCK
        todo += kids[pid]
    return total


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


@dataclass
class Reading:
    wall: float
    cpu: float
    busy: int
    steal: int

    @staticmethod
    def now() -> "Reading":
        return Reading(time.perf_counter(), tree_cpu_s(), *host_ticks())


@dataclass
class Interval:
    """Wall time, CPU time, and the share of the CPU time the host's
    busy CPUs asked for that the hypervisor gave to someone else."""

    wall: float
    cpu: float
    steal_share: float

    @staticmethod
    def between(a: Reading, b: Reading) -> "Interval":
        busy, steal = b.busy - a.busy, b.steal - a.steal
        return Interval(b.wall - a.wall, b.cpu - a.cpu, steal / max(busy + steal, 1))

    @property
    def unstolen(self) -> float:
        """Wall time less the share the hypervisor took: what the interval
        would have lasted had every busy CPU run whenever it wanted to."""
        return self.wall * (1.0 - self.steal_share)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cached_inputs(w, seed: int) -> dict:
    """Inputs for (workload, seed), generated once and reused.

    Entries are written to a temp name and renamed into place, and only
    the newest ``INPUT_CACHE_ENTRIES`` are kept.
    """
    import workloads

    key = f"{w.name}-seed{seed}-" + "-".join(
        f"{k}{v}" for k, v in sorted(w.fixture.items())
    ) + f"-a{w.archives}x{w.rows_per_archive}"
    cache = os.path.join(WORK, "inputs")
    entry = os.path.join(cache, key)
    manifest = os.path.join(entry, "manifest.json")
    if not os.path.exists(manifest):
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".gen-", dir=cache)
        try:
            man = workloads.generate(w, seed, tmp)
            rel = json.loads(json.dumps(man).replace(tmp, entry))
            with open(os.path.join(tmp, "manifest.json"), "w") as fh:
                json.dump(rel, fh)
            os.rename(tmp, entry)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        entries = sorted(
            (os.path.join(cache, e) for e in os.listdir(cache) if not e.startswith(".")),
            key=os.path.getmtime,
        )
        for old in entries[:-INPUT_CACHE_ENTRIES]:
            shutil.rmtree(old, ignore_errors=True)
    with open(manifest) as fh:
        return json.load(fh)


class Ctx:
    """What ops see: the session, the inputs, and where to write."""

    def __init__(self, tracer, inputs: dict, run_dir: str) -> None:
        self.tracer = tracer
        self.spark = None
        self.sf_dir = inputs["sf_dir"]
        self.archives = inputs["archives"]
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.out_dir = os.path.join(run_dir, "out")

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)


def start_session(ctx, run_dir: str, trace: bool):
    from data_ingestion_s3_to_parquet_spark.session import get_spark

    confs = {
        # A fixed heap (-Xms = spark.driver.memory) keeps GC work and RSS
        # from depending on when the heap happened to grow.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.tmp_dir} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        ),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = os.path.join(run_dir, "eventlog")
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    """The driver JVM pyspark launched, or None before the first session."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway.proc if gateway is not None else None


def shutdown_jvm() -> None:
    """Stop the gateway, close its stdin (the JVM exits on EOF) and wait.

    The PySpark worker daemons are the JVM's children and exit with it.
    """
    from pyspark import SparkContext

    proc = jvm_process()
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run_pass(ctx, ops, label: str, failures: dict) -> Interval:
    """One pass over ``ops``; an op that raises is a failed op."""
    t0 = Reading.now()
    with ctx.tracer.span("pass", label=label):
        for op in ops:
            with ctx.tracer.span("op", op=op.name, label=label):
                try:
                    op.run(ctx)
                except Exception as e:
                    failures[(label, op.name)] = f"{op.name}: {type(e).__name__}: {e}"
    return Interval.between(t0, Reading.now())


def set_up(ctx, w, ops, run_dir: str, failures: dict) -> dict[str, list]:
    """``SETUP_REPS`` set-ups, each what a job pays before its first
    result: a session start through ``get_spark`` (a new SparkContext,
    with its own Python worker daemon and shipped package), cold builds
    of the workload's artifacts, and one pass. The first repetition
    also launches the JVM; the later ones stop the session and start a
    new one in the same JVM."""
    import workloads

    helpers = workloads.artifact_helpers()
    out: dict[str, list] = {"setup": [], "start_s": [], "first_pass": []}
    out.update({f"build_s.{ns}": [] for ns in w.artifacts})
    for rep in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        for ns in w.artifacts:
            workloads.drop_artifact_store(ns)
        t0 = Reading.now()
        with ctx.tracer.span("setup", rep=rep):
            with ctx.tracer.span("session.start"):
                ctx.spark = start_session(ctx, run_dir, ctx.tracer.enabled)
            out["start_s"].append(time.perf_counter() - t0.wall)
            for ns in w.artifacts:
                t1 = time.perf_counter()
                with ctx.tracer.span("artifacts.build", ns=ns):
                    helpers[ns](ctx.spark, ctx.sf_dir)
                out[f"build_s.{ns}"].append(time.perf_counter() - t1)
            out["first_pass"].append(run_pass(ctx, ops, f"setup{rep}", failures))
        out["setup"].append(Interval.between(t0, Reading.now()))
    return out


def verify(ctx, ops, failures: dict) -> None:
    """Untimed checks of every op, after the timed passes."""
    with ctx.tracer.span("verify"):
        for op in ops:
            try:
                problem = op.check(ctx)
            except Exception as e:  # a check that raises fails its op
                problem = f"{op.name}: check raised {type(e).__name__}: {e}"
            if problem:
                failures[("verify", op.name)] = problem


def measure(ctx, w, args, run_dir: str, info: dict) -> dict:
    """Set up, time the passes, check; return the metrics."""
    import workloads

    ops = workloads.build_ops(w)
    failures: dict[tuple[str, str], str] = {}  # (pass label, op) -> problem
    setup = set_up(ctx, w, ops, run_dir, failures)
    # Op times keep falling for many passes while the JIT compiles, so
    # the pass count is fixed: a slower host must not move the median
    # to an earlier point of that slope.
    n_passes = max(MIN_PASSES, round(args.seconds / w.nominal_pass_s))
    passes = [run_pass(ctx, ops, f"pass{k}", failures) for k in range(n_passes)]
    t_verify = time.perf_counter()
    verify(ctx, ops, failures)
    info["verify_s"] = time.perf_counter() - t_verify
    rss_mb = vm_hwm_mb(jvm_process().pid) + vm_hwm_mb("self")
    app_id = ctx.spark.sparkContext.applicationId
    ctx.spark.stop()
    info.update(
        passes=len(passes),
        **{
            f"{k}_{f}": [round(getattr(iv, f), 4) for iv in ivs]
            for k, ivs in (("setup", setup["setup"]), ("pass", passes))
            for f in ("wall", "cpu", "steal_share")
        },
        **{f"setup_{k}": [round(t, 4) for t in v] for k, v in setup.items()
           if k not in ("setup", "first_pass")},
        setup_first_pass_wall=[round(iv.wall, 4) for iv in setup["first_pass"]],
        failures=[f"{label}: {p}" for (label, _), p in list(failures.items())[:20]],
    )
    if ctx.tracer.enabled:
        from tracing import per_layer

        metrics = per_layer(
            ctx.tracer, ctx, os.path.join(run_dir, "eventlog"), app_id,
            setup=setup, pass_median=statistics.median(p.unstolen for p in passes),
        )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(WORK, "traces", f"{w.name}-seed{args.seed}.spans.json"))
    else:
        metrics = {
            "setup_s": {"value": statistics.median(s.unstolen for s in setup["setup"]), "unit": "s"},
            "pass_s": {"value": statistics.median(p.unstolen for p in passes), "unit": "s"},
            "pass_cpu_s": {"value": statistics.median(p.cpu for p in passes), "unit": "s"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        }
    executions = len(ops) * (SETUP_REPS + len(passes))
    return {
        "correct": not failures,
        "attempted": executions + len(ops),  # every op is also verified once
        "failed": len(failures),
        "metrics": metrics,
    }


def run(args) -> dict:
    import workloads
    from tracing import Tracer, instrument

    w = workloads.WORKLOADS[args.workload]
    n_cpu = cpus()
    info = {"workload": w.name, "seed": args.seed, "nproc": n_cpu, "load1_start": loadavg()}
    t_gen = time.perf_counter()
    inputs = cached_inputs(w, args.seed)
    info.update(
        inputs_s=time.perf_counter() - t_gen,
        input_rows=_input_rows(inputs),
        input_bytes=_input_bytes(inputs),
    )

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{w.name}-{args.seed}-", dir=os.path.join(WORK, "runs"))
    try:
        ctx = Ctx(Tracer(enabled=bool(args.trace)), inputs, run_dir)
        os.makedirs(ctx.tmp_dir)
        os.makedirs(os.path.join(run_dir, "eventlog"))
        # Private temp dir: artifacts.persisted_frame keys its store under
        # it, so no earlier run or concurrent test leaves a warm artifact.
        os.environ["TMPDIR"] = ctx.tmp_dir
        tempfile.tempdir = ctx.tmp_dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(n_cpu)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ.pop("UNZIPPED_DATA_1", None)
        if ctx.tracer.enabled:
            instrument(ctx.tracer)
        try:
            result = measure(ctx, w, args, run_dir, info)
        finally:
            shutdown_jvm()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info["load1_end"] = loadavg()
    print(json.dumps({"info": info}))
    return result


def _input_rows(inputs: dict) -> dict:
    import pyarrow.parquet as pq

    rows = {
        os.path.basename(p)[: -len(".parquet")]: pq.read_metadata(p).num_rows
        for p in sorted(_parquets(inputs["sf_dir"]))
    }
    if inputs["archives"]:
        rows["airquality_csv"] = sum(
            sum(1 for _ in open(a["csv"])) - 1 for a in inputs["archives"]
        )
    return rows


def _input_bytes(inputs: dict) -> dict:
    out = {"tables": sum(os.path.getsize(p) for p in _parquets(inputs["sf_dir"]))}
    if inputs["archives"]:
        out["airquality_csv"] = sum(os.path.getsize(a["csv"]) for a in inputs["archives"])
        out["airquality_zip"] = sum(os.path.getsize(a["zip"]) for a in inputs["archives"])
    return out


def _parquets(sf_dir: str) -> list[str]:
    return [os.path.join(sf_dir, f) for f in os.listdir(sf_dir) if f.endswith(".parquet")]


def steadiness(args) -> None:
    """Run ``args.steadiness`` seeds in child processes and print, per
    metric, the median and the quartile spread over the median."""
    import workloads

    names = [args.workload] if args.workload else list(workloads.WORKLOADS)
    report = {}
    for name in names:
        values: dict[str, list[float]] = {}
        for seed in range(args.seed, args.seed + args.steadiness):
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            elapsed = time.perf_counter() - t0
            if res.returncode != 0:
                print(json.dumps({"workload": name, "seed": seed, "exit": res.returncode,
                                  "stderr": res.stderr[-2000:]}), flush=True)
                continue
            lines = res.stdout.strip().splitlines()
            info, last = json.loads(lines[-2])["info"], json.loads(lines[-1])
            for m, v in last["metrics"].items():
                values.setdefault(m, []).append(v["value"])
            print(json.dumps({"workload": name, "seed": seed, "correct": last["correct"],
                              **{m: v["value"] for m, v in last["metrics"].items()},
                              "elapsed_s": round(elapsed, 1),
                              **{k: info[k] for k in ("pass_wall", "pass_steal_share",
                                                      "setup_wall", "setup_steal_share")}}),
                  flush=True)
        spreads = {}
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spreads[m] = {"median": med, "iqr_over_median": (q3 - q1) / med if med else None}
        report[name] = spreads
    print(json.dumps({"steadiness": report}, indent=1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=False)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, default=0, metavar="N")
    args = ap.parse_args()
    if args.steadiness:
        steadiness(args)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    try:
        import data_ingestion_s3_to_parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
