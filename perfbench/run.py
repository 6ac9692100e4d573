"""The repository's benchmark: one closed-loop client per workload, driving
the package's public entry points at local[<all cores>] and checking every
output.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured with tracing
off; with ``--trace 1`` they are the per-layer ones of a traced run, and
one record per op goes to ``.perfbench_out/<workload>-seed<n>-ops.jsonl``.
``--corrupt`` tampers with every output after it is written, to show the
checks catch it. BENCHMARK.json lists the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

#: The JVM heap, fixed: minimum and maximum alike. The package's
#: local-mode default is 48g, more than a small box has.
DRIVER_MEMORY = "2g"
OUT_DIR = ".perfbench_out"
ACTORS = (
    "file-reader", "sql-transformer", "delta-writer", "file-writer",
    "containment-dedup-transformer", "lsh-index-builder", "lsh-index-probe",
    "ann-index-builder", "ann-index-probe", "bpe-train-transformer",
    "pii-scrub-transformer",
)
DELTA_KINDS = ("append", "merge", "delete", "overwrite")
ICEBERG_KINDS = ("append", "merge", "delete")


class Op:
    __slots__ = ("index", "kind", "name", "t0", "t1", "seconds", "ok", "raised", "meta")

    def __init__(self, index, kind, name):
        self.index, self.kind, self.name = index, kind, name
        self.t0 = self.t1 = self.seconds = 0.0
        self.ok = True  # false when the op raised or its output was wrong
        self.raised = False
        self.meta: dict = {}


class Runtime:
    """What a workload sees of the run: the session, its directories, the
    oracle, and the timing and checking helpers."""

    def __init__(self, args, work_dir: str, tracer) -> None:
        self.seed = args.seed
        self.corrupt = args.corrupt
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.tables_dir = os.path.join(work_dir, "tables")
        self.tracer = tracer
        self.spark = None
        self.oracle = None
        self.ops: list[Op] = []
        self.problems: list[str] = []
        self.final_tables: list[tuple[str, str]] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def timed(self, kind: str, name: str, fn) -> bool:
        """Run one op, timed; an exception fails the op, not the run."""
        op = Op(len(self.ops), kind, name)
        self.ops.append(op)
        sc = self.spark.sparkContext
        if self.tracer:
            self.tracer.op = op.index
            sc.setJobGroup(f"perfbench-op-{op.index}", f"{kind} {name}")
        op.t0 = time.time()
        t = time.perf_counter()
        try:
            fn()
        except Exception:  # noqa: BLE001 - a failed op is counted and reported
            traceback.print_exc()
            op.ok = False
            op.raised = True
            self.problems.append(f"op {op.index} ({kind} {name}) raised")
        op.seconds = time.perf_counter() - t
        op.t1 = time.time()
        if self.tracer:
            self.tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        return op.ok

    def noop(self, df, span: str):
        """Force every column of ``df`` through a noop sink, never count().
        Returns the job's Observation of the row count. Read it after the
        op, with ``obs.get["rows"]``: Spark delivers it through its
        listener bus, and waiting for that is no part of the read."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        with self.span(span):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        return obs

    def check(self, fn) -> None:
        """Run one output check, untimed. ``fn`` returns None when the
        output is right and otherwise says what is wrong. A wrong output,
        or a check that raised, fails the latest write op."""
        try:
            problem = fn()
        except Exception as e:  # noqa: BLE001 - an unreadable output is a wrong one
            traceback.print_exc()
            problem = f"check raised {e!r}"
        if problem is None:
            return
        self.problems.append(problem)
        last = next(o for o in reversed(self.ops) if o.kind == "write")
        last.ok = False

    def commit_meta(self, fmt: str, kind: str, loc: str, version, changed: int) -> None:
        """Facts about the commit the latest write op made, read from the
        table's own files."""
        meta = self.ops[-1].meta
        meta["rows_changed"] = changed
        if fmt != "delta" or version is None:
            return
        log = os.path.join(loc, "_delta_log")
        meta["checkpoint"] = os.path.exists(os.path.join(log, f"{version:020d}.checkpoint.parquet"))
        rewritten = 0
        with open(os.path.join(log, f"{version:020d}.json")) as fh:
            for line in fh:
                add = json.loads(line).get("add")
                if add and add.get("stats"):
                    rewritten += json.loads(add["stats"]).get("numRecords", 0)
        meta["rows_written"] = rewritten


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's record of
    its start (Linux; 1/CLK_TCK resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Under 21 samples that percentile would lie at
    or below the median, and the maximum is reported as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if not n:
        return 0.0, 0.0, 0
    k = n - 11 if n >= 21 else n - 1
    return s[k], 100.0 * (k + 1) / n, n


def peak_rss_mb(jvm_pid: int | None) -> float:
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def session_confs(work_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    confs = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={work_dir}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return confs


def table_facts(rt) -> dict:
    """space_amp over the tables the run ended on, and their file counts.
    A table that cannot be read fails the run's last write op and is left
    out; with no table left, space_amp reads 0."""
    from perfbench.workloads import compact_bytes, dir_bytes

    spark = rt.spark
    facts: dict[str, float] = {}
    sizes = [0, 0]  # bytes on disk, bytes compact

    def measure(fmt, loc):
        if fmt == "delta":
            from spark_etl_framework_spark.sources import deltalog

            live = deltalog.read_delta(spark, loc)
            log = os.path.join(loc, "_delta_log")
            facts["delta.log_files"] = len(os.listdir(log))
            facts["delta.data_files"] = sum(
                f.endswith(".parquet")
                for root, _d, files in os.walk(loc)
                if not root.startswith(log)
                for f in files
            )
        else:
            from spark_etl_framework_spark.sources import iceberg

            live = iceberg.read_iceberg(spark, loc)
            content = [r[0] for r in iceberg.read_meta(spark, loc, "files").select("content").collect()]
            facts["iceberg.manifests"] = iceberg.read_meta(spark, loc, "manifests").count()
            facts["iceberg.data_files"] = content.count(0)
            facts["iceberg.pos_delete_files"] = content.count(1)
            facts["iceberg.eq_delete_files"] = content.count(2)
        compact = compact_bytes(rt, live)
        sizes[0] += dir_bytes(loc)
        sizes[1] += compact

    for fmt, loc in rt.final_tables:
        rt.check(lambda: measure(fmt, loc))
    facts["space_amp"] = sizes[0] / sizes[1] if sizes[1] else 0.0
    return facts


def spans_by_op(rt) -> list[dict[str, float]]:
    """Seconds per span name inside each op."""
    by_op: list[dict[str, float]] = [{} for _ in rt.ops]
    for name, a, b, op in rt.tracer.spans:
        if op is not None:
            by_op[op][name] = by_op[op].get(name, 0.0) + (b - a)
    return by_op


def layer_metrics(rt, recs, job_times, setup_layers, facts) -> dict:
    """One value per per-layer metric. Times are seconds per op of the
    kind named; a layer the workload never reaches reads 0."""
    from perfbench.workloads import CURATION

    by_op = spans_by_op(rt)
    calls: dict[str, list[tuple[float, float]]] = {}
    for name, a, b, _op in rt.tracer.spans:
        calls.setdefault(name, []).append((a, b))
    n_ops = len(rt.ops)
    out: dict[str, float] = dict(setup_layers)

    def mean_over(ops, key):
        return sum(by_op[o.index].get(key, 0.0) for o in ops) / len(ops) if ops else 0.0

    runs = [o for o in rt.ops if o.kind == "write" and o.name in ("etl", *CURATION)]
    out["plans.build_s"] = mean_over(runs, "plans.build")
    out["plans.run_s"] = mean_over(runs, "plans.run")
    actor_total = sum(mean_over(runs, f"actor.{a}") for a in ACTORS)
    out["plans.overhead_s"] = out["plans.run_s"] - actor_total
    for a in ACTORS:
        out[f"actor.{a}_s"] = mean_over(runs, f"actor.{a}")
    for q in CURATION:
        out[f"queries.call_s.{q}"] = mean_over([o for o in rt.ops if o.name == q and o.kind == "write"], f"queries.call.{q}")

    def span_mean(key):
        ds = [b - a for a, b in calls.get(key, [])]
        return sum(ds) / len(ds) if ds else 0.0

    def jobs_per(key):
        spans = calls.get(key, [])
        if not spans:
            return 0.0
        return sum(a <= t <= b for a, b in spans for t in job_times) / len(spans)

    def reads_of(prefix):
        return [o for o in rt.ops if o.kind == "read" and f"{prefix}.read_plan" in by_op[o.index]]

    for fmt, kinds in (("delta", DELTA_KINDS), ("iceberg", ICEBERG_KINDS)):
        for k in kinds:
            out[f"{fmt}.commit_s.{k}"] = span_mean(f"{fmt}.commit.{k}")
            out[f"{fmt}.jobs_per_commit.{k}"] = jobs_per(f"{fmt}.commit.{k}")
        reads = reads_of(fmt)
        out[f"{fmt}.read_plan_s"] = mean_over(reads, f"{fmt}.read_plan")
        out[f"{fmt}.read_exec_s"] = mean_over(reads, f"{fmt}.read_exec")
    ckpt = [o for o in rt.ops if o.meta.get("checkpoint")]
    out["delta.checkpoint_commit_s"] = sum(
        sum(v for k, v in by_op[o.index].items() if k.startswith("delta.commit.")) for o in ckpt
    ) / len(ckpt) if ckpt else 0.0
    out["delta.snapshot_s"] = sum(d.get("delta.snapshot", 0.0) for d in by_op) / n_ops
    out["iceberg.load_metadata_s"] = sum(d.get("iceberg.load_metadata", 0.0) for d in by_op) / n_ops
    dml = [o for o in rt.ops if o.name in ("merge", "delete") and "rows_written" in o.meta]
    changed = sum(o.meta["rows_changed"] for o in dml)
    out["delta.rows_rewritten_per_row_changed"] = (
        sum(o.meta["rows_written"] for o in dml) / changed if changed else 0.0
    )
    for key in ("delta.log_files", "delta.data_files", "iceberg.manifests", "iceberg.data_files",
                "iceberg.pos_delete_files", "iceberg.eq_delete_files"):
        out[key] = facts.get(key, 0)
    for key in recs[0] if recs else ():
        out[key] = sum(r[key] for r in recs) / n_ops
    return out


def shutdown_jvm() -> None:
    """Stop the Py4J gateway's JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted and not used: a run is a fixed sequence of ops, so a faster program does the same work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help="tamper with outputs to test the checks")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "spark_etl_framework_spark")):
        print("perfbench: run from the root of a checkout (no spark_etl_framework_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import workloads
    from perfbench.checks import Oracle
    from perfbench.trace import Tracer, parse_event_logs

    workload = workloads.WORKLOADS[args.workload]()
    work_dir = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog", "data", "tables"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    # every temp file of this run, ours, the package's and the JVM's, lands
    # in the work dir and goes with it
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)

    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer() if args.trace else None
    rt = Runtime(args, work_dir, tracer)
    try:
        from spark_etl_framework_spark.session import get_session

        # set-up: process start -> fixtures made, session up (the JVM
        # starts here), tables warm
        t = time.perf_counter()
        workload.fixtures(rt.data_dir, args.seed)
        fixtures_s = time.perf_counter() - t
        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        rt.spark = get_session(f"perfbench-{args.workload}", confs=session_confs(work_dir, bool(args.trace)))
        t1 = time.perf_counter()
        workload.warm(rt)
        setup_s = process_age_s()
        setup_layers = {"session.get_session_s": t1 - t0, "catalog.warm_s": time.perf_counter() - t1}
        rt.oracle = Oracle(rt.data_dir, list(workload.tables))

        t = time.perf_counter()
        workload.run(rt)
        loop_s = time.perf_counter() - t

        facts = table_facts(rt)
        rss = peak_rss_mb(rt.spark.sparkContext._gateway.proc.pid)
        rt.spark.stop()
        recs, job_times = [], []
        if tracer:
            tracer.uninstall()
            recs, job_times = parse_event_logs(
                os.path.join(work_dir, "eventlog"),
                [(o.t0, o.t1) for o in rt.ops],
                [f"perfbench-op-{o.index}" for o in rt.ops],
            )
    except Exception:  # noqa: BLE001 - no result line for a run that broke
        traceback.print_exc()
        return 1
    finally:
        if rt.oracle is not None:
            rt.oracle.close()
        with contextlib.suppress(Exception):
            shutdown_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(root, ".perfbench_work"))

    # a wrong output still has a latency; an op that raised has none
    writes = [o.seconds for o in rt.ops if o.kind == "write" and not o.raised]
    reads = [o.seconds for o in rt.ops if o.kind == "read" and not o.raised]
    failed = sum(not o.ok for o in rt.ops)
    wt, wp, wn = tail(writes)
    rtl, rp, rn = tail(reads)
    e2e = {
        "setup_s": (setup_s, "s"),
        "write_p50_s": (_median(writes), "s"),
        "write_tail_s": (wt, "s"),
        "read_p50_s": (_median(reads), "s"),
        "read_tail_s": (rtl, "s"),
        "ops_per_s": ((len(writes) + len(reads)) / loop_s, "1/s"),
        "space_amp": (facts["space_amp"], "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    tag = f"{args.workload} seed={args.seed} trace={args.trace}"
    for p in rt.problems:
        print(f"# FAILED {tag}: {p}")
    print(f"# {tag}: {len(rt.ops)} ops, set-up {setup_s:.2f} s (fixtures {fixtures_s:.2f} s, "
          f"session {setup_layers['session.get_session_s']:.2f} s, warm {setup_layers['catalog.warm_s']:.2f} s), "
          f"heap {DRIVER_MEMORY} at local[{os.environ['SPARK_GRAFT_CPUS']}]")
    op_s = sum(o.seconds for o in rt.ops)
    print(f"# loop {loop_s:.1f} s: ops {op_s:.1f} s, checks and inputs {loop_s - op_s:.1f} s")
    for o in rt.ops:
        print(f"# op {o.index} {o.kind} {o.name} {o.seconds:.3f} s{'' if o.ok else ' FAILED'}", file=sys.stderr)
    print(f"# write_tail_s is p{wp:.1f} of n={wn}; read_tail_s is p{rp:.1f} of n={rn}")
    print(f"# failed_ratio {failed}/{len(rt.ops)} = {failed / len(rt.ops):.4f} ratio")
    for k, (v, unit) in e2e.items():
        print(f"# {k} {v:.6g} {unit}")

    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    base = os.path.join(root, OUT_DIR, f"{args.workload}-seed{args.seed}")
    summary = {k: v for k, (v, _u) in e2e.items()}
    if tracer:
        layers = layer_metrics(rt, recs, job_times, setup_layers, facts)
        with open(base + "-ops.jsonl", "w") as fh:
            for o, rec, spans in zip(rt.ops, recs, spans_by_op(rt)):
                fh.write(json.dumps({
                    "workload": args.workload, "seed": args.seed, "op": o.index,
                    "kind": o.kind, "name": o.name, "wall_s": o.seconds, "ok": o.ok,
                    "spans_s": spans, "counters": rec, "meta": o.meta,
                }) + "\n")
        untraced = base + "-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                plain = json.load(fh)
            for k, v in summary.items():
                print(f"# tracing overhead {k}: {v - plain[k]:+.6g} ({v:.6g} traced vs {plain[k]:.6g} untraced)")
        else:
            print(f"# tracing overhead: run --trace 0 with seed {args.seed} first to compare")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(base + f"-trace{args.trace}.json", "w") as fh:
        json.dump(summary, fh)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(rt.ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes") or name.startswith("pyworker.bytes"):
        return "bytes"
    if "per_row" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
