"""Pipeline benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload rebuild --seed 1 --seconds 3 --trace 0

Run from the repository root.  Each run is one Python process driving
``PipelineRunner(partitioned=True, manifest=True)`` on
``local[<cpus>]`` over parquet path sources generated from ``--seed``,
as a closed loop with one caller that waits for every ``run()``:

1. set-up: session start, then input generation and writing, repeated
   and reported as the median (``setup_s``);
2. a five-stage rebuild into an empty root, in a fresh JVM as a
   scheduled ETL process pays it (``rebuild_p50_s``);
3. a full JVM garbage collection and ``WARMUP_NOOPS`` untimed no-op
   syncs, then timed no-op syncs for ``--seconds`` and at least
   ``MIN_NOOPS`` of them (``noop_sync_p50_s``); failed attempts count
   towards both;
4. outside the timed region, every target's row count and primary-key
   set against DuckDB over the sources.

With ``--trace 1`` the same steps run with spans around the program's
public functions (see ``tracing.py``), plus: the rebuild's stage plans
replayed alone through the noop sink, one seeded small-delta sync
(obs, encounters, orders and voids) between the rebuild and the no-op
syncs, a fixed number of no-op syncs alternating traced and untraced
(``trace.overhead_frac``), and an order-insensitive full-row hash of
every target before and after the delta sync
(``engine.targets_changed``).  The last stdout line is the result
object; progress goes to stderr and spans to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext, suppress
from statistics import median

import gen_openmrs as gen
from stats import tail
from tracing import Recorder, covered, read_event_log, self_time, spark_totals

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Input shape per workload: persons generated and parquet files per
# source table.
WORKLOADS = {
    "rebuild": dict(persons=2000, files=1),
    "sync": dict(persons=300, files=128),
}
# The session settings the repository's tests use for small inputs: at
# these sizes Janino compilation and JIT of the huge generated methods
# (decode ladders, blob packing) cost more than interpreted evaluation,
# and would drown the per-run fixed costs this benchmark tracks.
SMALL_INPUT_CONF = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}
SETUP_REPEATS = 3
# After the cold rebuild the JIT is still compiling the sync path: on a
# 4-vCPU VM the first 12-15 no-op syncs of a run took up to a third
# longer than the later ones, and how fast they settle differs from run
# to run.
WARMUP_NOOPS = 12
MIN_NOOPS = 7
TRACED_NOOPS = 6
# The JVM heap, fixed in size (-Xms = -Xmx).  A growing heap starts
# small, and then every no-op sync's large allocations start a
# concurrent G1 cycle until the heap has grown; how soon it grows
# differs from run to run.  Measured on a 4-vCPU VM over 40 no-op
# syncs in one session: quartile spread 12.5% of the median with a
# growing heap, 4.4% with a heap fixed at 3g.
HEAP = "2g"

STAGES = (
    "flat_obs", "flat_orders", "flat_lab_obs", "flat_visit_summary",
    "flat_latest_hiv_summary",
)
PLAN_BUILDERS = {
    "build_flat_obs": "flat_obs",
    "incremental_flat_obs": "flat_obs",
    "build_flat_orders": "flat_orders",
    "incremental_flat_orders": "flat_orders",
    "build_flat_lab_obs": "flat_lab_obs",
    "incremental_flat_lab_obs": "flat_lab_obs",
    "build_flat_visit_summary": "flat_visit_summary",
    "incremental_flat_visit_summary": "flat_visit_summary",
    "build_flat_latest_hiv_summary": "flat_latest_hiv_summary",
}
SYNC_OPS = ("delta", "noop")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_files(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    }


def peak_rss_mb() -> float:
    """VmHWM of this process plus its descendant JVM, in MB."""
    def hwm(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def children(pid: int) -> list[int]:
        out = []
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except (OSError, IndexError, ValueError):
                continue
        return out

    total, todo = hwm(os.getpid()), children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    total += hwm(pid)
        except OSError:
            continue
        todo += children(pid)
    return total / 1024.0


def stop_jvm() -> None:
    """Close the Py4J gateway and wait until its JVM has exited; the
    JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    """One run of one workload; traced when ``traced`` is set."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work: str):
        self.workload = workload
        self.shape = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.rec = None
        self.plans: dict[str, object] = {}
        self.capture_plans = False
        self._runs: dict[str, list] = {}  # op kind -> its engine.run spans

    # -------------------------------------------------------------- ops

    def op(self, kind: str, fn) -> float:
        """Run one operation, count it and return its wall time.  An
        operation that raises counts as failed; its time up to the
        raise is still returned, so every timing metric stays finite."""
        self.attempted += 1
        span = (
            self.rec.span(f"op.{kind}")
            if self.rec and self.rec.enabled else nullcontext()
        )
        t0 = time.perf_counter()
        try:
            with span:
                fn()
        except Exception:  # one failed operation must not end the run
            self.failed += 1
            log(f"{kind} failed: {traceback.format_exc()}")
        return time.perf_counter() - t0

    def noop_syncs(self, sync, jvm=None) -> tuple[list[float], list[bool]]:
        """Time no-op syncs and say which were traced, after a full
        garbage collection (given the JVM) and ``WARMUP_NOOPS``
        untimed, untraced ones that still count as operations.
        Untraced: for ``seconds`` and at least ``MIN_NOOPS`` attempts.
        Traced: a fixed ``2 * TRACED_NOOPS`` attempts, alternating
        traced and untraced, so per-layer totals do not depend on
        machine speed.
        The loop counts attempts, failed ones too, so it always ends."""
        if jvm is not None:
            jvm.java.lang.System.gc()
        gc.collect()
        with self.untraced():
            for _ in range(WARMUP_NOOPS):
                self.op("warmup", sync)
        times, flags = [], []
        t_end = time.perf_counter() + self.seconds
        while (
            len(times) < 2 * TRACED_NOOPS if self.traced
            else time.perf_counter() < t_end or len(times) < MIN_NOOPS
        ):
            on = not self.traced or len(times) % 2 == 0
            with nullcontext() if on else self.untraced():
                times.append(self.op("noop", sync))
            flags.append(on)
        return times, flags

    @contextmanager
    def untraced(self):
        """Context in which the recorder records nothing."""
        if self.rec:
            self.rec.enabled = False
        try:
            yield
        finally:
            if self.rec:
                self.rec.enabled = True

    # ----------------------------------------------------------- tracing

    def install_tracing(self, sc) -> None:
        import mrsboraetl_spark.engine as engine
        from mrsboraetl_spark.sources import footer_stats
        from mrsboraetl_spark.sources.versioned import VersionedTable
        from mrsboraetl_spark.sources.watermark import WatermarkStore

        rec = self.rec = Recorder(sc)
        for attr, stage in PLAN_BUILDERS.items():
            self._wrap_plan(engine, attr, stage)
        for attr in ("parquet_column_maxes", "parquet_row_count"):
            rec.wrap(footer_stats, attr, "sources.footer_stats")
        for attr in ("last_update", "log_run"):
            rec.wrap(WatermarkStore, attr, "sources.watermark")
        for attr in ("version", "history", "archived_history", "commit",
                     "read", "merge", "merge_delta", "compact_history",
                     "vacuum"):
            rec.wrap(VersionedTable, attr, "sources.versioned")
        for attr in ("run", "read_target", "read_target_months",
                     "snapshots", "read_target_at", "pipeline_snapshot",
                     "read_pipeline"):
            rec.wrap(engine.PipelineRunner, attr, f"engine.{attr}")

    def _wrap_plan(self, engine, attr: str, stage: str) -> None:
        """Span around a stage plan builder; during the rebuild also
        keep the plan it returns for the isolated replay."""
        self.rec.wrap(engine, attr, f"plans.{stage}")
        traced = getattr(engine, attr)

        def keep(*args, **kwargs):
            df = traced(*args, **kwargs)
            if self.capture_plans:
                self.plans[stage] = df
            return df

        setattr(engine, attr, keep)

    def replay_plans(self) -> dict[str, float]:
        out = {}
        for stage in STAGES:
            df = self.plans.get(stage)
            if df is None:
                raise RuntimeError(f"rebuild built no {stage} plan")
            with self.rec.span(f"replay.{stage}"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                out[stage] = time.perf_counter() - t0
        return out

    # --------------------------------------------------------------- run

    def run(self) -> dict:
        t0 = time.perf_counter()
        from mrsboraetl_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Xms{HEAP}",
            **SMALL_INPUT_CONF,
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        session_start_s = time.perf_counter() - t0

        src = os.path.join(self.work, "src")
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            tables = gen.generate(self.shape["persons"], self.seed)
            paths = gen.write_sources(tables, src, "base", self.shape["files"])
            gen_s.append(time.perf_counter() - t)
        setup_s = session_start_s + sorted(gen_s)[len(gen_s) // 2]
        log(f"setup {setup_s:.2f}s (session {session_start_s:.2f}s)")

        if self.traced:
            self.install_tracing(spark.sparkContext)
        from checks import key_mismatches, root_hashes
        from mrsboraetl_spark.engine import PipelineRunner

        root = os.path.join(self.work, "root")
        runner = PipelineRunner(spark, root, partitioned=True, manifest=True)

        self.capture_plans = True
        rebuild_s = self.op("rebuild", lambda: runner.run(paths, "rebuild"))
        self.capture_plans = False
        log(f"rebuild {rebuild_s}")
        exec_s = self.replay_plans() if self.traced else {}

        delta_write = None
        if self.traced:
            gen.apply_delta(tables, self.seed, 0)
            paths = gen.write_sources(tables, src, "d0", self.shape["files"])
            before = tree_files(root)
            with self.untraced():
                hashes = root_hashes(runner)
            s = self.op("delta", lambda: runner.run(paths, "sync"))
            new = {
                p: b for p, b in tree_files(root).items() if p not in before
            }
            with self.untraced():
                delta_write = (new, hashes, root_hashes(runner))
            log(f"delta {s} wrote {sum(new.values()) / 1e6:.4f} MB")

        noops, noop_flags = self.noop_syncs(
            lambda: runner.run(paths, "sync"), spark._jvm
        )
        log(f"{len(noops)} no-op syncs, median {median(noops):.3f}s: "
            + " ".join(f"{t:.3f}" for t in noops))

        with self.untraced():
            try:
                bad = key_mismatches(runner, paths)
            except Exception:
                bad = [f"check raised: {traceback.format_exc()}"]
        if bad:
            log("check failed: " + "; ".join(bad))
            self.failed = self.attempted

        log(f"checks done at {time.perf_counter() - t0:.1f}s")
        storage_ratio = (
            sum(tree_files(root).values()) / sum(tree_files(src).values())
        )
        correct = not bad and self.failed == 0
        if len(noops) > 10:
            pct, tail_s, n = tail(noops)
            log(f"no-op tail p{pct:.1f} of n={n}: {tail_s:.3f}s")
        if not self.traced:
            metrics = {
                "setup_s": (setup_s, "s"),
                "rebuild_p50_s": (rebuild_s, "s"),
                "noop_sync_p50_s": (median(noops), "s"),
                "storage_ratio": (storage_ratio, "ratio"),
                "ok_frac": (1 - self.failed / self.attempted, "frac"),
            }
        else:
            metrics = self.layer_metrics(
                spark, session_start_s, exec_s, delta_write, noops,
                noop_flags, root,
            )
            metrics["peak_rss_mb"] = (peak_rss_mb(), "MB")
        spark.stop()
        stop_jvm()
        log(f"session stopped at {time.perf_counter() - t0:.1f}s")
        if self.traced:
            metrics.update(self.spark_metrics())
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }

    # ---------------------------------------------------- traced metrics

    def op_runs(self, kind: str):
        """(op span, its engine.run span) for each traced op of a kind."""
        rec = self.rec
        for s in rec.spans:
            if s.name == f"op.{kind}":
                runs = [c for c in rec.children(s) if c.name == "engine.run"]
                if runs:
                    yield s, runs[0]

    def layer_metrics(self, spark, session_start_s, exec_s, delta_write,
                      noops, noop_flags, root) -> dict:
        rec = self.rec

        def self_time_of(span):
            return self_time(span, rec.children(span))

        rec.attach_jobs(spark.sparkContext.statusTracker())
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (session_start_s, "s"),
        }
        for kind in ("rebuild",) + SYNC_OPS:
            runs = [r for _, r in self.op_runs(kind)]
            selfs = [self_time(r, rec.children(r)) for r in runs]
            for r, st in zip(runs, selfs):
                child = sum(c.wall for c in rec.children(r))
                if abs(st + child - r.wall) > 1e-6:
                    raise AssertionError(f"self-time arithmetic off on {r}")
            self._runs[kind] = runs
            m[f"engine.run.{kind}.s"] = (median([r.wall for r in runs]), "s")
            m[f"engine.run.{kind}.self_s"] = (median(selfs), "s")
        # Per operation, never summed over a speed-dependent number of
        # syncs: the delta sync's own value for the layers it drives,
        # the median over traced no-op syncs for the footer change
        # signal.  A no-op sync never reads the watermark log: its skip
        # comes from the manifest snapshot.
        for name, kind, secs in (
            ("engine.read_target", "delta", lambda s: s.wall),
            ("sources.versioned", "delta", self_time_of),
            ("sources.watermark", "delta", self_time_of),
            ("sources.footer_stats", "noop", self_time_of),
        ):
            per_op = [
                [s for s in rec.subtree(op) if s.name == name]
                for op, _ in self.op_runs(kind)
            ]
            m[f"{name}.calls"] = (median(len(p) for p in per_op), "count")
            m[f"{name}.s"] = (
                median(sum(secs(s) for s in p) for p in per_op), "s"
            )
        delta_spans = [
            s for op, _ in self.op_runs("delta") for s in rec.subtree(op)
        ]
        for stage in STAGES:
            spans = [s for s in delta_spans if s.name == f"plans.{stage}"]
            m[f"plans.{stage}.s"] = (sum(s.wall for s in spans), "s")
            m[f"plans.{stage}.spark_jobs"] = (
                sum(len(t.jobs) for s in spans for t in rec.subtree(s)),
                "count",
            )
            m[f"plans.{stage}.exec_s"] = (exec_s[stage], "s")
        new, before, after = delta_write
        rewritten = len({
            t for t in STAGES
            for p in new if os.path.relpath(p, root).startswith(t + ".")
        })
        changed = sum(1 for t in STAGES if before[t] != after[t])
        m["engine.files_written"] = (
            sum(1 for p in new if p.endswith(".parquet")), "count"
        )
        m["engine.delta.write_mb"] = (sum(new.values()) / 1e6, "MB")
        m["engine.targets_rewritten"] = (rewritten, "count")
        m["engine.targets_changed"] = (changed, "count")
        m["engine.write_useful_ratio"] = (
            changed / rewritten if rewritten else 1.0, "ratio"
        )
        on = [s for s, f in zip(noops, noop_flags) if f]
        off = [s for s, f in zip(noops, noop_flags) if not f]
        m["trace.overhead_frac"] = (median(on) / median(off) - 1, "frac")
        return m

    def spark_metrics(self) -> dict:
        """Metrics that need the event log, read after the session
        stopped and flushed it."""
        rec = self.rec
        jobs = read_event_log(os.path.join(self.work, "eventlog"))
        m: dict[str, tuple[float, str]] = {}
        for kind, runs in self._runs.items():
            idle, counts, input_mb = [], [], []
            for r in runs:
                ids = [j for s in rec.subtree(r) for j in s.jobs]
                intervals = [
                    (jobs[j]["submit"], jobs[j]["complete"])
                    for j in ids if j in jobs
                ]
                idle.append(r.wall - covered(intervals, r.start, r.end))
                counts.append(len(ids))
                input_mb.append(spark_totals(ids, jobs)["input_mb"])
            m[f"engine.run.{kind}.idle_s"] = (median(idle), "s")
            m[f"spark.jobs.{kind}"] = (median(counts), "count")
            m[f"spark.input_mb.{kind}"] = (median(input_mb), "MB")
        op_jobs = [
            j for s in rec.spans if s.name.startswith("op.")
            for t in rec.subtree(s) for j in t.jobs
        ]
        units = {"jobs": "count", "stages": "count", "tasks": "count"}
        for k, v in spark_totals(op_jobs, jobs).items():
            unit = units.get(k, "MB" if k.endswith("_mb") else "s")
            m[f"spark.{k}"] = (v, unit)
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything the run writes stays under the checkout: storage
    # roots, sources, Spark scratch, the event log, JVM and Python temp
    # files, derby.log and spark-warehouse (cwd).
    work = os.path.join(
        REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    sys.path.insert(0, REPO)
    tempfile.tempdir = tmp
    os.chdir(work)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = bench.run()
        if bench.rec is not None:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            bench.rec.dump(
                os.path.join(out, f"spans-{args.workload}-{args.seed}.json")
            )
    finally:
        stop_jvm()
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
        with suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
