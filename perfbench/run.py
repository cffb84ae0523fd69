"""Benchmark of the validation engine's entry point,
``schema_drift_detector_spark.plans.run.run_validation``.

    python3 perfbench/run.py --workload epoch_stream --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process, one Spark session at
``local[<usable cores>]``, one closed-loop caller that waits for each
verdict before the next call. Every call's verdicts, violation counts,
decision and resume state are checked against an expected answer
derived from the generator seed (oracle.py). The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
README.md in this directory lists every metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("epoch_stream", "resume_batched")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def steal_jiffies() -> int:
    """Machine-wide hypervisor steal from /proc/stat (a diagnostic)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _children(pid: int) -> list[int]:
    """Children started by any thread of the process (the JVM starts the
    Python worker daemon from a thread other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process has ended
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:  # the thread has ended
            pass
    return out


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total_kb / 1024


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with
    eleven or fewer samples, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 11:
        return xs[-1], f"max of {n}"
    pct = int(100 * (n - 10) / n)
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], f"p{pct} of {n}"


@dataclass
class Call:
    kind: str  # "run" starts a run_id, "resume" re-invokes one; "drift_checks" (traced sweep)
    wall_s: float
    docs: int
    failed: bool


class Bench:
    """The session sized to this host, the run's scratch directory and the
    oracle checks shared by the workloads."""

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.cores = sorted(os.sched_getaffinity(0))
        self.spark = None
        self.calls: list[Call] = []
        self.errors: list[str] = []

    def start(self) -> float:
        """Pin this process (and so the JVM it starts) to the usable cores
        and start the session; returns the start-up time."""
        os.sched_setaffinity(0, self.cores)
        for d in ("tmp", "spark-local"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # no JVM performance-counter files under /tmp (launcher and driver)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        from schema_drift_detector_spark.session import get_spark

        n = len(self.cores)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{n}]",
            shuffle_partitions=4 * n,
            extra_conf={
                # a small heap fills to its cap early, so peak RSS reads
                # the same from run to run; the inputs are a few MB
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = process_tree(os.getpid())[1:]
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
            time.sleep(0.1)
        self.spark = None

    def call(self, kind: str, docs: int, fn, check) -> dict | None:
        """Time one run_validation call, then check its answer outside the
        timed region. A call that raises or answers wrongly counts as
        failed."""
        s0 = steal_jiffies()
        t0 = time.perf_counter()
        try:
            env = fn()
        except Exception as e:  # the call is what failed; the loop goes on
            env, problems = None, [f"{type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        steal = steal_jiffies() - s0
        if env is not None:
            try:
                problems = check(env)
            except Exception as e:  # a check that cannot read the outputs
                problems = [f"check {type(e).__name__}: {e}"]
        self.record(kind, wall, docs, problems)
        print(
            f"call {len(self.calls)} {kind} {wall:.3f}s steal={steal} jiffies"
            + (f" FAILED: {problems[:3]}" if problems else ""),
            flush=True,
        )
        return env

    def record(self, kind: str, wall: float, docs: int, problems: list[str]) -> None:
        self.calls.append(Call(kind, wall, docs, bool(problems)))
        self.errors.extend(problems)

    def outputs(self, out_dir: str, run_id: str) -> tuple[list, list]:
        from schema_drift_detector_spark.plans.run import read_verdicts, read_violations

        verdicts = [
            tuple(r)
            for r in read_verdicts(self.spark, out_dir, run_id)
            .select("constraint", "partition_id", "passed")
            .collect()
        ]
        counts = [
            tuple(r)
            for r in read_violations(self.spark, out_dir, run_id)
            .groupBy("constraint", "partition_id")
            .count()
            .collect()
        ]
        return verdicts, counts

    def pending(self, docs, out_dir: str, run_id: str) -> list[int]:
        from schema_drift_detector_spark.plans import manifest as M

        return M.pending_partitions(self.spark, docs.select("partition_id"), out_dir, run_id)


class Workload:
    """Inputs, one loop iteration and the layer-sweep inputs of a workload."""

    spec: dict = {}

    def __init__(self, bench: Bench):
        self.b = bench
        self.out_bytes: list[float] = []  # output bytes per validated doc, per measurement
        self.rework = 0  # partitions a resume re-ran although already committed
        self.t: dict = {}

    def table(self, name: str) -> str:
        return str(self.b.work / "inputs" / name)

    def open_inputs(self, names) -> None:
        from schema_drift_detector_spark.sources.io import read_table

        self.t = {n: read_table(self.b.spark, self.table(n)) for n in names}

    def finish(self) -> None:
        """Calls made after the timed loop, if any."""

    def sweep_inputs(self):
        """(docs path, docs, catalog, the e0 table, (histogram, t-digest,
        kind-count) e0 baselines) for the layer sweep."""
        from schema_drift_detector_spark.sources.synth import synth_documents

        from schema_drift_detector_spark.plans.run import (
            DEFAULT_SPEC,
            baseline_histogram,
            baseline_kind_counts,
            baseline_tdigest,
        )

        t = self.t
        e0 = t["e0"] if "e0" in t else synth_documents(self.b.spark, self.cfg, epoch=0)
        baselines = (baseline_histogram(e0, DEFAULT_SPEC), baseline_tdigest(e0), baseline_kind_counts(e0))
        return self.table("e2"), t["e2"], t["catalog"], e0, baselines


def _write_inputs(spark, dest: Path, cfg, tables: dict) -> None:
    """Generated tables → parquet through the engine's sources.io."""
    from schema_drift_detector_spark.sources.io import write_table
    from schema_drift_detector_spark.sources.synth import synth_asset_catalog

    for name, df in {**tables, "catalog": synth_asset_catalog(spark, cfg)}.items():
        write_table(df, str(dest / name), mode="overwrite")


class EpochStream(Workload):
    """Epochs cycle e1 → e2 → e0 → e1 … into ONE shared out_dir, so the
    snapshot chain, manifest and output tree grow call by call. After the
    loop the last run_id is re-invoked: a retry of a run that already
    committed every partition (the resume sample)."""

    N_DOCS = 20_000

    def __init__(self, bench: Bench):
        super().__init__(bench)
        from schema_drift_detector_spark.sources.synth import SynthConfig

        self.cfg = SynthConfig(n_docs=self.N_DOCS, n_partitions=8, n_assets=50_000, seed=bench.seed)
        self.out_dir = str(bench.work / "out" / "stream")
        self.prev_epoch: int | None = None
        self.last = None
        self.runs = 0

    def build_inputs(self, dest: Path) -> None:
        from schema_drift_detector_spark.sources.synth import synth_documents

        spark = self.b.spark
        _write_inputs(spark, dest, self.cfg, {f"e{e}": synth_documents(spark, self.cfg, epoch=e) for e in (1, 2)})

    def open_inputs(self) -> None:
        from perfbench.oracle import Oracle
        from schema_drift_detector_spark.sources.synth import synth_documents

        super().open_inputs(("e1", "e2", "catalog"))
        # e0 is reached only by a third call in one run; it is generated
        # on demand rather than staged
        self.t["e0"] = synth_documents(self.b.spark, self.cfg, epoch=0)
        self.oracle = Oracle(self.cfg, hot=False)

    def _run(self, run_id: str, epoch: int, kind: str, prev_epoch: int | None) -> dict | None:
        from perfbench.oracle import mismatches
        from schema_drift_detector_spark.plans import run as R

        b, t = self.b, self.t
        docs = t[f"e{epoch}"]
        exp = self.oracle.expect(epoch, prev_epoch, drift_checks=False)

        def check(env):
            if kind == "resume":  # the outputs were checked after the first call
                problems = [] if env["decision"] == exp.decision else [f"retry decision {env['decision']}"]
                if env["run"]["batches_executed"] or env["run"]["partitions_pending_before"]:
                    problems.append("retry of a committed run re-ran partitions")
                return problems
            problems = mismatches(env, *b.outputs(self.out_dir, run_id), exp)
            if b.pending(docs, self.out_dir, run_id):
                problems.append("partitions still pending after the call")
            return problems

        return b.call(
            kind, self.cfg.n_docs if kind == "run" else 0,  # a retry validates nothing
            lambda: R.run_validation(b.spark, docs, t["catalog"], self.out_dir, run_id=run_id, epoch=epoch),
            check,
        )

    def iteration(self, i: int) -> None:
        epoch, run_id = i % 3, f"stream-{i}"
        self._run(run_id, epoch, "run", self.prev_epoch)
        self.last = (run_id, epoch, self.prev_epoch)
        self.prev_epoch = epoch
        self.runs += 1

    RETRIES = 3  # a retry is short: resume_s is the median of several

    def finish(self) -> None:
        from perfbench.trace import tree_stats

        run_id, epoch, prev = self.last
        for _ in range(self.RETRIES):
            env = self._run(run_id, epoch, "resume", prev)
            self.rework = max(self.rework, len(env["run"]["partitions_pending_before"]) if env else 0)
        self.out_bytes.append(tree_stats(self.out_dir)[1] / (self.runs * self.cfg.n_docs))

    def trace_out_dir(self) -> str:
        return self.out_dir


class ResumeBatched(Workload):
    """The e2 table, with one hot doc_id on ~10% of rows, validated with
    salting sized from the data and a Bloom-prefiltered catalog check, in
    PARTITION_BATCHES batches. Each iteration gets a fresh out_dir: the run
    is interrupted after FAIL_AFTER batches, then resumed with the same
    run_id."""

    N_DOCS = 40_000
    N_ASSETS = 50_000
    PARTITION_BATCHES = 2
    FAIL_AFTER = 1
    spec = {"uniqueness": {"auto_salt": True}, "referential_integrity": {"bloom_catalog": True}}

    def __init__(self, bench: Bench):
        super().__init__(bench)
        from schema_drift_detector_spark.sources.synth import SynthConfig

        self.cfg = SynthConfig(n_docs=self.N_DOCS, n_partitions=8, n_assets=self.N_ASSETS, seed=bench.seed)
        self.last_out_dir = ""

    def build_inputs(self, dest: Path) -> None:
        from perfbench.oracle import with_hot_key
        from schema_drift_detector_spark.sources.synth import synth_documents

        spark, cfg = self.b.spark, self.cfg
        _write_inputs(spark, dest, cfg, {"e2": with_hot_key(synth_documents(spark, cfg, epoch=2), cfg)})

    def open_inputs(self) -> None:
        from perfbench.oracle import Oracle

        super().open_inputs(("e2", "catalog"))
        self.oracle = Oracle(self.cfg, hot=True)
        self.exp = self.oracle.expect(2, None, drift_checks=False)
        # what the first FAIL_AFTER batches of run_validation's stride
        # grouping leave pending
        parts = list(range(self.cfg.n_partitions))
        done = {p for i in range(self.FAIL_AFTER) for p in parts[i :: self.PARTITION_BATCHES]}
        self.left = sorted(set(parts) - done)
        self.docs_first = sum(len(range(p, self.cfg.n_docs, self.cfg.n_partitions)) for p in done)

    def _kw(self, run_id: str) -> dict:
        return dict(run_id=run_id, epoch=2, partition_batches=self.PARTITION_BATCHES, spec=self.spec)

    def iteration(self, i: int) -> None:
        from perfbench.oracle import mismatches
        from perfbench.trace import tree_stats
        from schema_drift_detector_spark.plans import run as R

        b, t = self.b, self.t
        run_id = f"resume-{i}"
        if self.last_out_dir:  # keep only the latest iteration's outputs
            shutil.rmtree(self.last_out_dir, ignore_errors=True)
        out_dir = self.last_out_dir = str(b.work / "out" / run_id)

        def check_interrupted(env):
            # what it left pending is checked by the resume, which reports it
            done = env["run"]["batches_executed"]
            return [] if done == self.FAIL_AFTER else [f"interrupted run executed {done} batches"]

        b.call("run", self.docs_first,
               lambda: R.run_validation(b.spark, t["e2"], t["catalog"], out_dir,
                                        fail_after_batches=self.FAIL_AFTER, **self._kw(run_id)),
               check_interrupted)

        def check(env):
            problems = mismatches(env, *b.outputs(out_dir, run_id), self.exp)
            before = sorted(env["run"]["partitions_pending_before"])
            self.rework = len(set(before) - set(self.left))
            if before != self.left:
                problems.append(f"resume re-ran {before} != {self.left}")
            if b.pending(t["e2"], out_dir, run_id):
                problems.append("partitions still pending after resume")
            return problems

        b.call("resume", self.cfg.n_docs - self.docs_first,
               lambda: R.run_validation(b.spark, t["e2"], t["catalog"], out_dir, **self._kw(run_id)),
               check)
        self.out_bytes.append(tree_stats(out_dir)[1] / self.cfg.n_docs)

    def trace_out_dir(self) -> str:
        return self.last_out_dir


def end_to_end(bench: Bench, wl: Workload, setup_s: float, rss_mb: float) -> dict:
    calls = bench.calls
    runs = [c.wall_s for c in calls if c.kind == "run"]
    resumes = [c.wall_s for c in calls if c.kind == "resume"]
    tail_s, tail_note = tail(runs)
    print(f"run_s samples: {len(runs)} (tail = {tail_note}); resume_s samples: {len(resumes)}")
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (sum(c.docs for c in calls) / sum(c.wall_s for c in calls), "docs/s"),
        "run_s.p50": (statistics.median(runs), "s"),
        "run_s.tail": (tail_s, "s"),
        "resume_s": (statistics.median(resumes), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "out_bytes_per_doc": (statistics.median(wl.out_bytes), "B/doc"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "schema_drift_detector_spark" / "__init__.py").is_file():
        print(f"no schema_drift_detector_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    bench = Bench(work, args.seed)
    try:
        result = run(bench, args)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(bench: Bench, args) -> dict:
    session_s = bench.start()
    wl = {"epoch_stream": EpochStream, "resume_batched": ResumeBatched}[args.workload](bench)
    t0 = time.perf_counter()
    wl.build_inputs(bench.work / "inputs")
    build_s = time.perf_counter() - t0
    wl.open_inputs()
    setup_s = session_s + build_s
    print(f"setup: session {session_s:.2f}s, inputs {build_s:.2f}s")

    if args.trace:
        from perfbench import layers

        metrics = layers.traced(bench, wl)
    else:
        deadline = time.perf_counter() + args.seconds
        i = 1
        while i == 1 or time.perf_counter() < deadline:
            wl.iteration(i)
            i += 1
        wl.finish()
        rss = peak_rss_mb(process_tree(os.getpid()))
        metrics = end_to_end(bench, wl, setup_s, rss)
    attempted = len(bench.calls)
    failed = sum(c.failed for c in bench.calls)
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} calls)")
    for e in bench.errors[:10]:
        print(f"  {e}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
