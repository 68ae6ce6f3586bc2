#!/usr/bin/env python3
"""skyway_spark benchmark: one command per workload, outputs checked.

    python3 perfbench/run.py --workload flagship|convert \\
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout.  It starts one Spark session on
``local[nproc]``, builds the workload's inputs from ``--seed``, builds
the plan, warms up, measures for ``--seconds`` seconds, then repeats
the set-up several times on one vCPU.  Times are walls less the host's
steal.  Every iteration's output is checked; a mismatch counts as a
failed iteration.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` turns on the Spark event log, benchmark-side spans and the
layer decomposition, and reports the per-layer metrics instead.

Human-readable lines go to stdout first; the last stdout line is one
JSON object with the keys correct / attempted / failed / metrics.  The
full record (host provenance, checks, spans) is written under
``.perfbench/`` in the checkout.  See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT_DIR = ROOT / ".perfbench"


class Tracer:
    """Benchmark-side spans (name, start, end, parent), kept in memory;
    traced runs write them out at exit."""

    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def phases(self) -> dict:
        """Seconds and count per span name, for the spans right below
        the outermost ones."""
        out: dict[str, list] = {}
        for sp in self.spans:
            parent = sp["parent"]
            if parent is not None and self.spans[parent]["parent"] is None and sp["end"] is not None:
                acc = out.setdefault(sp["name"], [0.0, 0])
                acc[0] += sp["end"] - sp["start"]
                acc[1] += 1
        return {k: {"s": v[0], "n": v[1]} for k, v in out.items()}


class Bench:
    """Everything one run shares: session, work directory, checks."""

    def __init__(self, args: argparse.Namespace, spark, work: Path, tracer: Tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spark = spark
        self.sc = spark.sparkContext
        self.nproc = nproc()
        self.work = work
        self.cache = OUT_DIR / "cache"
        self.cache.mkdir(exist_ok=True)
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        # input sizes, set by the workload for the record
        self.inputs: dict = {}
        # what a workload's traced run hands to its LAYERS function
        self.stash: dict = {}

    def path(self, name: str) -> str:
        return str(self.work / name)

    @contextmanager
    def group(self, name: str):
        """Tag the Spark jobs of one leg with a job group (and a span)."""
        self.sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.sc.setJobGroup(None, None)

    def jobs_in(self, name: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(name))

    def check(self, name: str, ok: bool, detail=None, timed: bool = True) -> bool:
        """Record an output check; a failed timed check fails its iteration."""
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if timed:
            self.attempted += 1
            self.failed += 0 if ok else 1
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return ok


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def git_sha() -> str | None:
    """HEAD of the checkout, read from .git without running git."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).exists():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (from /proc/stat)."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def provenance(args: argparse.Namespace) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "loadavg_before": list(os.getloadavg()),
        "cpu_steal_s_before": cpu_steal_s(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_sha": git_sha(),
        "host": platform.node(),
    }


def start_spark(args: argparse.Namespace, work: Path):
    from skyway_spark.plans.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the flagship pages land as 4*nproc small files; keep one
        # split per file rather than bin-packing them (as bench.py does)
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": "0",
    }
    if args.trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    n = nproc()
    spark = get_spark(f"perfbench-{args.workload}", cpus=n, shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_catalog() -> dict:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        return json.load(f)


def select_metrics(catalog: dict, trace: bool, workload: str, values: dict) -> dict:
    """The metrics of BENCHMARK.json for this mode, with their units.

    Traced runs report every per-layer metric: a metric of a layer that
    only another workload runs reads 0, because this workload never runs
    that layer.  Any other metric missing from ``values`` is an error."""
    from workloads import LAYER_PREFIXES

    foreign = tuple(p for w, ps in LAYER_PREFIXES.items() if w != workload for p in ps)
    out = {}
    for m in catalog["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in values:
            v = values[name]
        elif trace and name.startswith(foreign):
            v = 0
        else:
            raise KeyError(f"workload {workload!r} did not measure {name!r}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["flagship", "convert"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    if not (ROOT / "skyway_spark" / "__init__.py").is_file():
        print(f"perfbench: no skyway_spark package under {ROOT}", file=sys.stderr)
        return 2
    catalog = load_catalog()

    # Inputs, checkpoints, Spark scratch and temp files all stay inside
    # the checkout; Python workers import the package from it.
    OUT_DIR.mkdir(exist_ok=True)
    work = OUT_DIR / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(ROOT / "perfbench")] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    import workloads

    record = {"provenance": provenance(args)}
    tracer = Tracer()
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_spark(args, work)
        record["session_start_s"] = time.monotonic() - t0
        bench = Bench(args, spark, work, tracer)
        with tracer.span(f"workload.{args.workload}"):
            values, report = workloads.WORKLOADS[args.workload](bench)
        jvm_pid = bench.sc._jvm.java.lang.ProcessHandle.current().pid()
        values["driver_peak_rss_mb"] = vm_hwm_mb("self")
        report["driver_peak_rss_mb"] = (values["driver_peak_rss_mb"], "MB")
        report["peak_rss_mb"] = (values["driver_peak_rss_mb"] + vm_hwm_mb(jvm_pid), "MB")
        stop_spark(spark)
        spark = None
        if args.trace:
            from eventlog import group_totals

            values.update(workloads.LAYERS[args.workload](bench, group_totals(work / "eventlog")))
            overhead = workloads.tracing_overhead(OUT_DIR, args.workload, values)
            if overhead is not None:
                report["tracing_overhead"] = (overhead, "share of untraced items/s")
        report["error_rate"] = (bench.failed / bench.attempted, "failed/attempted")
        metrics = select_metrics(catalog, bool(args.trace), args.workload, values)
        record["provenance"]["loadavg_after"] = list(os.getloadavg())
        record["provenance"]["cpu_steal_s_after"] = cpu_steal_s()
        record.update(
            {
                "run_s": time.monotonic() - t_start,
                "phases": tracer.phases(),
                "inputs": bench.inputs,
                "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
                "values": values,
                "iters": bench.stash.get("iters"),
                "setup": bench.stash.get("setup"),
                "checks": bench.checks,
            }
        )
        stem = f"{args.workload}-trace{args.trace}-seed{args.seed}"
        with open(OUT_DIR / f"record-{stem}.json", "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            with open(OUT_DIR / f"spans-{stem}.json", "w", encoding="utf-8") as f:
                json.dump(tracer.spans, f)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for c in bench.checks:
        print(f"check {c['check']}: {'ok' if c['ok'] else 'MISMATCH'}")
    for name, (value, unit) in report.items():
        print(f"{name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0 and all(c["ok"] for c in bench.checks),
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
