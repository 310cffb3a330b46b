"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload climate --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run is one fresh Python process
with one ``local[nproc]`` Spark session, driven as a closed loop by a
single client (one step in flight, no extra threads):

1. set-up: session start, input generation and expected outputs (both
   off the clock), registry import, table handles, then the cold first
   pass. ``setup_s`` is process start to the end of that pass, minus the
   off-clock intervals;
2. a fixed count of untimed warm-up passes (the workload's ``warmup``),
   never cut short;
3. measured passes until ``--seconds`` have passed (at least
   ``MIN_MEASURED``). With ``--trace 1`` they alternate traced and
   untraced, so the run also gives the tracing overhead.

Every step's output is checked on every pass. The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is the run record. Spans and the run
record are also written to ``.perfbench_out/`` in the checkout. The
command exits 1 if any step failed, and 2 (printing no result) when the
checkout holds no ``bcdp_spark`` package.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_MEASURED = 3
VERBS = ("from_netcdf", "subset", "regrid", "climatology", "from_zarr")


def proc_age() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def configure_env(work: str) -> int:
    """Environment for the session and its Python workers; returns the
    core count the session gets."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's Python workers import bcdp_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " pyspark-shell"
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cpus


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, work: str, cpus: int):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cpus = cpus
        self.wl = WORKLOADS[args.workload](work, args.tiny)
        self.tracer = Tracer(enabled=False)
        self.groups: list[str] = []
        self.step_id = None
        self.spark = None
        self.probe = None
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}

    def stop(self) -> None:
        """Stop the session and wait for its JVM (and with it the
        Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    # -- spans and job groups -----------------------------------------
    @contextmanager
    def layer(self, name: str, group: str):
        """A span around one call into a layer. In a traced pass the
        step id (plus the phase) is also the Spark job group, so each
        job maps back to its step."""
        traced = self.tracer.enabled
        if traced:
            self.groups.append(f"{self.step_id}/{group}")
            self.probe.set_group(self.groups[-1])
        try:
            with self.tracer.span(name):
                yield
        finally:
            if traced:
                self.groups.pop()
                if self.groups:
                    self.probe.set_group(self.groups[-1])
                else:
                    self.probe.clear_group()

    # -- one pass -----------------------------------------------------
    def run_pass(self, idx: int, kind: str, traced: bool) -> dict:
        from workloads import StepContext

        self.tracer.enabled = traced
        pass_dir = os.path.join(self.work, "sink", f"p{idx}")
        rec = {"idx": idx, "kind": kind, "traced": traced, "steps": {}}
        j0 = self.probe.jvm_counters()
        for step in self.steps:
            sid = f"p{idx}.{step.name}"
            self.step_id = self.tracer.step = sid
            ctx = StepContext(self.spark, self.layer, pass_dir)
            err, out = None, None
            c0 = self.probe.compiles()
            t0 = time.perf_counter()
            try:
                out = step.run(ctx)
            except Exception:
                err = f"{step.name}: {traceback.format_exc()}"
            t1 = time.perf_counter()
            if err is None:
                if self.args.corrupt and idx == 0 and step is self.steps[0]:
                    out = corrupt(out)
                try:
                    err = step.check(out)
                except Exception:
                    err = f"{step.name}: check raised {traceback.format_exc()}"
            self.attempted += 1
            if err:
                self.failed += 1
                print(f"FAILED pass {idx} {err}", file=sys.stderr)
            srec = {"wall": t1 - t0}
            if traced:
                srec.update(self.readout(sid, ctx))
            srec["compiles"] = self.probe.compiles() - c0
            rec["steps"][step.name] = srec
        j1 = self.probe.jvm_counters()
        rec["jvm"] = {k: j1[k] - j0[k] for k in j0}
        rec["wall"] = sum(s["wall"] for s in rec["steps"].values())
        if traced and hasattr(self.wl, "nc_dir"):
            rec["decode"] = decode_in_process(self.wl.nc_dir)
        self.passes.append(rec)
        return rec

    def readout(self, sid: str, ctx) -> dict:
        from spans import covered, self_times

        spans = self.tracer.step_spans(sid)
        out = {"self": self_times(spans), "covered": covered(spans)}
        jobs = {}
        for group in ("construct", "exec", "write"):
            jobs[group] = self.probe.job_metrics(f"{sid}/{group}")
        out["jobs"] = jobs
        plan: dict[str, float] = {}
        for df in ctx.executed:
            for k, v in self.probe.plan_metrics(df).items():
                plan[k] = plan.get(k, 0.0) + v
        out["plan"] = plan
        files = size = rows = 0
        for d, n in ctx.sink_dirs:
            rows += n
            for dirpath, _, names in os.walk(d):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in names)
        out["sink"] = {"files": files, "bytes": size, "rows": rows}
        return out

    # -- the run ------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        """Set up, warm up and measure; returns the run record and the
        metrics as name -> (value, unit)."""
        import numpy as np

        off = 0.0
        steal0 = cpu_times()
        rng = np.random.default_rng(self.args.seed)

        t = time.perf_counter()
        from bcdp_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.setup["session.start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.inputs = self.wl.generate(rng)
        off += time.perf_counter() - t

        t = time.perf_counter()
        import bcdp_spark.queries as q

        q.queries()
        self.setup["queries.import_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.wl.prepare(q)
        self.steps = self.wl.steps()
        order = rng.permutation(len(self.steps))
        self.steps = [self.steps[i] for i in order]
        off += time.perf_counter() - t

        t = time.perf_counter()
        self.setup["tables.handles"] = float(self.wl.handles(self.spark))
        self.setup["tables.handle_s"] = time.perf_counter() - t

        from spans import SparkProbe

        self.probe = SparkProbe(self.spark)
        first = self.run_pass(0, "first", traced=False)
        setup_s = proc_age() - off
        self.setup["setup.first_pass_s"] = first["wall"]
        self.setup["setup.first_pass_jit_s"] = first["jvm"]["jit_s"]

        warmup = 0 if self.args.tiny else self.wl.warmup
        for i in range(warmup):
            self.run_pass(1 + i, "warmup", traced=False)
        t_measure = time.perf_counter()
        measured: list[dict] = []
        while (len(measured) < MIN_MEASURED
               or time.perf_counter() - t_measure < self.args.seconds):
            traced = bool(self.args.trace) and len(measured) % 2 == 0
            measured.append(
                self.run_pass(1 + warmup + len(measured), "measured", traced)
            )

        steal1 = cpu_times()
        d = [b - a for a, b in zip(steal0, steal1)]
        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "inputs": self.inputs,
            "nproc": self.cpus,
            "ram_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
            "pyspark": self.spark.version,
            "python": platform.python_version(),
            "git_commit": git_commit(),
            "cpu_steal_ratio": d[7] / max(sum(d), 1),
            "warmup": warmup,
            "measured": len(measured),
            "passes": [
                {"idx": p["idx"], "kind": p["kind"], "traced": p["traced"],
                 "wall_s": p["wall"], "jit_s": p["jvm"]["jit_s"],
                 "gc_s": p["jvm"]["gc_s"], "compiles": p["jvm"]["compiles"],
                 "steps": {n: [round(st["wall"], 4), st["compiles"]]
                           for n, st in p["steps"].items()}}
                for p in self.passes
            ],
        }
        untraced = [p for p in measured if not p["traced"]]
        pass_s = sum(
            median([p["steps"][s.name]["wall"] for p in untraced])
            for s in self.steps
        )
        if self.args.trace:
            traced = [p for p in measured if p["traced"]]
            record["traced_passes"] = [self.pass_layers(p) for p in traced]
            metrics = self.layer_metrics(record["traced_passes"], traced, pass_s)
        else:
            gc.collect()
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (pass_s, "s"),
                "heap_live_mb": (self.probe.heap_live_mb(), "MB"),
            }
            record["heap_readings_mb"] = self.probe.heap_readings
        return record, metrics

    def layer_metrics(self, per_pass: list[dict], traced: list[dict],
                      untraced_pass_s: float) -> dict:
        """Median over the traced passes of each per-pass metric, plus
        the set-up, memory and tracing-overhead metrics."""
        from workloads import ITERATIVE_KEYS

        m = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        traced_pass_s = sum(
            median([p["steps"][s.name]["wall"] for p in traced])
            for s in self.steps
        )
        m["trace.overhead_ratio"] = traced_pass_s / untraced_pass_s - 1.0
        m.update(self.setup)
        m["memory.jvm_rss_peak_mb"] = self.probe.jvm_rss_peak_mb()
        m["memory.python_rss_peak_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        for key in ITERATIVE_KEYS:  # listed per-layer on every workload
            m.setdefault(f"query.{key}.construct_s", 0.0)
            m.setdefault(f"query.{key}.exec_s", 0.0)
        return {k: (v, unit(k)) for k, v in m.items()}

    def pass_layers(self, p: dict) -> dict[str, float]:
        """One traced pass's per-layer metrics, summed over its steps."""
        steps = p["steps"]
        out: dict[str, float] = {}

        def add(k, v):
            out[k] = out.get(k, 0.0) + v

        for name, s in steps.items():
            self_t = s["self"]
            add("queries.construct_s", self_t.get("queries.construct", 0.0))
            add("queries.exec_s", self_t.get("queries.exec", 0.0))
            if "queries.construct" in self_t:
                out[f"query.{name}.construct_s"] = self_t["queries.construct"]
                out[f"query.{name}.exec_s"] = self_t["queries.exec"]
            for verb in VERBS:
                add(f"ensemble.{verb}_s", self_t.get(f"ensemble.{verb}", 0.0))
            add("sinks.write_s", self_t.get("sinks.write", 0.0))
            add("trace.unattributed_s", s["wall"] - s["covered"])
            add("queries.construct_jobs", s["jobs"]["construct"]["jobs"])
            for group in s["jobs"].values():
                for k, v in group.items():
                    add(f"spark.{k}", v)
            for k, v in s["plan"].items():
                add(f"plan.{k}", v)
            add("sinks.bytes_written_mb", s["sink"]["bytes"] / 2**20)
            add("sinks.files_written", s["sink"]["files"])
            add("sinks.user_bytes", s["sink"]["rows"] * 8.0)
        plan = {k[len("plan."):]: out.pop(k) for k in list(out) if k.startswith("plan.")}
        wall = p["wall"]
        res = {
            "queries.construct_s": out["queries.construct_s"],
            "queries.exec_s": out["queries.exec_s"],
            "queries.construct_jobs": out["queries.construct_jobs"],
            "catalyst.analysis_s": plan.get("analysis_s", 0.0),
            "catalyst.optimization_s": plan.get("optimization_s", 0.0),
            "catalyst.planning_s": plan.get("planning_s", 0.0),
            "codegen.compiles": p["jvm"]["compiles"],
            "jvm.jit_compile_s": p["jvm"]["jit_s"],
            "jvm.gc_s": p["jvm"]["gc_s"],
            "jvm.classes_loaded": p["jvm"]["classes"],
            "spark.core_busy_ratio": out["spark.executor_run_s"] / (wall * self.cpus),
            "plan.scan_rows": plan.get("scan_rows", 0.0),
            "plan.agg_time_s": plan.get("agg_time_s", 0.0),
            "plan.join_build_s": plan.get("join_build_s", 0.0),
            "plan.sort_s": plan.get("sort_s", 0.0),
            "pyworker.rows": plan.get("py_rows", 0.0),
            "pyworker.bytes_sent_mb": plan.get("py_sent_mb", 0.0),
            "pyworker.bytes_received_mb": plan.get("py_received_mb", 0.0),
            "sinks.write_s": out["sinks.write_s"],
            "sinks.bytes_written_mb": out["sinks.bytes_written_mb"],
            "sinks.files_written": out["sinks.files_written"],
            "sinks.bytes_per_user_byte": (
                out["sinks.bytes_written_mb"] * 2**20 / out["sinks.user_bytes"]
                if out["sinks.user_bytes"] else 0.0
            ),
            "trace.unattributed_ratio": out["trace.unattributed_s"] / wall,
        }
        for verb in VERBS:
            res[f"ensemble.{verb}_s"] = out[f"ensemble.{verb}_s"]
        for k, v in out.items():
            if k.startswith(("query.", "spark.")):
                res[k] = v
        dec = p.get("decode")
        res["sources.decode_s"] = dec["seconds"] if dec else 0.0
        res["sources.decode_mb_per_s"] = (
            dec["bytes"] / 2**20 / dec["seconds"] if dec else 0.0
        )
        # an unbounded decode returns every generated cell
        kept = steps.get("subset_climatology", {}).get("plan", {}).get("py_rows")
        res["sources.pushdown_keep_ratio"] = (
            kept / self.inputs["cells"] if kept else 0.0
        )
        return res


def unit(name: str) -> str:
    for suffix, u in (("_mb_per_s", "MB/s"), ("_s", "s"), ("_mb", "MB"),
                      ("_ratio", "ratio"), ("_per_user_byte", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def decode_in_process(nc_dir: str) -> dict:
    """Decode every member with the vendored reader, no Spark."""
    from bcdp_spark.sources.netcdf3 import read_netcdf3

    size, t = 0, time.perf_counter()
    for name in sorted(os.listdir(nc_dir)):
        with open(os.path.join(nc_dir, name), "rb") as fh:
            raw = fh.read()
        size += len(raw)
        read_netcdf3(raw)
    return {"seconds": time.perf_counter() - t, "bytes": size}


def corrupt(out):
    """Perturb one value of a step's output (the tests' negative check)."""
    out = out.copy()
    col = [c for c in out.columns if out[c].dtype.kind in "fi"][-1]
    out.loc[out.index[0], col] = out[col].iloc[0] + 1
    return out


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("relational", "climate", "iterative"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs and no warm-up (the benchmark's tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb the first step's first output (tests)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bcdp_spark", "__init__.py")):
        print(f"no bcdp_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    cpus = configure_env(work)
    runner = Runner(args, work, cpus)
    try:
        record, metrics = runner.run()
    finally:
        runner.stop()
        shutil.rmtree(work, ignore_errors=True)
    stem = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    with open(stem + ".record.json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        steps = [
            {"step": f"p{p['idx']}.{name}", "wall": st["wall"]}
            for p in runner.passes if p["traced"]
            for name, st in p["steps"].items()
        ]
        with open(stem + ".spans.json", "w") as fh:
            json.dump({"spans": runner.tracer.spans, "steps": steps}, fh)
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
