#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload table_reads --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source with sbt (once per source
state), starts one fresh JVM at local[<cores>] that sets up the
workload, runs its closed loop for --seconds with one client and checks
every answer, and prints every metric by name and unit. The last line of
standard output is one JSON object: with --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run
(spans are written as JSONL next to the run's logs).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("table_reads", "table_dml", "etl_daily")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "retained_heap_mb": "MB",
    "space_amp": "ratio",
}

PER_LAYER_UNITS = {
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.executions": "count",
    "sources.resolve_ms": "ms", "sources.resolve_calls": "count",
    "sinks.driver_ms": "ms", "sinks.table_files": "count", "sinks.table_bytes": "bytes",
    "io.read_syscalls": "count", "io.write_syscalls": "count",
    "io.read_bytes": "bytes", "io.write_bytes": "bytes",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_ms": "ms", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.output_bytes": "bytes", "exec.task_failures": "count", "exec.slot_util": "ratio",
    "scan.rows_read_per_row_returned": "ratio",
    "trace.overhead": "ratio",
}
for _stage in ("transform", "quality", "load", "models"):
    PER_LAYER_UNITS.update({
        f"runner.{_stage}_ms": "ms", f"runner.{_stage}.jobs": "count",
        f"runner.{_stage}.tasks": "count", f"runner.{_stage}.task_run_ms": "ms",
    })

# A fixed-size heap with 8 MB G1 regions. With a heap that resizes itself
# and 1 MB regions, the ~0.5 MB buffers graft allocates per read are
# "humongous" objects, each of which can start a concurrent marking cycle,
# and a run's speed depends on how its heap happens to grow.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:G1HeapRegionSize=8m"]
RUN_TIMEOUT_S = 165
# the short run whose loaded classes make the class-data sharing archive
TRAINING_RUN = ["--workload", "table_dml", "--seed", "0", "--seconds", "1", "--trace", "0"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(repo, bench):
    """Hash of everything the build reads, so a checkout builds once."""
    h = hashlib.sha256(" ".join(JVM_HEAP).encode())
    inputs = [repo / "build.sbt", bench / "build.sbt"]
    for d in (repo / "project", bench / "project"):
        inputs += [p for p in d.glob("*") if p.is_file()]
    for d in (repo / "src" / "main", bench / "src"):
        inputs += [p for p in d.rglob("*") if p.is_file()]
    for p in sorted(inputs):
        if p.exists():
            h.update(str(p.relative_to(repo)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(repo, bench, out):
    """sbt-build graft plus the benchmark, then record a class-data sharing
    archive from a short training run, so every measured JVM maps the
    classes it loads instead of parsing them again. Returns (classpath,
    jvm options)."""
    launch = bench / "target" / "launch.txt"
    archive = out / "classes.jsa"
    stamp_file = out / "build.stamp"
    stamp = source_stamp(repo, bench)
    if not (launch.exists() and archive.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        log("building graft and the benchmark with sbt ...")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([os.environ.get("SBT_OPTS", "")] + opts).strip()
        t = time.time()
        with open(out / "sbt.log", "w") as f:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                 cwd=bench, env=env, stdout=f, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0 or not launch.exists():
            log(f"sbt build failed (exit {rc}); see {out / 'sbt.log'}")
            sys.exit(2)
        lines = launch.read_text().splitlines()
        archive.unlink(missing_ok=True)
        train = out / "cds-training"
        shutil.rmtree(train, ignore_errors=True)
        (train / "data").mkdir(parents=True)
        jvm = Jvm(lines[0], [f"-XX:ArchiveClassesAtExit={archive}"] + lines[1:],
                  ["--work", str(train / "data")] + TRAINING_RUN, train, "training")
        if jvm.result() is None or not archive.exists():
            log(f"class-data sharing archive not written; see {train / 'training.log'}")
            sys.exit(2)
        shutil.rmtree(train, ignore_errors=True)
        stamp_file.write_text(stamp)
        log(f"built in {time.time() - t:.1f} s")
    lines = launch.read_text().splitlines()
    return lines[0], [f"-XX:SharedArchiveFile={archive}"] + lines[1:]


class Jvm:
    """One fresh benchmark JVM, started at once; result() waits for it."""

    def __init__(self, classpath, opts, args, work, name, deadline=None):
        self.name, self.out, self.log = name, work / f"{name}.json", work / f"{name}.log"
        self.deadline = deadline or time.time() + RUN_TIMEOUT_S
        cmd = (["java"] + JVM_HEAP + [f"-Djava.io.tmpdir={work / 'tmp'}"] + opts +
               ["-cp", classpath, "graftbench.Main"] + args +
               ["--out", str(self.out), "--launched-ms", str(int(time.time() * 1000))])
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        with open(self.log, "w") as f:
            self.p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                      stdin=subprocess.DEVNULL)

    def running(self):
        return self.p.poll() is None and time.time() < self.deadline

    def result(self):
        """The result file's JSON, or None if the JVM failed or ran out of time."""
        try:
            rc = self.p.wait(timeout=max(0.1, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
            log(f"{self.name} JVM ran out of time; see {self.log}")
            return None
        if rc != 0 or not self.out.exists():
            log(f"{self.name} JVM failed (exit {rc}); see {self.log}")
            return None
        return json.loads(self.out.read_text())

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    repo = Path.cwd()
    bench = Path(__file__).resolve().parent
    if not (repo / "src" / "main" / "scala" / "graft").is_dir() or not (repo / "build.sbt").exists():
        log(f"no graft sources under {repo}: run from the root of a graft checkout")
        sys.exit(2)
    out = repo / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    classpath, opts = build(repo, bench, out)

    work = out / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    data.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    common = ["--work", str(data), "--cores", str(cores)]
    run = Jvm(classpath, opts, common + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace)], work, "run")
    restart = None
    if a.workload == "table_dml":
        # durability: a fresh JVM must read back the last acknowledged
        # commit. It starts once the loop's last commit is acknowledged and
        # reads the tables once the run has written the expected
        # fingerprints.
        while run.running() and not (data / "loop.done").exists():
            time.sleep(0.1)
        if (data / "loop.done").exists():
            restart = Jvm(classpath, opts, common + ["--mode", "restart"], work, "restart",
                          deadline=run.deadline)
    res = run.result()
    rs = restart.result() if restart and res is not None else None
    if restart:
        restart.stop()
    if res is None or (a.workload == "table_dml" and rs is None):
        sys.exit(1)
    failures = list(res["info"]["check_failures"])
    correct = res["correct"]
    if rs is not None:
        failures += rs["check_failures"]
        correct = correct and rs["correct"]
    for f in ("trace.jsonl", "ops.tsv"):
        if (data / f).exists():
            shutil.move(str(data / f), str(work / f))
    shutil.rmtree(data, ignore_errors=True)

    info = res["info"]
    e2e = res["e2e"]
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  "
          f"cores {info['cores']}  ops {res['attempted']}  failed {res['failed']}  "
          f"failed_ratio {info['failed_ratio']:.4f}  checks {'pass' if correct else 'FAIL'}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<18} {e2e[name]:>14.4f} {unit}")
    print(f"  op = {info['primary_kind']}; op_tail_ms is p{info['op_tail_pct']:g} "
          f"of {info['op_samples']} samples")
    for kind, k in info["by_kind"].items():
        print(f"  {kind}_p50_ms {k['p50_ms']:.3f}  {kind}_tail_ms {k['tail_ms']:.3f} "
              f"(p{k['tail_pct']:g} of {k['n']})")
    print(f"  setup: jvm {info['jvm_start_s']:.2f} s, session {info['session_s']:.2f} s, "
          f"build {info['build_s']:.2f} s, "
          f"warm-up {info['warmup_s']:.2f} s; untimed check prep {info['check_prep_s']:.2f} s")
    print(f"  inputs: {json.dumps(info['inputs'], sort_keys=True)}")
    if a.trace:
        for name, unit in PER_LAYER_UNITS.items():
            print(f"  {name:<36} {res['layer'][name]:>16.4f} {unit}")
        print(f"  spans: {work / 'trace.jsonl'} ({info['trace_spans']} spans)")
    for f in (info["op_failures"] + failures)[:20]:
        print(f"  FAILED: {f}")

    if a.trace:
        metrics = {n: {"value": res["layer"][n], "unit": u} for n, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
