#!/usr/bin/env python3
"""Run one workload of the pdfbrainspark benchmark in a fresh JVM.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It builds the program and the
benchmark from source on first use (see build.py), runs the workload on
`local[N]` with N = the CPUs this process may use, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (BENCHMARK.json lists both). Everything the run writes
stays under `.bench_build/` in the checkout; the full record of each run
(per-op samples, headline figures, host context, spans) is kept in
`.bench_build/results/`. Exit status is 0 only when a result was printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout clean
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("serve", "curate")
# The whole command must end within 180 s once built.
RUN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def testdata_dir():
    """The sf0.1 test tables the curation queries read (read-only)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))


def usable_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(steal, total) CPU ticks of the whole host, where the OS reports them."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7] if len(ticks) > 7 else 0, sum(ticks)
    except (OSError, ValueError):
        return None


class LoadSampler(threading.Thread):
    """Maximum 1-minute load average while the run is going."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = os.getloadavg()[0]
        self.stop = threading.Event()

    def run(self):
        while not self.stop.wait(1.0):
            self.peak = max(self.peak, os.getloadavg()[0])


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    root = Path.cwd()
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload == "curate" and not Path(testdata_dir(), "lineitem.parquet").exists():
        print(f"perfbench: curate needs the sf0.1 test tables at {testdata_dir()} "
              "(set SPARK_GRAFT_SF_DIR)", file=sys.stderr)
        return 2

    cpus = usable_cpus()
    bdir = root / build.BUILD_DIR
    work = bdir / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = bdir / "results" / f"{tag}.json"
    result = work / "result.json"
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    cmd = [build.java_bin("java"), f"-Xmx{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--result", str(result), "--record", str(record),
            "--spans", str(bdir / "results" / f"{tag}-spans.json"),
            "--cpus", str(cpus), "--testdata", testdata_dir(),
            "--golden", str(Path(__file__).resolve().parent / "golden" / "curate_digests.txt"),
            "--work", str(work)]

    load_before = os.getloadavg()[0]
    ticks_before = cpu_ticks()
    sampler = LoadSampler()
    sampler.start()
    started = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        sampler.stop.set()
        sampler.join()
    wall = time.monotonic() - started

    try:
        if code != 0 or not result.exists():
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: the {args.workload} run {why}; no result", file=sys.stderr)
            return 1
        line = result.read_text().strip()
        host = {"load_before": load_before, "load_max": sampler.peak, "wall_s": round(wall, 3)}
        ticks_after = cpu_ticks()
        if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
            host["steal_pct"] = round(100.0 * (ticks_after[0] - ticks_before[0])
                                      / (ticks_after[1] - ticks_before[1]), 3)
        if record.exists():
            rec = json.loads(record.read_text())
            rec["host"].update(host)
            record.write_text(json.dumps(rec, indent=1))
            figures = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in rec["figures"].items())
            print(f"# {args.workload} figures: {figures}")
            print(f"# {args.workload} host: {json.dumps(rec['host'])}")
        print(line)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
