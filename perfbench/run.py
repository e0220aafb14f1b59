#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one named workload, one seed.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 1 --overhead
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), runs the
workload in one JVM on Spark local[nproc], prints every metric by name with
its unit, and prints as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
`--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer ones,
and writes the run's spans under .bench_build/perfbench-traces/.
`--overhead` makes an untraced and a traced run of the same seed and prints
the tracing overhead per op type. Exits non-zero if an output check fails.
METRICS.md describes every metric.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("query_mix", "ingest_curate")
JVM_TIMEOUT_S = 170
# the engine's own default driver heap (build.sbt); the JIT is the JVM's default
HEAP = "8g"

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_commit(key: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=build.ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{key}"


def jvm(classes: Path, main_args: list, work: Path) -> list:
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    # no hsperfdata file: the JVM would write it to the system temp directory
    return [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", *opens,
            "-cp", cp, *main_args]


def run_jvm(cmd: list, timeout: float) -> int:
    """Run the JVM in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def directions() -> dict:
    """Each metric's better direction, as BENCHMARK.json declares it."""
    try:
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        return {}
    return {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def run_workload(a, classes: Path, key: str, work: Path, trace: int, ops: Path = None):
    """One JVM run of the workload in `work`: (exit code, result dict or None)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    result = work / "result.json"
    args = ["graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace), "--work", str(work),
            "--result", str(result), "--commit", source_commit(key)]
    if trace:
        spans = build.ROOT / ".bench_build" / "perfbench-traces" / f"{a.workload}-seed{a.seed}.json"
        args += ["--spans", str(spans)]
    if ops:
        args += ["--ops", str(ops)]
    sys.stdout.flush()
    code = run_jvm(jvm(classes, args, work), JVM_TIMEOUT_S)
    if not result.exists():
        print(f"[perfbench] no result (exit {code})", file=sys.stderr)
        return code or 2, None
    return code, json.loads(result.read_text())


def report_overhead(plain: dict, traced: dict) -> None:
    """Traced minus untraced median time, per op type and per cycle."""
    rows = [("cycle", plain["cycle_p50_ms"], traced["cycle_p50_ms"])]
    rows += [(k, v, traced["op_p50_ms"][k]) for k, v in plain["op_p50_ms"].items()
             if k in traced["op_p50_ms"]]
    for name, u, t in rows:
        print(f"[perfbench] tracing overhead {name}: untraced {u:.1f} ms, traced {t:.1f} ms, "
              f"{t - u:+.1f} ms ({100 * (t - u) / u:+.1f} %)")


def main() -> int:
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12,
                    help="sizes the measured work: whole cycles at the workload's nominal pace")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced, then traced, and print the tracing overhead")
    ap.add_argument("--selftest", action="store_true",
                    help="check the benchmark's own helpers and exit")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    t_start = time.monotonic()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    key = classes.parent.name
    runs = build.ROOT / ".bench_build" / "perfbench-runs"
    work = runs / f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.selftest:
            return run_jvm(jvm(classes, ["graft.perfbench.SelfTest"], work), JVM_TIMEOUT_S)
        if a.overhead:
            runs_ops = []
            for trace in (0, 1):
                ops = work / f"ops-{trace}.json"
                code, res = run_workload(a, classes, key, work / f"trace{trace}", trace, ops)
                if code or not res or not res["correct"]:
                    return code or 1
                runs_ops.append(json.loads(ops.read_text()))
            report_overhead(*runs_ops)
            return 0
        code, res = run_workload(a, classes, key, work, a.trace)
        if res is None:
            return code
        better = directions()
        for name, m in res["metrics"].items():
            d = better.get(name)
            print(f"[perfbench] {name} = {m['value']} {m['unit']}" +
                  (f" ({d} is better)" if d else ""))
        print(f"[perfbench] wall {time.monotonic() - t_start:.1f} s")
        print(json.dumps(res), flush=True)
        return code
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
