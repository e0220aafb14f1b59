#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own into one class directory.

The Scala compiler is the one Spark ships (`$SPARK_HOME/jars`), so the build
needs no dependency resolution and writes only under `.bench_build/` at the
root of the checkout. A build is keyed by a hash of every input file; an
unchanged tree reuses its classes.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found: set JAVA_HOME")
    return found


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def inputs_hash(files: list) -> str:
    h = hashlib.sha256()
    resources = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.is_dir() else []
    for p in files + resources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:16]


def build() -> Path:
    """Compile if needed; return the class directory."""
    files = sources()
    key = inputs_hash(files)
    classes = OUT / key / "classes"
    if (OUT / key / "ok").exists():
        return classes
    jars = spark_jars()
    staging = OUT / f"{key}.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging / "classes"), "-classpath", cp,
           f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} files", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac exited with {proc.returncode}")
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, staging / "classes", dirs_exist_ok=True)
    (staging / "ok").write_text(key + "\n")
    shutil.rmtree(OUT / key, ignore_errors=True)
    staging.rename(OUT / key)
    # older builds of this checkout are dead weight
    for old in OUT.iterdir():
        if old.name != key:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
