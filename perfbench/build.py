#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/src`) from source with the Scala compiler that
ships in Spark's jar directory, into `<build>/classes`.

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`,
relative to the repository root. A stamp of the sources' hash skips the
compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars beside the first `spark-submit` on
    PATH that has them."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = Path(d or ".") / "spark-submit"
        if exe.is_file():
            homes.append(exe.resolve().parent.parent)
    for home in homes:
        if (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources")
    return files


def ensure():
    """Compiles if the sources changed; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "classes"
    stamp_file = out / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(ensure())
