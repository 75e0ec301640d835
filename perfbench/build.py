#!/usr/bin/env python3
"""Build file of the benchmark harness.

    python3 perfbench/build.py          # from the checkout root; prints the classpath

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the harness (`perfbench/src/main/scala`) in one scalac run, against the
Spark jars directory that the engine's `build.sbt` names (it ships the
Scala 2.13 compiler). The classes go to
`.bench_build/perfbench/classes-<hash of the sources>`, so the benchmark
always measures the engine as checked out and builds once per source state.
It writes nothing outside the checkout: no sbt launcher, no ivy or coursier
cache.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ENGINE = ROOT / "src" / "main" / "scala"
HARNESS = HERE / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def jars_dir():
    """The engine build's `unmanagedBase`, else $SPARK_HOME/jars."""
    engine_build = ROOT / "build.sbt"
    m = engine_build.is_file() and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', engine_build.read_text())
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "/nonexistent")) / "jars"
    if not any(d.glob("scala-compiler-2.13.*.jar")):
        raise BuildError(f"no Spark jars with a Scala 2.13 compiler in {d}")
    return d


def sources():
    if not (ENGINE / "graft" / "SparkEntry.scala").is_file():
        raise BuildError("engine sources not found: run from the root of a graft checkout")
    return sorted(p for d in (ENGINE, HARNESS) for p in d.rglob("*.scala"))


def source_key(files):
    h = hashlib.sha256()
    for p in files + [ROOT / "build.sbt", Path(__file__)]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(log=lambda msg: None):
    """Compile once per source state; return (source key, runtime classpath)."""
    files = sources()
    key = source_key(files)
    jars = jars_dir()
    classes = BUILD / f"classes-{key}"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if (classes / "graftbench" / "Main.class").is_file():
        return key, classpath
    staging = BUILD / f"staging-{key}"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    (staging / "tmp").mkdir()
    (staging / "sources.txt").write_text("\n".join(str(p) for p in files) + "\n")
    log(f"compiling {len(files)} sources with scalac (first run of this source state)")
    t0 = time.time()
    p = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={staging / 'tmp'}", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", str(staging / "classes"), f"@{staging / 'sources.txt'}"],
        cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    if p.returncode != 0 or not (staging / "classes" / "graftbench" / "Main.class").is_file():
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac failed (exit {p.returncode}):\n"
                         f"{p.stdout[-4000:]}{p.stderr[-4000:]}")
    shutil.rmtree(classes, ignore_errors=True)
    (staging / "classes").rename(classes)
    shutil.rmtree(staging, ignore_errors=True)
    log(f"built in {time.time() - t0:.1f} s")
    return key, classpath


if __name__ == "__main__":
    try:
        print(build(lambda msg: print(f"[perfbench] {msg}", file=sys.stderr))[1])
    except BuildError as e:
        sys.exit(f"[perfbench] {e}")
