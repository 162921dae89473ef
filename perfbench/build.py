#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala, src/main/java) together
with the benchmark's own sources (perfbench/src/main/scala) using the
Scala compiler and Spark jars that ship with the Spark distribution
($SPARK_HOME, or the one whose spark-submit is on PATH).  No build tool,
no dependency resolution, no writes outside the checkout: classes go to
.bench_build/perfbench/<engine|main|test>.

    python3 perfbench/build.py          # main classes
    python3 perfbench/build.py --test   # main + self-test classes

A build is skipped when a stamp over every source file matches.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT_ROOT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that belongs to a distribution with a Scala
    compiler (pip's pyspark wrapper scripts do not)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [str(Path(d, "spark-submit").resolve().parent.parent)
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and Path(d, "spark-submit").is_file()]
    for home in homes:
        if home and any(Path(home, "jars").glob("scala-compiler-*.jar")):
            return Path(home, "jars")
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources(dirs, suffixes):
    out = []
    for d in dirs:
        if d.is_dir():
            out += sorted(p for p in d.rglob("*") if p.suffix in suffixes and p.is_file())
    return out


def stamp(files) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def is_fresh(out: Path, st: str) -> bool:
    f = out / "STAMP"
    return f.exists() and f.read_text().strip() == st


def compile_to(out: Path, scala, java, classpath: str) -> None:
    """Compile into a fresh directory, then move it into place, so an
    interrupted build never leaves a half-filled class directory."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in scala + java) + "\n")
    jvm = ["java", "-Xmx2g", "-Xss8m", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}"]
    subprocess.run(jvm + ["-cp", classpath, "scala.tools.nsc.Main",
                          "-encoding", "UTF-8", "-nowarn", "-d", str(tmp),
                          "-classpath", classpath, f"@{argfile}"], check=True)
    if java:
        subprocess.run(["javac", "--add-modules", "jdk.incubator.vector",
                        "-encoding", "UTF-8", "-nowarn", "-d", str(tmp),
                        "-cp", f"{tmp}{os.pathsep}{classpath}"]
                       + [str(f) for f in java], check=True,
                       stderr=subprocess.DEVNULL)
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build_step(name: str, dirs, classpath: str, extra_stamp: str = "") -> str:
    """Compile `dirs` into .bench_build/perfbench/<name> unless its stamp
    matches; return the classpath extended with the step's output."""
    scala = sources(dirs, {".scala"})
    java = sources(dirs, {".java"})
    out = OUT_ROOT / name
    st = hashlib.sha256((stamp(scala + java) + extra_stamp).encode()).hexdigest()
    if not is_fresh(out, st):
        print(f"perfbench: compiling {name} sources", file=sys.stderr, flush=True)
        compile_to(out, scala, java, classpath)
        (out / "STAMP").write_text(st)
    return f"{out}{os.pathsep}{classpath}"


def build(test: bool = False) -> str:
    """Return the runtime classpath, compiling what is stale: the engine,
    then the benchmark against it, then (with `test`) the self-tests."""
    cp = f"{spark_jars()}{os.sep}*"
    cp = build_step("engine", [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "java"], cp)
    engine_stamp = (OUT_ROOT / "engine" / "STAMP").read_text()
    cp = build_step("main", [BENCH_DIR / "src" / "main" / "scala"], cp, engine_stamp)
    if test:
        cp = build_step("test", [BENCH_DIR / "src" / "test" / "scala"], cp,
                        (OUT_ROOT / "main" / "STAMP").read_text())
    return cp


if __name__ == "__main__":
    print(build(test="--test" in sys.argv))
