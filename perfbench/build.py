#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(`src/main/scala`) and then the benchmark's own Scala sources
(`perfbench/scala`) against them, with the Scala compiler that
ships in the Spark distribution. No sbt, no network, nothing written outside
the checkout.

    python3 perfbench/build.py            # prints the two class dirs

Each class dir is keyed by a hash of its source files, so an unchanged tree
builds once and later runs reuse it.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "scala"
OUT = ROOT / ".bench_build" / "perfbench"


def spark_classpath():
    """Every jar of the Spark distribution at $SPARK_HOME (or the one whose
    spark-submit is on PATH); it ships the Scala compiler too."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home:
        raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
    jars = sorted((Path(home) / "jars").glob("*.jar"))
    if not jars:
        raise SystemExit(f"no jars under {home}/jars")
    return [str(j) for j in jars]


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(files, classpath, dest):
    """scalac `files` into `dest` unless a finished build is already there."""
    if (dest / ".done").exists():
        return
    tmp = dest.with_name(f"{dest.name}.tmp-{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    compiler = [j for j in spark_classpath() if Path(j).name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-", "jline-3"))]
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath), "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        subprocess.run(["rm", "-rf", str(tmp)])
        raise SystemExit(f"compile failed ({r.returncode})")
    argfile.unlink()
    (tmp / ".done").write_text("ok\n")
    if dest.exists():
        subprocess.run(["rm", "-rf", str(tmp)])
    else:
        tmp.rename(dest)


def build():
    """Compile what changed; returns the runtime classpath list.

    The library and the benchmark compile separately, each keyed by the hash
    of its sources: changing only the benchmark does not recompile the
    library.
    """
    if not LIB_SRC.is_dir():
        raise SystemExit(f"library sources not found: {LIB_SRC}")
    lib_files = sorted(LIB_SRC.rglob("*.scala"))
    bench_files = sorted(BENCH_SRC.rglob("*.scala"))
    if not lib_files or not bench_files:
        raise SystemExit("no Scala sources to build")
    cp = spark_classpath()
    lib_key = _digest(lib_files)
    lib = OUT / f"lib-{lib_key}"
    _compile(lib_files, cp, lib)
    bench = OUT / f"bench-{lib_key}-{_digest(bench_files)}"
    _compile(bench_files, [str(lib)] + cp, bench)
    return [str(bench), str(lib)] + cp


if __name__ == "__main__":
    print(os.pathsep.join(build()[:2]))
