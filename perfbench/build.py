#!/usr/bin/env python3
"""Build graft and the benchmark harness from source.

Compiles the engine (``src/main/scala`` plus ``src/main/resources``) and the
harness (``perfbench/src``) with the Scala compiler that ships among the
Spark jars the repository's own build uses (``unmanagedBase`` in
``build.sbt``; ``SPARK_HOME/jars`` wins when set). Output lands in
``.bench_build/`` at the repository root. A content hash over every input
file is stamped next to the classes, so a second call with unchanged
sources does nothing.

Usage: python3 perfbench/build.py        (prints the runtime classpath)
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH_DIR = pathlib.Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build"


class CompileError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise CompileError("no build.sbt at the repository root and no SPARK_HOME")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not pathlib.Path(m.group(1)).is_dir():
        raise CompileError("build.sbt names no existing unmanagedBase jar directory")
    return pathlib.Path(m.group(1))


def _sources(d: pathlib.Path, suffix: str):
    return sorted(p for p in d.rglob("*") if p.is_file() and p.name.endswith(suffix))


def _stamp(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars: pathlib.Path, out: pathlib.Path, classpath: str, files) -> None:
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, "@" + str(argfile)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise CompileError("scalac failed for %s:\n%s" % (out.name, res.stdout[-4000:]))


def ensure_built() -> str:
    """Compile when the sources changed; return the runtime classpath."""
    engine_src = ROOT / "src" / "main" / "scala"
    engine_res = ROOT / "src" / "main" / "resources"
    bench_src = BENCH_DIR / "src"
    engine = _sources(engine_src, ".scala") if engine_src.is_dir() else []
    if not engine:
        raise CompileError("no engine sources under src/main/scala")
    bench = _sources(bench_src, ".scala")
    if not bench:
        raise CompileError("no benchmark sources under perfbench/src")
    resources = _sources(engine_res, "") if engine_res.is_dir() else []
    jars = spark_jars()
    stamp = _stamp(engine + bench + resources + [pathlib.Path(__file__).resolve()])
    classes = OUT / "classes"
    engine_out, bench_out = classes / "graft", classes / "bench"
    cp = os.pathsep.join([str(bench_out), str(engine_out), str(jars / "*")])
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _scalac(jars, tmp / "graft", str(jars / "*"), engine)
    for r in resources:
        dst = tmp / "graft" / r.relative_to(engine_res)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(jars, tmp / "bench",
            os.pathsep.join([str(tmp / "graft"), str(jars / "*")]), bench)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(ensure_built())
    except CompileError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
