"""Build file of the benchmark: compiles the program and the benchmark's JVM side.

    python3 perfbench/build.py        # from any directory

The program (src/main/scala) and the benchmark's Scala code
(perfbench/scala) are compiled with the Scala compiler that ships among the
Spark jars named by build.sbt's `unmanagedBase`, into
.bench_build/classes/{program,bench}. A stamp over
every source file and the jar listing makes this a no-op until something
changes, so a checkout compiles once, not once per run.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


class BuildError(Exception):
    pass


def spark_jars():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BuildError(f"{ROOT} is not a checkout of the program: build.sbt or src/main/scala missing")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(jars, groups):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for files in groups:
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    compiler = [str(next(jars.glob(f"{n}-2.13*.jar")))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", classpath, "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")


def ensure():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    program, bench = _sources(ROOT / "src" / "main" / "scala"), _sources(ROOT / "perfbench" / "scala")
    stamp = _stamp(jars, [program, bench])
    stamp_file = CLASSES / "stamp"
    prog_out, bench_out = CLASSES / "program", CLASSES / "bench"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        if stamp_file.exists():
            stamp_file.unlink()
        _scalac(jars, f"{jars}/*", prog_out, program)
        _scalac(jars, os.pathsep.join([str(prog_out), f"{jars}/*"]), bench_out, bench)
        stamp_file.write_text(stamp)
    return os.pathsep.join([str(bench_out), str(prog_out), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build: {e}")
