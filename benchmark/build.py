"""Build file of the benchmark: compiles the engine and the harness.

The engine sources (src/main/scala of the checkout) and the harness
sources (benchmark/harness) are compiled together by the Scala compiler
that ships in Spark's jar directory, so the build needs neither sbt nor a
network. The output goes to <build dir>/classes and is reused while no
source changes (a content hash is kept beside the classes).

    python3 benchmark/build.py            # build into .bench_build
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESS = Path(__file__).resolve().parent / "harness"


class BuildError(Exception):
    pass


def build_dir():
    """Where build outputs go: CARGO_TARGET_DIR if set, else .bench_build."""
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("neither SPARK_HOME nor spark-submit found")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError(f"no Spark jar directory at {jars}")
    return jars


def scala_compiler_cp(jars):
    wanted = ("scala-compiler-", "scala-library-", "scala-reflect-")
    found = sorted(str(p) for p in jars.glob("scala-*.jar")
                   if p.name.startswith(wanted))
    if len(found) != 3:
        raise BuildError(f"expected scala compiler, library and reflect jars in {jars}")
    return os.pathsep.join(found)


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted(HARNESS.glob("*.scala"))
    if not any(p.parent == HARNESS for p in files):
        raise BuildError(f"harness sources not found at {HARNESS}")
    return files


def build():
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", scala_compiler_cp(jars),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-d", str(tmp), "-cp", str(jars / "*"), "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
