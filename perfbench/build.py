"""Build file of the benchmark: compiles graft's sources together with the
benchmark's own Scala sources into one class directory.

The Scala compiler is the one Spark ships in `$SPARK_HOME/jars`, so the build
needs neither sbt nor a network. The output goes to `$CARGO_TARGET_DIR`
(default `.bench_build` under the current directory) and is reused while the
sources are unchanged.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def build_dir() -> pathlib.Path:
    return pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()


def sources() -> list:
    if not (PROGRAM_SRC / "graft").is_dir():
        raise BuildError(f"graft sources not found under {PROGRAM_SRC}")
    srcs = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(p.is_relative_to(BENCH_SRC) for p in srcs):
        raise BuildError(f"benchmark sources not found under {BENCH_SRC}")
    return srcs


def ensure() -> pathlib.Path:
    """Returns the class directory, compiling first when a source changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    jars = spark_jars()
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)]
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac failed with exit code {done.returncode}")
    if PROGRAM_RES.is_dir():
        shutil.copytree(PROGRAM_RES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
