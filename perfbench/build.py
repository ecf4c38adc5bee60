"""Build file of the benchmark package: compiles the program's main
sources, then the harness under ``perfbench/harness`` against them,
with the Scala compiler that ships in Spark's jar directory (the same
jars ``build.sbt`` compiles against), so no build tool starts inside a
measured run.

Output goes to ``$CARGO_TARGET_DIR`` (default ``.bench_build``) under a
key of the source hash; an up-to-date build is reused.

    python3 perfbench/build.py      # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
SCALA_VERSION = "2.13.17"  # build.sbt's scalaVersion


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _compiler_cp():
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        raise BuildError(f"missing Scala {SCALA_VERSION} jars: {missing}")
    return ":".join(jars)


def _scalac(out, classpath, sources):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", _compiler_cp(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", out, "-cp", classpath] + sources
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def build():
    """Returns the runtime classpath, compiling first if needed."""
    main_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = _sources(os.path.join(HERE, "harness"))
    if not main_src:
        raise BuildError("no program sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark jars at {SPARK_JARS}")
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in main_src + harness_src:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench", key)
    spark_cp = os.path.join(SPARK_JARS, "*")
    cp = f"{base}/main:{base}/harness:{spark_cp}"
    if os.path.exists(os.path.join(base, "ok")):
        return cp
    shutil.rmtree(base, ignore_errors=True)
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _scalac(f"{tmp}/main", spark_cp, main_src)
    _scalac(f"{tmp}/harness", f"{tmp}/main:{spark_cp}", harness_src)
    open(os.path.join(tmp, "ok"), "w").close()
    os.rename(tmp, base)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
