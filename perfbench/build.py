#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft (src/main/scala) and the benchmark driver (perfbench/src)
from source with the Scala compiler that ships in the Spark distribution's
jars directory, so no sbt launch and no dependency resolution is needed.
Outputs go to ``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the
current directory, one directory per source digest, so an unchanged tree is
never compiled twice.

Usage, from the repository root:

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt's unmanagedBase names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler jar under '{jars}'; set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_once(name, srcs, extra_cp, salt=""):
    """Compile `srcs` into <build>/<name>-<digest>; reuse it when present."""
    out = os.path.join(build_dir(), f"{name}-{digest(srcs, salt)}")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if extra_cp:
        cmd += ["-classpath", os.pathsep.join(extra_cp)]
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    subprocess.run(cmd + srcs, check=True, stdout=sys.stderr)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build():
    """Compile graft, then the driver against it; return the classpath."""
    graft_src = sources(os.path.join("src", "main", "scala"))
    if not graft_src:
        raise SystemExit("perfbench: no graft sources under src/main/scala "
                         "(run from the repository root)")
    graft = compile_once("graft", graft_src, [])
    bench = compile_once("perfbench", sources(os.path.join(HERE, "src")), [graft],
                         salt=os.path.basename(graft))
    return os.pathsep.join([bench, graft, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build())
