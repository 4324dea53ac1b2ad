"""Compile the engine and the benchmark harness from source.

The engine (``src/main/scala``) and the harness (``perfbench/harness``)
are compiled with the Scala compiler that ships beside the Spark jars the
repository's ``build.sbt`` names as its ``unmanagedBase``; ``SPARK_HOME``
overrides that location. Classes land in the build directory and are
reused while the sources are unchanged.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys


def _sbt_setting(root, pattern):
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(pattern, fh.read())
    return m.group(1) if m else None


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    jars = (os.path.join(home, "jars") if home else
            _sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)'))
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"benchmark build: no Spark jars found (looked in {jars!r}); "
                 "set SPARK_HOME")
    return jars


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, version, classpath, out, sources, log):
    compiler = [os.path.join(jars, f"scala-{n}-{version}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        sys.exit(f"benchmark build: Scala {version} compiler jars missing: {missing}")
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-classpath", classpath, "-d", out,
           "-nowarn", "@" + argfile]
    with open(log, "a") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.exit(f"benchmark build: scalac failed for {out}; see {log}")


def build(root, build_dir):
    """Return the runtime classpath, compiling whatever changed."""
    src = os.path.join(root, "src", "main", "scala")
    engine_sources = sorted(glob.glob(os.path.join(src, "**", "*.scala"),
                                      recursive=True))
    if not engine_sources:
        sys.exit(f"benchmark build: no engine sources under {src}")
    harness_sources = sorted(glob.glob(
        os.path.join(root, "perfbench", "harness", "*.scala")))
    jars = spark_jars(root)
    version = _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    resources = os.path.join(root, "src", "main", "resources")
    engine = os.path.join(build_dir, "classes", "engine")
    harness = os.path.join(build_dir, "classes", "harness")
    log = os.path.join(build_dir, "build.log")
    os.makedirs(build_dir, exist_ok=True)

    steps = [(engine, engine_sources, f"{jars}/*"),
             (harness, harness_sources, f"{jars}/*:{engine}")]
    key = ""
    for out, sources, cp in steps:
        key = _digest(sources, key + version)
        stamp = out + ".stamp"
        if os.path.exists(stamp) and open(stamp).read() == key:
            continue
        subprocess.run(["rm", "-rf", out, stamp], check=True)
        _scalac(jars, version, cp, out, sources, log)
        with open(stamp, "w") as fh:
            fh.write(key)
    return ":".join([harness, engine, resources, f"{jars}/*"])
