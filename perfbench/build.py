"""Builds the engine and the benchmark from source with the Scala compiler
that ships among the Spark jars the engine's build.sbt names (no sbt, no
network).

Two stages, each skipped when its stamp (a hash of its inputs) matches:
  1. the engine: src/main/scala + src/main/resources  -> <out>/engine
  2. the benchmark: perfbench/src, against stage 1    -> <out>/bench
Both go under `.bench_build/` in the checkout root.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory the engine's own build.sbt compiles against
    (`unmanagedBase`), unless SPARK_HOME is set."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  _read(os.path.join(root, "build.sbt")) or "")
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def _sources(top, suffix=".scala"):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(suffix))
    return sorted(out)


def _stamp(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _scalac(jars, sources, classpath, out, log):
    """Compiles against the Spark jars plus `classpath` (may be empty)."""
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd += sources
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: compile failed (log: {log})")


def _stage(root, jars, name, sources, classpath, resources=None, extra=""):
    """Compile `sources` into <root>/.bench_build/<name> unless up to date.
    Returns (output dir, stamp)."""
    out = os.path.join(root, BUILD_DIR, name)
    res = _sources(resources, "") if resources and os.path.isdir(resources) else []
    stamp = _stamp(sources + res, extra + "|" + ",".join(sorted(os.listdir(jars))))
    if _read(out + ".stamp") == stamp:
        return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _scalac(jars, sources, classpath, tmp, out + ".log")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(out + ".stamp", "w") as f:
        f.write(stamp)
    return out, stamp


def ensure_built(root):
    """Returns the runtime classpath; builds what is stale first."""
    engine_src = os.path.join(root, "src", "main", "scala")
    if not _sources(engine_src):
        raise SystemExit(f"perfbench: no engine sources under {engine_src}; "
                         "run from the root of a checkout")
    jars = spark_jars(root)
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    with open(os.path.join(root, BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine, engine_stamp = _stage(
            root, jars, "engine", _sources(engine_src), "",
            resources=os.path.join(root, "src", "main", "resources"))
        bench, _ = _stage(root, jars, "bench", _sources(os.path.join(HERE, "src")),
                          engine, extra=engine_stamp)
    return os.pathsep.join([bench, engine, os.path.join(jars, "*")])
