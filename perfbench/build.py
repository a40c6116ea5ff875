#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main sources (src/main/scala) together with the
benchmark harness (perfbench/src) into one class directory under
`.bench_build/`, with the Scala compiler that ships in Spark's jars. No sbt,
no dependency resolution: the classpath is the jar directory `build.sbt`
names as `unmanagedBase`, exactly what sbt compiles against
(`$SPARK_HOME/jars` when SPARK_HOME is set).

The output is keyed by a hash of every source file, so a checkout builds
once and later runs reuse the classes.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    """(jar directory, sorted jar paths) of the Spark build sbt uses."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        text = open(sbt).read() if os.path.exists(sbt) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no "
                             "unmanagedBase jar directory)")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {jar_dir}")
    return jar_dir, jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    if not main:
        raise SystemExit("build: no sources under src/main/scala "
                         "(run from the repository root)")
    return main + bench


def source_key(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classes_dir(root):
    return os.path.join(root, BUILD_DIR, "classes")


def ensure_built(root, log=sys.stderr):
    """Compile if the sources changed since the last build; return the
    class directory."""
    files = sources(root)
    _, jars = spark_jars(root)
    key = source_key(files, jars)
    out = classes_dir(root)
    stamp = os.path.join(out, ".source-key")
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    with open(os.path.join(root, BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                if fh.read() == key:
                    return out
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        argfile = tmp + ".args"
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        print(f"[perfbench] compiling {len(files)} sources", file=log,
              flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", ":".join(jars), "@" + argfile]
        rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
        os.remove(argfile)
        if rc != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"build: scalac failed with exit code {rc}")
        with open(os.path.join(tmp, ".source-key"), "w") as fh:
            fh.write(key)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
