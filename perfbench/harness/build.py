#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the graft library (src/main/scala plus its resources) and the
harness (perfbench/harness/src) with the Scala compiler that ships in the
Spark jar directory, into .bench_build/perfbench/classes/. A build is
skipped when the sources' digest matches the last one.

    python3 perfbench/harness/build.py      # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory the repository's build.sbt compiles against
    (its `unmanagedBase`), else $SPARK_HOME/jars."""
    jars = None
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not os.path.isdir(jars):
        raise SystemExit(f"Spark jar directory not found ({jars}); set SPARK_HOME")
    return jars


def _sources(top, suffix=".scala"):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def _digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(sources, out, classpath, log, jars):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(classpath)] + sources
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"compilation failed ({out}); log: {log}")


def build(root):
    """Compile what changed; return the runtime classpath entries."""
    lib_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib_src, "graft")):
        raise SystemExit(f"graft sources not found under {lib_src}")
    res = os.path.join(root, "src", "main", "resources")
    base = os.path.join(root, ".bench_build", "perfbench", "classes")
    os.makedirs(base, exist_ok=True)
    lib, harness = os.path.join(base, "lib"), os.path.join(base, "harness")
    jar_dir = spark_jars(root)
    jars = os.path.join(jar_dir, "*")

    lib_files = _sources(lib_src)
    res_files = _sources(res, "") if os.path.isdir(res) else []
    h_files = _sources(os.path.join(HERE, "src"))
    lib_digest = _digest(lib_files + res_files, root)
    h_digest = _digest(h_files, root) + lib_digest
    stamps = {"lib": (lib, lib_digest), "harness": (harness, h_digest)}

    def fresh(name):
        out, digest = stamps[name]
        stamp = out + ".digest"
        return os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest

    def mark(name):
        out, digest = stamps[name]
        with open(out + ".digest", "w") as f:
            f.write(digest)

    if not fresh("lib"):
        _compile(lib_files, lib, [jars], os.path.join(base, "lib.log"), jar_dir)
        for p in res_files:
            dst = os.path.join(lib, os.path.relpath(p, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        mark("lib")
    if not fresh("harness"):
        _compile(h_files, harness, [jars, lib], os.path.join(base, "harness.log"), jar_dir)
        mark("harness")
    return [harness, lib, jars]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
