#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala, src/main/resources) together with the benchmark's own
(e2ebench/src) into .bench_build/<hash>/classes, with the Scala
compiler that ships among the Spark jars the engine's build.sbt names
as `unmanagedBase`. The hash covers every input, so an unchanged tree
reuses its classes.

Usage: python3 e2ebench/build.py   (from the repository root; prints the
       runtime classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root: str) -> str:
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars directory '{jars}' not found")
    return jars


def _files(top: str, exts) -> list:
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return sorted(out)


def build(root: str):
    """Compiles if needed; returns the runtime classpath and the build's
    source hash."""
    jars = spark_jars(root)
    sources = _files(os.path.join(root, "src", "main", "scala"), (".scala", ".java")) + \
        _files(os.path.join(HERE, "src"), (".scala",))
    res_root = os.path.join(root, "src", "main", "resources")
    resources = _files(res_root, ("",)) if os.path.isdir(res_root) else []
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, key, "classes")
    cp = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(os.path.join(base, key, "done")):
        return cp, key
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):  # one build per checkout
        if re.fullmatch(r"[0-9a-f]{16}", old):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(base, key, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(f'"{s}"' for s in sources))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed ({r.returncode})")
    for p in resources:
        dst = os.path.join(out, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(base, key, "done"), "w").close()
    return cp, key


if __name__ == "__main__":
    print(build(os.getcwd())[0])
