#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark JVM code.

The repository's `src/main/scala` and the benchmark's `perfbench/src` are
compiled together by the Scala compiler that ships among the Spark jars the
repository's build declares (`unmanagedBase` in build.sbt, else
`$SPARK_HOME/jars`). Classes land in `.bench_build/perfbench-<hash>/` under
the checkout root, where `<hash>` covers every compiled source, resource and
this file, so an unchanged tree is built once.

Usage, from the checkout root: python3 perfbench/build.py
(prints the runtime classpath; exits non-zero when the build fails).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCES = ["src/main/scala", "src/main/resources", "perfbench/src"]


def spark_jars(root):
    """The jar directory the program is built and run against."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench build: no Spark jar directory with a Scala compiler "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def source_files(root):
    files = []
    for d in SOURCES:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def ensure(root):
    """Build if needed; return (classpath, source hash)."""
    files = source_files(root)
    scala = [f for f in files if f.endswith(".scala")]
    if not any(f.startswith(os.path.join(root, "src/main/scala")) for f in scala):
        raise SystemExit("perfbench build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    digest = h.hexdigest()[:16]
    jars = spark_jars(root)
    out = os.path.join(root, BUILD_DIR, f"perfbench-{digest}")
    classes = os.path.join(out, "classes")
    if not os.path.isfile(os.path.join(out, "complete")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "classes"))
        with open(os.path.join(tmp, "sources.txt"), "w") as fh:
            fh.write("\n".join(scala) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", os.path.join(tmp, "classes"), "-cp", cp, "@" + os.path.join(tmp, "sources.txt")]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"perfbench build: scalac failed ({r.returncode})")
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, os.path.join(tmp, "classes"), dirs_exist_ok=True)
        open(os.path.join(tmp, "complete"), "w").write(digest + "\n")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return classes + os.pathsep + os.path.join(jars, "*"), digest


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
