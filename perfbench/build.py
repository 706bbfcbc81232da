"""Build file of the benchmark: compile the engine and the benchmark's JVM
side from source.

Compiles `src/main/scala` (the engine) and `perfbench/scala` (this
benchmark) with the Scala compiler that ships in Spark's jars, against
those jars, into `.bench_build/classes-<source hash>`. A build whose
sources are unchanged is reused. Spark's jars are found under
`$SPARK_HOME/jars`, or else in the directory the repo's `build.sbt`
names as `unmanagedBase`.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/scala")


class BuildError(Exception):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}")
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def build(root):
    """Compile if needed; returns the classes directory."""
    jars = spark_jars(root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    out = os.path.join(out_root, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(out_root, exist_ok=True)
    for stale in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
