"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) into
.bench_build/classes with the Scala compiler among the Spark jars.

The build is skipped when the classes were compiled from identical
sources. Run directly with `python3 perfbench/build.py` from the root of
a checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory the repo's build.sbt names as unmanagedBase (so
    the benchmark compiles against the engine's own jars), else
    $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise BuildError("no unmanagedBase in build.sbt and no SPARK_HOME")


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(root):
    return os.path.join(root, ".bench_build", "classes") + os.pathsep + \
        os.path.join(spark_jars(root), "*")


def build(root, log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, ".bench_build", "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp] + srcs,
        capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
