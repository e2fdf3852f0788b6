"""Build file of the benchmark: compiles the library under `src/main` and
the benchmark's own JVM harness with the Scala compiler that ships in the
Spark distribution, into `.bench_build/` of the checkout. No sbt, so the
build reads only the sources and the Spark jars, and writes only inside
the checkout.

    python3 perfbench/build.py          # build if sources changed

A stamp over every source file skips the build when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    d = os.path.join(home, "jars")
    if not os.path.isdir(d):
        raise BuildError(f"no Spark jars at {d} (set SPARK_HOME)")
    return d


def _scalac(jars):
    cp = []
    for name in SCALA_JARS:
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
        if not hits:
            raise BuildError(f"{name} 2.13 jar missing from {jars}")
        cp.append(hits[-1])
    return ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(cp),
            "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8"]


def _sources(root):
    scala = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                             recursive=True))
    java = sorted(glob.glob(os.path.join(root, "src/main/java/**/*.java"),
                            recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    return scala, java, res, harness


def _stamp(root, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def source_digest(root):
    """Digest of the library sources (stands in for a commit id when the
    checkout is not a git repository)."""
    scala, java, res, _ = _sources(root)
    return _stamp(root, scala + java + res)[:12]


def bench_digest(root):
    """Digest of the library sources and every benchmark file: runs with the
    same digest run the same code on the same kind of inputs."""
    scala, java, res, _ = _sources(root)
    bench = sorted(p for p in glob.glob(os.path.join(BENCH, "**"), recursive=True)
                   if os.path.isfile(p) and "__pycache__" not in p)
    return _stamp(root, scala + java + res + bench)[:12]


def _run(cmd, log):
    with open(log, "ab") as f:
        p = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if p.returncode != 0:
        with open(log, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        raise BuildError(f"{cmd[0]} failed ({p.returncode}):\n{tail}")


def build(root):
    """Compile if needed; return the classpath entries (program, harness)."""
    out = os.path.join(root, ".bench_build")
    scala, java, res, harness = _sources(root)
    if not scala:
        raise BuildError(f"no library sources under {root}/src/main/scala")
    jars = spark_jars()
    stamp = _stamp(root, scala + java + res + harness)
    classes = os.path.join(out, "classes")
    hclasses = os.path.join(out, "harness")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [classes, hclasses]
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    open(log, "w").close()
    for d in (classes, hclasses):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    jar_cp = os.path.join(jars, "*")
    _run(_scalac(jars) + ["-d", classes, "-classpath", jar_cp] + scala + java, log)
    if java:
        _run(["javac", "-nowarn", "-d", classes, "-cp",
              os.pathsep.join([classes, jar_cp])] + java, log)
    base = os.path.join(root, "src/main/resources")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _run(_scalac(jars) + ["-d", hclasses, "-classpath",
                          os.pathsep.join([classes, jar_cp])] + harness, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [classes, hclasses]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(os.getcwd())))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
