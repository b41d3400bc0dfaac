"""Build file of the benchmark: compiles the repository's main Scala sources
together with the benchmark harness (`perfbench/src`) against the Spark
distribution's jars that build.sbt names, offline, with the Scala compiler
that ships in them.

    python3 perfbench/build.py          # from the repository root

Output goes to `.bench_build/classes`; a stamp of the sources' hash makes a
repeat build a no-op. Prints the class directory on success.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no src/main/scala under %s; run from a repository checkout" % ROOT)
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def spark_jars():
    """The Spark distribution's jars, from `unmanagedBase` in build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit("perfbench: no Scala compiler among the jars in %r" % m.group(1))
    return jars


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, main resources, Spark jars."""
    return ":".join([os.path.join(BUILD, "classes"), os.path.join(ROOT, "src/main/resources")] + spark_jars())


def build():
    srcs, jars, digest = sources(), spark_jars(), source_hash()
    stamp = os.path.join(BUILD, "classes.stamp")
    out = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    os.makedirs(BUILD, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(jars)] + srcs))
    compiler = [j for j in jars if os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")
                and os.path.basename(j).startswith("scala-")]
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", ":".join(compiler),
                    "scala.tools.nsc.Main", "@" + args], check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


if __name__ == "__main__":
    print(build())
