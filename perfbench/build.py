"""Builds the program and the benchmark's JVM side from source.

The program (src/main/scala) and the benchmark's Scala (perfbench/scala)
are compiled together by the Scala compiler that ships in the Spark
distribution's jars, into `.bench_build/classes-<digest>` under the
checkout. The digest covers every source file, so a changed source gets
a fresh build and an unchanged one is reused. No sbt, no network.

The jars are the ones the program's own build compiles against: the
`unmanagedBase` directory named in build.sbt, else `$SPARK_HOME/jars`.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Classpath wildcard for the Spark jars, or None if none are found."""
    dirs = []
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if glob.glob(os.path.join(d, "*.jar")):
            return os.path.join(d, "*")
    return None


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "*.scala")))
    return prog, bench


def build(root, build_dir):
    """Returns (classes directory, Spark jars classpath), compiling the
    classes first if needed. Raises SystemExit when the program's sources
    or the Spark jars are not there."""
    prog, bench = sources(root)
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala; nothing to build")
    jars = spark_jars(root)
    if not jars:
        sys.exit("perfbench: no Spark jars (build.sbt unmanagedBase or $SPARK_HOME/jars)")
    digest = hashlib.sha256()
    for path in prog + bench:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes, jars
    os.makedirs(build_dir, exist_ok=True)
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + prog + bench
    print("perfbench: compiling %d program and %d benchmark sources"
          % (len(prog), len(bench)), file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes, jars
