"""Build file of the benchmark package: compiles the exporter's sources
(`src/main/scala`) together with the benchmark harness (`perfbench/scala`)
with the Scala compiler that ships in Spark's jar directory, into
`<build dir>/classes-<source hash>`. A build whose sources are unchanged is
reused.

Spark's jars are found under `$SPARK_HOME/jars`, or else in the directory
the repository's `build.sbt` names as `unmanagedBase`.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, build_dir):
    """Return the classpath (list of entries) for the harness JVM."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    resources = os.path.join(root, "src/main/resources")
    classpath = [out, resources, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, ".done")):
        return classpath
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for part in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{part}-2.*.jar"))]
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return classpath
