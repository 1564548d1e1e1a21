"""Compile the program and the benchmark harness with scalac.

The program is every file under `src/main/scala`, compiled against the
Spark jars the repository's `build.sbt` names as its `unmanagedBase`
(or `$SPARK_HOME/jars`). Classes land in `perfbench/.build`; a stamp of
the sources' contents skips a compile whose inputs have not changed.

    python3 perfbench/build.py      # prints the run classpath
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
OUT = os.path.join(HERE, ".build")


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jars (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, files, out, st):
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.13*.jar" % n))[0]
                for n in ("compiler", "library", "reflect")]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", classpath, "-d", out, "-nowarn"] + files))
    r = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "@" + argfile])
    if r.returncode != 0:
        sys.exit("perfbench: compile failed (%s)" % out)
    with open(stamp_file, "w") as f:
        f.write(st)


def build():
    """Compile what changed; return the classpath of the measured JVM."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    prog = sources(prog_src)
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala")
    jars = spark_jars()
    jar_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    prog_out = os.path.join(OUT, "program")
    bench_out = os.path.join(OUT, "bench")
    prog_st = stamp(prog, jars)
    scalac(jars, jar_cp, prog, prog_out, prog_st)
    bench = sources(os.path.join(HERE, "src"))
    scalac(jars, os.pathsep.join([prog_out, jar_cp]), bench, bench_out,
           stamp(bench, prog_st))
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench_out, prog_out, resources, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
