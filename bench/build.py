"""Build file of the benchmark package.

Compiles the program (`src/main/scala` + `src/main/resources`) and then
the benchmark harness (`bench/src`) with the Scala compiler that ships
in the Spark jars, against those jars: `$SPARK_HOME/jars` when set,
else the `unmanagedBase` directory `build.sbt` names. Outputs go under
`.bench_build/` in the checkout, each packed into a jar (the JVM's
class-data-sharing archive takes classes from jars only); a content
stamp skips a build whose sources have not changed.

    python3 bench/build.py        # build both, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def _files(root, suffix=""):
    found = []
    for d, _, names in os.walk(root):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def _stamp(files, extra=""):
    # "jar": the output layout, so a build in an older layout is redone
    h = hashlib.sha256(("jar" + extra).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(name, sources, classpath, resources=None, extra_stamp=""):
    dest = os.path.join(OUT, name)
    stamp = _stamp(sources + (_files(resources) if resources else []), extra_stamp)
    stamp_file = os.path.join(dest, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest, stamp
    staging = dest + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    classes = os.path.join(staging, "classes")
    os.makedirs(classes)
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    print(f"[build] compiling {name}: {len(sources)} files", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise BuildError(f"compiling {name} failed")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(os.path.join(staging, name + ".jar"), "w") as jar:
        for f in _files(classes):
            jar.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    with open(os.path.join(staging, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(staging, dest)
    return dest, stamp


def build():
    """Build program and harness; return the run classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    program = _files(src, ".scala")
    if not program:
        raise BuildError(f"no program sources under {src}")
    jars = spark_jars()
    prog, stamp = _compile("program", program, jars,
                           resources=os.path.join(ROOT, "src", "main", "resources"))
    prog_jar = os.path.join(prog, "program.jar")
    harness = _files(os.path.join(ROOT, "bench", "src"), ".scala")
    hdir, _ = _compile("harness", harness, f"{prog_jar}:{jars}",
                       extra_stamp=stamp)
    return f"{os.path.join(hdir, 'harness.jar')}:{prog_jar}:{jars}"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
