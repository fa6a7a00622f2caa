"""Build step of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships with Spark, and reads the engine JVM's
settings out of the program's `build.sbt`.

The class directory is keyed by a hash of every source file, so a checkout
builds once and later runs reuse it. Usage from the repository root:

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def _build_sbt(root):
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError(f"no build.sbt at {root}: not a checkout of the program")
    with open(path) as f:
        return f.read()


def spark_jars(root):
    """The jar directory `build.sbt` names as `unmanagedBase`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt(root))
    if not m or not glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
        raise BuildError("build.sbt names no Spark jar directory that exists")
    return m.group(1)


def java_options(root):
    """The forked-JVM options of `build.sbt`: the add-opens list and the
    `javaOptions` strings, with `sys.env.getOrElse(NAME, default)` resolved
    the way sbt would resolve it."""
    text = _build_sbt(root)

    def strings(block):
        return re.findall(r'(s?)"((?:[^"\\$]|\$\{[^}]*\}|\\.)*)"', block)

    def resolve(s):
        return re.sub(
            r'\$\{sys\.env\.getOrElse\("([^"]+)",\s*"([^"]*)"\)\}',
            lambda m: os.environ.get(m.group(1), m.group(2)), s)

    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", text, re.S)
    if not opens or not opts:
        raise BuildError("cannot read javaOptions from build.sbt")
    out = []
    for _, pkg in strings(opens.group(1)):
        out += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    out += [resolve(s) for _, s in strings(opts.group(1))]
    return out


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    return prog + own


def build(root, build_dir):
    """Compile if needed; return the class directory."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(build_dir, exist_ok=True)
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    root = os.getcwd()
    try:
        print(build(root, os.environ.get("CARGO_TARGET_DIR") or os.path.join(BENCH, ".build")))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
