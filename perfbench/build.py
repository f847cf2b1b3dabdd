"""Build file of the benchmark: compiles the program from source, then the
benchmark's own Scala helpers, with the Scala compiler that ships in
Spark's jar directory. Nothing is fetched.

    python3 perfbench/build.py            # from the repository root

Output goes to $CARGO_TARGET_DIR (default `.bench_build`) under the
repository root. A build is reused while every source file it was made
from is unchanged.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
PROGRAM_RES = os.path.join(REPO, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(RuntimeError):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(REPO, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _sources(root, suffix=".scala"):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, REPO).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources):
    compiler = [
        j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
        if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))
    ]
    if len(compiler) < 3:
        raise BuildError(f"no Scala compiler in {jars}")
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = [
        "java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
        "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile,
    ]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile if needed; returns the runtime classpath (list of entries)."""
    program = _sources(PROGRAM_SRC)
    if not program:
        raise BuildError(f"no program sources under {os.path.relpath(PROGRAM_SRC, REPO)}")
    bench = _sources(BENCH_SRC)
    jars = spark_jars()
    resources = sorted(p for p in glob.glob(os.path.join(PROGRAM_RES, "**"), recursive=True) if os.path.isfile(p))
    stamp = _digest(program + bench + resources + [os.path.abspath(__file__)])
    root = build_dir()
    classes = os.path.join(root, "classes")
    entries = [os.path.join(classes, "program"), os.path.join(classes, "bench"), os.path.join(jars, "*")]
    stamp_file = os.path.join(root, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return entries
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _scalac(jars, os.path.join(jars, "*"), os.path.join(tmp, "program"), program)
    for p in resources:
        dst = os.path.join(tmp, "program", os.path.relpath(p, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(jars, os.pathsep.join([os.path.join(tmp, "program"), os.path.join(jars, "*")]),
            os.path.join(tmp, "bench"), bench)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return entries


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
