"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark harness (`perfbench/scala`) with the Scala compiler
that ships among Spark's jars, into `.bench_build/classes-<hash>`.

The hash covers every source file, so an unchanged tree reuses its
classes and an edited one is rebuilt. Usage: python3 perfbench/build.py
(from the repository root); prints the class directory.
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
    """The directory the root build.sbt takes its unmanaged jars from (the
    Spark the sbt build compiles against), else `$SPARK_HOME/jars`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources(root):
    engine = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(f"{HERE}/scala/*.scala"))
    return engine, harness


def build(root):
    engine, harness = sources(root)
    if not engine:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    jars = spark_jars(root)
    if not glob.glob(f"{jars}/scala-compiler-*.jar"):
        raise SystemExit(f"no Scala compiler among {jars}")
    h = hashlib.sha256()
    for path in engine + harness:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(base, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + harness))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(base, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
