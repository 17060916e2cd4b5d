"""Build file of the benchmark.

Compiles the repository's `src/main/scala` together with `perfbench/src`
using the Scala compiler that ships in the Spark distribution's jars
(`$SPARK_HOME/jars`, or the distribution whose `spark-submit` is on the
PATH), the same jars the program runs on. Output goes to `<target>/classes-<digest>`, where the digest
covers every source file, so a changed source means a fresh build and an
unchanged tree reuses the last one.

    python3 perfbench/build.py [target-dir]     # prints the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    spark-submit is on the PATH (skipping launcher-only copies)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark distribution with a jars directory: set SPARK_HOME")


def spark_jars():
    jars_dir = spark_jars_dir()
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit(f"no scala-compiler jar in {jars_dir}")
    return jars


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(root, files, jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, target):
    """Returns (classes dir, source digest); compiles when no build of this
    exact source tree exists yet."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit(f"no src/main/scala/graft under {root}: run from the repository root")
    jars = spark_jars()
    files = sources(root)
    tree = digest(root, files, jars)
    out = os.path.join(target, "classes-" + tree[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, tree
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    os.remove(args_file)
    if r.returncode != 0:
        raise SystemExit(f"build failed (scalac exit {r.returncode})")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in os.listdir(target):
        if old.startswith("classes-") and os.path.join(target, old) != out:
            shutil.rmtree(os.path.join(target, old), ignore_errors=True)
    return out, tree


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(os.getcwd(), os.path.abspath(target))[0])
