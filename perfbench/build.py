"""Build for the benchmark: compiles the engine's sources (src/main) and
the benchmark's own (perfbench/src) with the Scala compiler that ships
with Spark, into .bench_build/classes-<source hash>.  A build whose
sources have not changed is reused.

Run on its own:  python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    main = os.path.join(root, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))
    java = sorted(glob.glob(os.path.join(main, "**", "*.java"), recursive=True))
    return scala, java


def ensure_built(root, build_dir, log=sys.stderr):
    """Path of the compiled classes for the sources under `root`."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a full checkout")
    scala, java = sources(root)
    h = hashlib.sha256()
    for p in scala + java:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(scala + java))
    print(f"perfbench: compiling {len(scala)} Scala and {len(java)} Java files", file=log)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-classpath", jars, "@" + args],
                   check=True, stdout=log, stderr=log)
    if java:
        subprocess.run(["javac", "-nowarn", "-d", tmp, "-cp", f"{tmp}:{jars}"] + java,
                       check=True, stdout=log, stderr=log)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    os.remove(args)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(ensure_built(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
