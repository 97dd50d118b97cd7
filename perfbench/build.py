#!/usr/bin/env python3
"""Build step of the benchmark: compiles the engine and the harness with scalac.

The engine (`src/main/scala` at the repository root) and the harness
(`perfbench/src`) compile into two class directories under `.bench_build/`,
each stamped with a hash of its sources, so a harness edit does not recompile
the engine. The compiler and every library come from the Spark distribution
named by SPARK_HOME (its `jars/` directory ships scala-compiler), so the build
resolves nothing over the network.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import fcntl
import glob
import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; it must name a Spark 4 distribution")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar under {home}/jars")
    return jars


def sources(src_dir):
    found = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {src_dir}")
    return found


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_unit(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name> unless its stamp is current."""
    out = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    want = digest(srcs, ":".join(os.path.basename(p) for p in classpath))
    if os.path.exists(stamp) and open(stamp).read().strip() == want:
        return out
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    args_file = os.path.join(OUT, name + ".args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", ":".join(classpath), "@" + args_file]
    print(f"[build] compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {name}")
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return out


def build():
    """Compile what is stale and return the runtime classpath (list of paths)."""
    jars = spark_jars()
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BuildError(f"engine sources not found at {engine_src}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine = compile_unit("engine-classes", sources(engine_src), jars, jars)
        bench = compile_unit("bench-classes", sources(os.path.join(BENCH_DIR, "src")),
                             [engine] + jars, jars)
    return [bench, engine] + jars


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
