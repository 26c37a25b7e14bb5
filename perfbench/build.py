"""Build file of the benchmark: compiles the engine sources
(src/main/scala) together with the harness (perfbench/src) using the
Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # from the repository root

The classes land in .bench_build/classes-<digest>, where the digest
covers every source file, so an unchanged tree is never recompiled and
a changed one never reuses stale classes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars directory, which must hold the Scala compiler:
    $SPARK_HOME's, else that of the spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise RuntimeError("no Spark install with the Scala compiler: set SPARK_HOME")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return engine, bench


def build_dir(root):
    return os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build")


def ensure_built(root):
    """Compile if needed; return the classes directory."""
    engine, bench = sources(root)
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala: run from the repository root")
    digest = hashlib.sha256()
    for f in engine + bench:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    base = os.path.join(root, build_dir(root))
    out = os.path.join(base, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp] + engine + bench
    print(f"[perfbench] compiling {len(engine)} engine + {len(bench)} harness sources", file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
