"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/src) with the Scala compiler in Spark's jars directory.

    python3 perfbench/build.py [BUILD_DIR]

Classes go to BUILD_DIR/graft and BUILD_DIR/harness (default .bench_build,
or $CARGO_TARGET_DIR). A stamp of the sources' SHA-256 skips a rebuild
when nothing changed. Prints the run classpath.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, the one beside the
    spark-submit on PATH, or the pyspark package's."""
    def candidates():
        if os.environ.get("SPARK_HOME"):
            yield os.path.join(os.environ["SPARK_HOME"], "jars")
        submit = shutil.which("spark-submit")
        if submit:
            yield os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
        try:
            import pyspark
            yield os.path.join(os.path.dirname(pyspark.__file__), "jars")
        except ImportError:
            pass
    for d in candidates():
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("build: no Spark jars directory with a Scala compiler found")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(top):
    files = []
    for dirpath, _, names in os.walk(top):
        files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_tree(name, src_dir, out, classpath, jars, salt):
    """Compiles every source under src_dir into out unless its stamp matches."""
    files = sources(src_dir)
    if not files:
        raise SystemExit(f"build: no sources under {os.path.relpath(src_dir, ROOT)}")
    stamp = digest(files, salt)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    print(f"build: compiling {name} ({len(files)} files)", file=sys.stderr)
    done = subprocess.run(cmd + ["@" + argfile], stdout=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def build(build_dir):
    """Returns the classpath entries of the harness run."""
    jars = spark_jars()
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        graft = os.path.join(build_dir, "graft")
        harness = os.path.join(build_dir, "harness")
        stamp = compile_tree("graft", os.path.join(ROOT, "src", "main", "scala"), graft, [], jars, jars)
        compile_tree("harness", os.path.join(ROOT, "perfbench", "src"), harness, [graft], jars, stamp)
    return [harness, graft, os.path.join(jars, "*")]


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(os.pathsep.join(build(os.path.join(ROOT, target))))
