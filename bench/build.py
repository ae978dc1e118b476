"""Build file of the benchmark package.

Compiles the program (src/main/scala of the checkout) and the benchmark's
own Scala sources with the Scala compiler that ships in the Spark
distribution the program runs on, so a build needs nothing beyond that
distribution and a JDK. Class directories land under the build directory
($CARGO_TARGET_DIR, default .bench_build); a stamp of the sources' hash
skips a rebuild when nothing changed.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME's, else the
    one build.sbt compiles against."""
    for d in [os.path.join(os.environ.get("SPARK_HOME", ""), "jars"), "/opt/spark/jars"]:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("no Spark distribution found (set SPARK_HOME)")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files, classpath):
    """Hash of the sources and of the stamps of the class directories they
    compile against."""
    h = hashlib.sha256()
    for f in files + [c + ".stamp" for c in classpath]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(out, files, classpath, jars):
    """scalac `files` into the class directory `out`, atomically: a failed
    build leaves no half-written directory behind."""
    stamp = digest(files, classpath)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    print(f"[bench] compiling {len(files)} sources into {out}", file=sys.stderr)
    subprocess.run(cmd + files, check=True, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build(root, build_dir):
    """Returns the classpath entries to run the benchmark with."""
    program_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program_src, "graft")):
        raise FileNotFoundError(f"no program sources under {program_src}")
    jars = spark_jars()
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        program = os.path.join(build_dir, "program-classes")
        compile_into(program, sources(program_src), [], jars)
        bench = os.path.join(build_dir, "bench-classes")
        compile_into(bench, sources(os.path.join(HERE, "scala")), [program], jars)
    return [bench, program, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd(), os.environ.get("CARGO_TARGET_DIR", ".bench_build"))))
