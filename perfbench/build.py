"""The benchmark's build file: compiles the engine (src/main/scala) and
then the harness (perfbench/src) against it, with the Scala compiler that
ships in Spark's jar directory, each into .bench_build/<kind>-<source
digest>/ and only when one of its sources changed.

Build without running: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler found "
            "(set SPARK_HOME)", 3)
    return os.path.join(home, "jars")


def java():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def digest(paths, extra=b""):
    h = hashlib.sha256(extra)
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, srcs, classpath, out):
    """Compile `srcs` into `out` once; `out` is named by a source digest."""
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return
    kind = os.path.basename(out).split("-")[0]
    for old in glob.glob(os.path.join(BUILD, kind + "-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"{kind}-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.monotonic()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.pathsep.join(classpath), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die(f"{kind} compile failed", 3)
    os.rename(tmp, out)
    open(os.path.join(out, "BUILD_OK"), "w").close()
    print(f"# compiled {len(srcs)} {kind} sources in "
          f"{time.monotonic() - t0:.1f} s", file=sys.stderr)


def build(jars):
    """Engine sources, then the harness against them, each into
    .bench_build/<kind>-<digest>; returns (classpath, digest).

    The engine is compiled here rather than by sbt so that a run resolves
    no dependencies and writes nothing outside the checkout. This build
    must therefore track build.sbt's compiler settings: today build.sbt
    sets scalaVersion 2.13 (the version of Spark's bundled compiler) and
    no scalacOptions; a compiler option added there belongs in `scalac`
    above too."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        die("engine sources (src/main/scala) not found next to perfbench/", 2)
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True))
    os.makedirs(BUILD, exist_ok=True)
    d_engine = digest(engine)
    d_all = digest(harness, d_engine.encode())
    e_out = os.path.join(BUILD, f"engine-{d_engine}")
    h_out = os.path.join(BUILD, f"harness-{d_all}")
    scalac(jars, engine, [], e_out)
    scalac(jars, harness, [e_out], h_out)
    return [h_out, e_out], d_all



if __name__ == "__main__":
    classes, _ = build(spark_jars())
    print(os.pathsep.join(classes))
