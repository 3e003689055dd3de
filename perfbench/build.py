"""Build step of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/scala) with the Scala compiler that ships among the Spark
jars, into $CARGO_TARGET_DIR (default .bench_build) of the checkout.

A stamp of the sources' content skips the rebuild when nothing changed.
Run alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The Spark jar directory the engine builds against: build.sbt's
    unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources(sub):
    return sorted(glob.glob(os.path.join(ROOT, sub, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + args]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compile if needed; returns the runtime classpath."""
    engine = _sources("src/main/scala")
    harness = _sources("perfbench/scala")
    if not engine or not harness:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a full checkout")
    bd = build_dir()
    eng_out, bench_out = os.path.join(bd, "classes"), os.path.join(bd, "bench-classes")
    jars = os.path.join(spark_jars(), "*")
    stamp_file = os.path.join(bd, "stamp")
    stamp = _stamp(engine + harness)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        for d in (eng_out, bench_out):
            subprocess.run(["rm", "-rf", d], check=True)
        _scalac(eng_out, jars, engine)
        _scalac(bench_out, jars + os.pathsep + eng_out, harness)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([bench_out, eng_out, jars])


if __name__ == "__main__":
    print(build())
