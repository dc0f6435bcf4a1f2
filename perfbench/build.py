"""Compiles graft and the benchmark harness from source.

Uses the Scala compiler that ships in Spark's jars directory
(``$SPARK_HOME/jars``, default ``/opt/spark/jars``), so no build tool or
network is needed. graft's main sources (``src/main/scala``) compile to
``<out>/graft`` and the harness (``perfbench/src``) to ``<out>/perfbench``;
each is rebuilt only when its sources change.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def _jar(prefix):
    found = sorted(glob.glob(os.path.join(spark_jars(), prefix + "-2.13*.jar")))
    if not found:
        sys.exit(f"perfbench: no {prefix} jar in {spark_jars()}")
    return found[-1]


def _sources(src_dir):
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit(f"perfbench: no Scala sources under {src_dir}")
    return files


def _compile(name, src_dir, out, classpath, log, salt=""):
    """Compiles `src_dir` into `out/name` unless its stamp (a digest of the
    sources and `salt`) is unchanged; returns (directory, stamp)."""
    files = _sources(src_dir)
    digest = hashlib.sha256(salt.encode())
    for f in files:
        digest.update(os.path.relpath(f, src_dir).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    target = os.path.join(out, name)
    stamp_file = os.path.join(out, name + ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return target, stamp
    subprocess.run(["rm", "-rf", target, stamp_file], check=True)
    os.makedirs(target)
    compiler = [_jar("scala-compiler"), _jar("scala-library"), _jar("scala-reflect")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath + [os.path.join(spark_jars(), "*")]),
           "-d", target] + files
    with open(log, "ab") as fh:
        done = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if done.returncode != 0:
        sys.exit(f"perfbench: compiling {name} failed, see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return target, stamp


def build(root, out):
    """Builds graft from `root`'s sources and the harness into `out`;
    returns the classpath to run the harness with."""
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    graft, stamp = _compile("graft", os.path.join(root, "src", "main", "scala"), out, [], log)
    harness, _ = _compile("perfbench", os.path.join(HERE, "src"), out, [graft], log, salt=stamp)
    return [harness, graft, os.path.join(spark_jars(), "*")]
