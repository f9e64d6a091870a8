"""Build of the benchmark: the repository's main sources plus the JVM
harness, compiled with the Scala compiler that ships in Spark's jar
directory (no sbt, no dependency resolution) and packed into two jars.
Outputs go under `.bench_build/perfbench/` and are reused while the
sources are unchanged.

    python3 perfbench/build.py      # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory, $SPARK_HOME/jars."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark jars under $SPARK_HOME/jars (set SPARK_HOME)")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, files, classpath, digest, log):
    dest = os.path.join(OUT, "classes", name)
    stamp = os.path.join(dest, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", ":".join(classpath),
           "-d", tmp] + files
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise BuildError("compiling %s failed, see %s" % (name, log))
    with open(os.path.join(tmp, ".digest"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def _jar(name, dirs, digest):
    path = os.path.join(OUT, "jars", name + ".jar")
    stamp = path + ".digest"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for base, _, files in os.walk(d):
                for f in sorted(files):
                    if f != ".digest":
                        full = os.path.join(base, f)
                        z.write(full, os.path.relpath(full, d))
    os.replace(path + ".tmp", path)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return path


def build():
    """Compiles what changed; returns the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    main_files = _sources(main_src)
    if not main_files:
        raise BuildError("no Scala sources under %s" % main_src)
    harness_files = _sources(os.path.join(HERE, "harness"))
    os.makedirs(OUT, exist_ok=True)
    resources = os.path.join(ROOT, "src", "main", "resources")
    main_digest = _digest(main_files + sorted(
        f for f in glob.glob(os.path.join(resources, "**"), recursive=True) if os.path.isfile(f)))
    main = _compile("main", main_files, [], main_digest, os.path.join(OUT, "build-main.log"))
    harness_digest = _digest(harness_files, main_digest)
    harness = _compile("harness", harness_files, [main], harness_digest,
                       os.path.join(OUT, "build-harness.log"))
    return [_jar("main", [main, resources], main_digest),
            _jar("harness", [harness], harness_digest),
            os.path.join(spark_jars(), "*")]


def java_cmd(classpath):
    # no hsperfdata file under the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "harness", "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-cp", ":".join(classpath)]
    return cmd


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
