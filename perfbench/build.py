"""Build step of the benchmark: compiles the program (src/main) together
with the harness (perfbench/harness) with the Scala compiler that ships in
Spark's jar directory, and generates the benchmark's input tables with the
program's own deterministic generator (graft.DataGen).

Everything lands in `.bench_build/` under the checkout root, keyed by a
digest of its inputs, so a second run reuses it and a changed source
rebuilds."""
import glob
import hashlib
import os
import shutil
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """Jar directory of the Spark install: $SPARK_HOME, else the install of
    the first `spark-submit` on the PATH whose jars include the Scala
    compiler the build uses."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return os.path.join(homes[0], "jars")


SPARK_JARS = _spark_jars()

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def _files(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise BuildError(f"program sources not found under {main}")
    return _files(main, os.path.join(HERE, "harness"))


def source_digest():
    return _digest(sources())


def classpath(classes):
    return f"{classes}:{SPARK_JARS}/*"


def _run(cmd, log, timeout, env=None):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=BUILD, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BuildError(f"timed out: {' '.join(cmd[:3])} ... (log {log})")
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BuildError(f"exit {rc}: {' '.join(cmd[:3])} ...\n{tail}")


def compile_classes():
    """Compiled program + harness classes; rebuilt when a source changes."""
    files = sources()
    out = os.path.join(BUILD, f"classes-{_digest(files)}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    _run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
          "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
          "-classpath", f"{SPARK_JARS}/*"] + scala,
         os.path.join(BUILD, "compile.log"), timeout=600)
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def generate_data(classes, sf, cores):
    """Input tables at scale factor `sf`, written by graft.DataGen (seeded,
    hash-derived columns: the same generator source gives the same bytes).
    Keyed by the generator's digest so a generator change regenerates."""
    gen = os.path.join(ROOT, "src", "main", "scala", "graft", "DataGen.scala")
    out = os.path.join(BUILD, f"data-{_digest([gen])}", f"sf{sf}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    cmd = ["java"] + JAVA_OPENS + [
        "-Xmx2g", f"-Djava.io.tmpdir={BUILD}", "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={BUILD}/datagen-local",
        "-cp", classpath(classes), "graft.DataGen", tmp, str(sf)]
    _run(cmd, os.path.join(BUILD, "datagen.log"), timeout=600,
         env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores)))
    shutil.rmtree(os.path.join(BUILD, "datagen-local"), ignore_errors=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
