"""Build file of the benchmark: compiles the program (src/main) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships among the Spark jars, into a directory keyed by a hash of
every source, so an unchanged tree is compiled once. It also generates
the fixed tables of batch_registry, keyed by a hash of their generator
(perfbench/src/perfbench/RegistryData.scala) alone.

    python3 perfbench/build.py        # prints the classpath it built
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATOR = os.path.join(ROOT, "perfbench/src/perfbench/RegistryData.scala")

# module access Spark needs on a current JDK
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """The jars of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME's, else those beside the first such bin/ on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    raise SystemExit("build: no Spark distribution with jars/scala-compiler-*.jar (set SPARK_HOME)")


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not src:
        raise SystemExit("build: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(p))
    return src + own, res


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build():
    """Returns the classpath (program + benchmark classes, Spark jars)."""
    jars = spark_jars()
    src, res = sources()
    h = hashlib.sha256()
    for p in src + res + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "BUILT")):
        t0 = time.time()
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", ":".join(jars)] + src
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit(f"build: scalac failed ({r.returncode})")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, os.path.join(ROOT, "src/main/resources")))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(p, dst)
        open(os.path.join(tmp, "BUILT"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        # earlier builds of this tree
        for old in glob.glob(os.path.join(build_dir(), "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
        sys.stderr.write(f"[perfbench] compiled {len(src)} sources in {time.time() - t0:.1f} s\n")
    return ":".join([out] + jars)


def registry_data(cp):
    """Returns the directory of batch_registry's tables, generating them
    first (in a JVM of their own, so no run's timing includes it) when
    this generator has not written them yet."""
    with open(GENERATOR, "rb") as f:
        out = os.path.join(build_dir(), "registry-data-" + hashlib.sha256(f.read()).hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "READY")):
        t0 = time.time()
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "jvm-tmp"))
        cmd = (["java", "-Xmx1g", f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')}"] + java_opens()
               + ["-cp", cp, "perfbench.RegistryData", tmp])
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=os.path.join(tmp, "jvm-tmp"), env=env, timeout=600)
        shutil.rmtree(os.path.join(tmp, "jvm-tmp"), ignore_errors=True)
        if r.returncode != 0 or not os.path.exists(os.path.join(tmp, "READY")):
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit(f"build: generating the registry tables failed ({r.returncode})")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(build_dir(), "registry-data-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
        sys.stderr.write(f"[perfbench] generated the registry tables in {time.time() - t0:.1f} s\n")
    return out


if __name__ == "__main__":
    print(build())
