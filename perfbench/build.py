"""Build file of the benchmark: compiles the program and the benchmark together.

The benchmark's Scala sources (perfbench/src) and the program's sources
(src/main/scala) are compiled in one scalac call against the Spark
installation's jars, which also carry the Scala compiler, and packed into
.bench_build/perfbench/build-<digest>/perfbench.jar. The digest covers every
source file, so an unchanged tree is compiled once. The benchmark's JVM
starts as the program's does, with no class-data archive or other start-up
aid, so set-up time is the program's own.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed young generation: G1's adaptive young sizing differs from run to run.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def java_cmd(jar: str, tmp: str) -> list:
    """The JVM command line for the benchmark's main class, up to its arguments."""
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java(), *opens, *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{jar}{os.pathsep}{os.path.join(spark_jars(), '*')}", "perfbench.Main"]


def sources(root: str) -> list:
    files = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(root: str, files: list) -> str:
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_jar(files: list, out: str) -> str:
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: compilation exceeded 600 s")
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    jar = os.path.join(out, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    return jar


def ensure(root: str, work: str) -> str:
    """The jar for the current sources, building it if needed."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src")) for f in files):
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    out = os.path.join(work, "build-" + digest(root, files))
    jar = os.path.join(out, "perfbench.jar")
    if not os.path.isfile(jar):
        for old in glob.glob(os.path.join(work, "build-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        compile_jar(files, tmp)
        os.rename(tmp, out)
    return jar


if __name__ == "__main__":
    print(ensure(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench")))
