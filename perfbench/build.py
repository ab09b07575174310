"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) into one jar with the Scala compiler that
ships in the Spark distribution's jars, then records a class-data
sharing archive of the classes a run loads, so each run's JVM starts
without re-reading them from hundreds of jars.

    python3 perfbench/build.py          # from the repository root

The output lands in .bench_build/<hash of all sources>/; a build whose
marker file exists is reused, so an unchanged tree builds once.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

ENGINE_SRC = pathlib.Path("src/main/scala")
BENCH_SRC = pathlib.Path("perfbench/src")
BUILD_DIR = pathlib.Path(".bench_build")
OUT_DIR = pathlib.Path(".bench_out")
DRIVER_HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> pathlib.Path:
    """The jars directory of the Spark distribution (SPARK_HOME, else the
    one that holds spark-submit on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources() -> list:
    if not (ENGINE_SRC / "graft").is_dir():
        sys.exit(f"perfbench: engine sources {ENGINE_SRC} not found; run from the repository root")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def java_command(jar: pathlib.Path, main_class: str, args: list, cds: list) -> list:
    """The JVM command line of every benchmark JVM."""
    tmp = OUT_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(jar), str(spark_jars() / "*")])
    return (["java", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + cds + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", cp, main_class, "--out", str(OUT_DIR)] + args)


def build() -> tuple:
    """Builds if needed; returns (jar, class-data archive or None)."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f).encode() + b"\0" + f.read_bytes())
    out = BUILD_DIR / digest.hexdigest()[:16]
    jar, archive, marker = out / "perfbench.jar", out / "classes.jsa", out / ".built"
    if marker.exists():
        return jar, archive if archive.exists() else None
    # builds of other source trees are stale
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    print(f"perfbench: compiling {len(srcs)} sources into {jar}", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp] + [str(f) for f in srcs]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    # one short run of each workload, whose loaded classes the JVM dumps
    # into the archive at exit; without an archive runs only start slower
    print("perfbench: recording the class-data sharing archive", file=sys.stderr)
    train = java_command(jar, "graft.perfbench.Main", ["--train", "1"],
                         [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"])
    if subprocess.run(train, stdout=sys.stderr).returncode != 0:
        archive.unlink(missing_ok=True)
        print("perfbench: recording the archive failed; runs go without it", file=sys.stderr)
    marker.touch()
    return jar, archive if archive.exists() else None


if __name__ == "__main__":
    print(build()[0])
