#!/usr/bin/env python3
"""Build step of the benchmark: compiles graft's main sources together with
the benchmark's own Scala harness (perfbench/scala) in one scalac run, and
writes the launch command the harness runs with.

Spark and Scala come from the Spark distribution (SPARK_HOME, default
/opt/spark), as in the repository's build.sbt. The output lands in
`<build dir>/classes-<source hash>`, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py [BUILD_DIR]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALA_VERSION = "2.13.17"

# What a SparkSession created outside spark-submit needs on JDK 17 (the same
# list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not (jars / f"scala-compiler-{SCALA_VERSION}.jar").exists():
        raise BuildError(f"no Scala {SCALA_VERSION} compiler under {jars}")
    return jars


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d).resolve()


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not (main / "graft" / "SparkEntry.scala").exists():
        raise BuildError(f"graft sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def build(out_root=None):
    """Compile if needed; returns the class directory."""
    out_root = Path(out_root) if out_root else build_dir()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = out_root / f"classes-{h.hexdigest()[:16]}"
    if (classes / "BUILD_OK").exists():
        return classes
    jars = spark_jars()
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = os.pathsep.join(
        str(jars / f"scala-{n}-{SCALA_VERSION}.jar") for n in ("compiler", "library", "reflect"))
    args = out_root / "scalac.args"
    args.write_text("\n".join(str(f) for f in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp:false", "-classpath", str(jars / "*"), "-nowarn",
           "-d", str(classes), f"@{args}"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    (classes / "BUILD_OK").write_text("ok\n")
    return classes


def java_cmd(classes, run_dir, heap="2g"):
    """The JVM command line of the harness, everything it writes kept under
    run_dir (-XX:-UsePerfData: no hsperfdata file in the system temp dir)."""
    tmp = Path(run_dir) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap size keeps the peak RSS from following G1's heap growth.
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={Path(run_dir) / 'warehouse'}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            "-cp", os.pathsep.join([str(classes), str(spark_jars() / "*")])]


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else None))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
