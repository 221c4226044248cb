"""Builds the benchmark: the engine's sources and the benchmark's own,
compiled together with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py          # from the repository root

Output goes to .bench_build/classes, stamped with a digest of every
source file, so an unchanged tree is not compiled twice.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BUILD = pathlib.Path(".bench_build")
SOURCES = [pathlib.Path("src/main/scala"), pathlib.Path("perfbench/src")]
RESOURCES = pathlib.Path("src/main/resources")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(os.path.realpath(submit)).parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("perfbench: Spark not found; set SPARK_HOME")
    return jars


def sources():
    missing = [str(d) for d in SOURCES if not d.is_dir()]
    if missing:
        sys.exit(f"perfbench: source directory missing: {', '.join(missing)}")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build():
    """Compiles when any source changed; returns the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for p in files + sorted(RESOURCES.rglob("*")):
        if p.is_file():
            digest.update(str(p).encode() + b"\0" + p.read_bytes())
    classes, stamp = BUILD / "classes", BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    staging = BUILD / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging), "-cp", cp,
           f"@{argfile}"]
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
