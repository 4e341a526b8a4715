"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own code
(perfbench/src) with the Scala compiler that ships in the Spark
distribution build.sbt names, into .bench_build/classes under the
checkout root. A stamp of every source file's path and bytes skips the
compile when nothing changed. Run it from the checkout root:

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars() -> Path:
    """The Spark jars the program builds against: build.sbt's
    `unmanagedBase`."""
    sbt = ROOT / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text()) if sbt.is_file() else None
    if not found:
        raise SystemExit(f"no unmanagedBase in {sbt}")
    jars = Path(found.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit(f"no program sources under {ROOT / 'src/main/scala'}")
    return program + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Return the classes directory, compiling first if a source changed."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSES
    BUILD.mkdir(exist_ok=True)
    fresh = BUILD / f"classes.tmp{os.getpid()}"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir()
    argfile = BUILD / f"sources{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    try:
        cp = f"{jars}/*"
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(fresh), "-classpath", cp, f"@{argfile}"],
            check=True, stdout=sys.stderr)
        shutil.rmtree(CLASSES, ignore_errors=True)
        fresh.rename(CLASSES)
        STAMP.write_text(want)
    finally:
        argfile.unlink()
        shutil.rmtree(fresh, ignore_errors=True)
    return CLASSES


if __name__ == "__main__":
    print(build())
