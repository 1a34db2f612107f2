"""Build file of the benchmark: compiles the project's main Scala sources
together with the benchmark's own (perfbench/scala) into one class
directory, using the Scala compiler that ships in the Spark jar directory.

The build is skipped when a stamp of every source file's content matches
the last successful build. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def _spark_home():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


SPARK_JARS = _spark_home() / "jars"
ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / "perfbench" / ".build"
CLASSES = BUILD / "classes"


def classpath():
    return f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: no project sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").glob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    files = sources()
    want = stamp(files)
    stamp_file = BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == want and CLASSES.is_dir():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(want)


if __name__ == "__main__":
    build()
