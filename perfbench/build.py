"""Build file of the benchmark package: compiles the library's main sources
(src/main/scala) together with the benchmark's JVM side (perfbench/scala)
into .bench_build/classes, using the Scala compiler that ships in Spark's
jars. A stamp of the sources' content makes a rebuild happen only when a
source changed.

    python3 perfbench/build.py        # build, print the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
    missing = [str(r.relative_to(ROOT)) for r in roots if not r.is_dir()]
    if missing:
        raise BuildError(f"missing source directories: {', '.join(missing)}")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure():
    """Return the classes directory, compiling first if any source changed."""
    files = sources()
    jars = spark_jars()
    classes = OUT / "classes"
    want = stamp(files)
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = OUT / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"sources{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    try:
        proc = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             # An explicit classpath keeps the working directory off it.
             "-classpath", str(tmp), "-d", str(tmp), f"@{argfile}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    finally:
        argfile.unlink(missing_ok=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
