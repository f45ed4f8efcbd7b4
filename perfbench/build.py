"""Build the benchmark: compile the repo's Scala sources together with
perfbench/src into .bench_build/classes with scalac (the compiler ships
with the Spark jars, so no build tool or network is needed).

    python3 perfbench/build.py          # prints the classes directory

A stamp over every source file skips the compile when nothing changed.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first
    directory on PATH with a spark-submit whose parent holds jars/."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = sorted((Path(home) / "jars").glob("*.jar"))
        if jars:
            return jars
    raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main" / "scala"
    files = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not files:
        raise SystemExit(f"perfbench: no program sources under {main}")
    return files + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    subprocess.run(["rm", "-rf", str(tmp), str(classes)], check=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(["-nowarn", "-classpath", cp, "-d", str(tmp)] +
                                 [str(f) for f in files]) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        f"@{argfile}"], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed ({r.returncode})")
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
