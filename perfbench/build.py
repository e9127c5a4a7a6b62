"""Build file of the benchmark: compiles the engine sources (`src/main/scala`)
and the benchmark's JVM side (`perfbench/scala`) with the Scala compiler
that ships in Spark's jars, into `.perfbench/build/` of the checkout.

A build is reused while the sources are unchanged (content hash), so only the
first run in a checkout pays for it. Usage: `python3 perfbench/build.py`.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
BUILD = CHECKOUT / ".perfbench" / "build"


def spark_jars():
    """`$SPARK_HOME/jars`, or the first `jars` next to a `spark-submit` on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    engine = CHECKOUT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted(
        (CHECKOUT / "perfbench" / "scala").rglob("*.scala"))


def classpath():
    """Compiled classes plus Spark's jars; builds first when needed."""
    return f"{ensure()}{os.pathsep}{spark_jars()}/*"


def ensure():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(CHECKOUT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (BUILD / "stamp").exists() and (BUILD / "stamp").read_text() == stamp \
                and classes.is_dir():
            return classes
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        jars = f"{spark_jars()}/*"
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={BUILD}", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        (BUILD / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
