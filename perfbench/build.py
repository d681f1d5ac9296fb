"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/scala) from source into .bench_build/classes.

It uses the Scala compiler that ships among the Spark jars, so it needs no
sbt and no network. A stamp of the sources' digest skips the compile when
nothing changed.

    python3 perfbench/build.py        # prints the classpath
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
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((ROOT / "perfbench" / "scala").glob("*.scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/scala")
    return program + harness


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return [str(OUT / "classes"), str(spark_jars() / "*")]


def build():
    """Compile if the sources changed; return (classpath, source digest)."""
    files = sources()
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    sha = digest(files)
    stamp = OUT / "stamp"
    if stamp.exists() and stamp.read_text() == sha and (OUT / "classes").is_dir():
        return classpath(), sha
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-cp", str(jars / "*"), "-d", str(tmp)] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(OUT / "classes", ignore_errors=True)
    tmp.rename(OUT / "classes")
    stamp.write_text(sha)
    return classpath(), sha


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(":".join(cp))
