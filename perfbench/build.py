"""Build file of the ETL benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes with the Scala
compiler that ships among the Spark jars. No sbt and no dependency
download: the Spark jar directory is the one the root build.sbt names
(`unmanagedBase`), or $SPARK_HOME/jars. A build is skipped when a stamp over
the sources, the jar list and the compiler flags is unchanged.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "classes"
SCALAC_FLAGS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars():
    """Directory holding the Spark and Scala jars the program builds against."""
    build = ROOT / "build.sbt"
    if build.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    return program + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Compiles if needed and returns (classes dir, jar dir)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(" ".join(SCALAC_FLAGS).encode())
    stamp = h.hexdigest()
    if (OUT / ".stamp").is_file() and (OUT / ".stamp").read_text() == stamp:
        return OUT, jars
    tmp = OUT.with_name("classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name("scalac.args")
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp)] + SCALAC_FLAGS + ["@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-8000:])
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(OUT, ignore_errors=True)
    tmp.rename(OUT)
    return OUT, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
