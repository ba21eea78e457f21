"""Build file of the benchmark package.

Compiles the engine (src/main/scala plus its resources) and the benchmark
(perfbench/src) with the Scala compiler that ships in Spark's jars, into
<build dir>/classes. A stamp over every source skips the compile when
nothing changed. Run on its own as

    python3 perfbench/build.py

from the repository root; run.py calls ensure() before every run.
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME/jars, or the
    one next to spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not any(jars.glob("spark-core_*.jar")):
        raise BuildError("no Spark install found (set SPARK_HOME)")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def _files(root, suffix=None):
    if not root.is_dir():
        return []
    return sorted(p for p in root.rglob("*")
                  if p.is_file() and (suffix is None or p.suffix == suffix))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Compiles when the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    sources = [f for d in SOURCES for f in _files(d, ".scala")]
    if not _files(SOURCES[0], ".scala"):
        raise BuildError(f"no engine sources under {SOURCES[0]}")
    resources = _files(RESOURCES)
    stamp = _stamp(sources + resources)
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classpath

    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    staging = BUILD / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", str(staging), "-cp", f"{jars}/*", f"@{argfile}"]
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    for f in resources:
        dest = staging / f.relative_to(RESOURCES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
