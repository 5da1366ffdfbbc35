"""Build file of the crawl benchmark.

Compiles the repository's main sources (src/main/scala, with
src/main/resources) together with the benchmark's own sources
(crawlbench/src) using the Scala compiler that ships in the Spark
distribution's jars, so no build tool or dependency download is needed.

    python3 crawlbench/build.py        # prints the runtime classpath

The classes land in .bench_build/crawlbench/classes-<hash of the inputs>;
an unchanged tree reuses them.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "crawlbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = Path(submit).resolve().parent.parent
    jars = sorted(Path(home, "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Spark distribution with a Scala compiler under {home}/jars")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home, "bin", "java") if home else shutil.which("java")
    if exe is None or not Path(exe).exists():
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return str(exe)


def inputs():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"{main} is missing: run from a checkout of the repository")
    sources = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return sources, resources, res


def build():
    """Compile if needed; return the runtime classpath as a list of paths."""
    jars = spark_jars()
    sources, res_root, res = inputs()
    h = hashlib.sha256()
    for p in sources + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if not (classes / ".complete").exists():
        OUT.mkdir(parents=True, exist_ok=True)
        for old in OUT.glob("classes-*"):
            shutil.rmtree(old)
        tmp = OUT / f"building-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        cp = os.pathsep.join(str(j) for j in jars)
        argfile = OUT / f"sources-{os.getpid()}.txt"
        argfile.write_text("\n".join(str(s) for s in sources) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
               f"@{argfile}"]
        print(f"crawlbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
        try:
            done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        finally:
            argfile.unlink(missing_ok=True)
        if done.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac exited with {done.returncode}")
        for r in res:
            dst = tmp / r.relative_to(res_root)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dst)
        (tmp / ".complete").touch()
        tmp.rename(classes)
    return [classes] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(p) for p in build()))
    except BuildError as e:
        sys.exit(f"crawlbench: build failed: {e}")
