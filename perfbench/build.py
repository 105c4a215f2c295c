"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/perfbench/<source hash>/ with the Scala compiler that ships
among the Spark jars. A build whose source hash is already present is
reused.

    python3 perfbench/build.py        # prints the classes directory

Run it from the root of the repository.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not pathlib.Path(m.group(1)).is_dir():
        raise BuildError("no Spark jar directory (set SPARK_HOME)")
    return pathlib.Path(m.group(1))


def _files(base: pathlib.Path, pattern: str):
    return sorted(p for p in base.rglob(pattern) if p.is_file())


def sources():
    engine = ROOT / "src" / "main" / "scala"
    harness = ROOT / "perfbench" / "src"
    main = _files(engine, "*.scala") if engine.is_dir() else []
    if not main:
        raise BuildError("engine sources (src/main/scala) not found")
    resources = ROOT / "src" / "main" / "resources"
    res = _files(resources, "*") if resources.is_dir() else []
    return main + _files(harness, "*.scala"), resources, res


def build() -> tuple:
    """Compile if needed; return (classes dir, jar dir, source hash)."""
    jars = spark_jars()
    srcs, res_root, res = sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    out = OUT / key
    if (out / "BUILD_OK").is_file():
        return out / "classes", jars, key
    tmp = OUT / (key + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp / "classes"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError(f"scalac failed with code {r.returncode}")
    for p in res:
        dst = tmp / "classes" / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / "BUILD_OK").write_text(key + "\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out / "classes", jars, key


if __name__ == "__main__":
    try:
        classes, _, _ = build()
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
    print(classes)
