"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM side (`perfbench/scala`) into
`.bench_build/classes`, using the Scala compiler that ships among the
Spark jars the repository's build.sbt points at (`unmanagedBase`).

The build is skipped when a stamp of every source file and the jar
listing matches the last successful build.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars(root):
    """The jar directory of the repository's sbt build (`unmanagedBase := file(...)`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not (m and Path(m.group(1)).is_dir()):
        raise SystemExit("perfbench: build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources(root):
    return sorted(list((root / "src" / "main" / "scala").rglob("*.scala")) +
                  list((HERE / "scala").rglob("*.scala")))


def ensure_built(root):
    """Compile if the sources changed; return (classes dir, jars dir)."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = root / ".bench_build"
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, jars
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes, jars


if __name__ == "__main__":
    ensure_built(Path.cwd())
