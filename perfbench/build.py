"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/scala) into one class directory with the Scala compiler
that ships in Spark's jar directory (the one build.sbt names). The output is
reused while no source file changes.

usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    """Spark's jar directory, as the repository's sbt build names it."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    program = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    if not program:
        raise SystemExit(f"build: no program sources under {ROOT / 'src/main/scala'}")
    return program + sorted((ROOT / "perfbench/scala").rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Return (class directory, source digest), compiling if needed."""
    files = sources()
    want = digest(files)
    out = BUILD_DIR / "classes"
    stamp = out / ".digest"
    if stamp.exists() and stamp.read_text() == want:
        return out, want
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    (tmp / ".digest").write_text(want)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, want


if __name__ == "__main__":
    print(build()[0])
