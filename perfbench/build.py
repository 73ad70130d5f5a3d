"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources, using the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, or the one next to `spark-submit`
on PATH). Output goes to .bench_build/classes-<hash of the sources>, so an
unchanged tree is compiled once.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark jars directory with a Scala compiler; set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft").is_dir():
        sys.exit(f"perfbench: graft sources not found under {program}")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build() -> Path:
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = OUT / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = str(spark_jars() / "*")
    res = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(out), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(res.stdout)
        sys.exit(f"perfbench: compilation failed ({res.returncode})")
    (out / ".ok").touch()
    return out


if __name__ == "__main__":
    print(build())
