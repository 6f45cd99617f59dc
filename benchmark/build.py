"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark driver
(`benchmark/scala`) with the Scala compiler that ships in Spark's jar
directory, against those same jars: no sbt, no dependency resolution.
Outputs go under the build directory; a stamp of the sources' content
hash skips a rebuild when nothing changed.

    python3 benchmark/build.py            # prints the class path
"""

import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "benchmark" / "scala"


def spark_jars():
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not any(jars.glob("spark-core_2.13-*.jar")):
        raise SystemExit(f"no Spark jars under {jars}")
    return jars


def build_dir():
    """`$CARGO_TARGET_DIR` when it lies inside the checkout, else
    `.bench_build`; the benchmark keeps everything under it."""
    cand = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    p = (ROOT / cand).resolve()
    if ROOT.resolve() not in p.parents and p != ROOT.resolve():
        p = (ROOT / ".bench_build").resolve()
    return p / "graftbench"


def sources(d):
    return sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java"))


def digest(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(files, out, classpath, log):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        args += ["-classpath", classpath]
    # the argument file keeps the command line short
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files))
    with open(log, "ab") as lg:
        r = subprocess.run(args + [f"@{argfile}"], stdout=lg, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed for {out.name}; see {log}")


def build():
    """Compile what changed; return the run class path."""
    if not PROGRAM_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit("run from the root of a graft checkout: "
                         "src/main/scala and benchmark/scala are required")
    jars = spark_jars()
    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    log = bdir / "build.log"
    prog, bench = bdir / "classes", bdir / "bench-classes"
    prog_files, bench_files = sources(PROGRAM_SRC), sources(BENCH_SRC)
    prog_hash = digest(prog_files)
    bench_hash = digest(bench_files, prog_hash.encode())
    stamp = bdir / "stamp"
    have = stamp.read_text().split() if stamp.exists() else []
    t0 = time.time()
    if have[:1] != [prog_hash]:
        scalac(prog_files, prog, None, log)
        have = [prog_hash]
    if have[1:2] != [bench_hash]:
        scalac(bench_files, bench, str(prog), log)
    stamp.write_text(f"{prog_hash} {bench_hash}\n")
    if time.time() - t0 > 1:
        print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.pathsep.join([str(bench), str(prog), f"{jars}/*"])


if __name__ == "__main__":
    print(build())
