"""Build file of the benchmark: compiles the library under test (src/main)
and the benchmark program (perfbench/src) with the Scala compiler that ships
inside the Spark distribution, into .bench_build/ at the repository root,
packs them into one jar, and records a class-data-sharing archive from a
short training run so that every benchmark JVM starts faster.

Usage: python3 perfbench/build.py [--spark-jars DIR]

The output directory is keyed by a hash of every compiled source and
resource, so an unchanged tree is not rebuilt. Spark's jars are found from
--spark-jars, else $SPARK_HOME/jars, else next to `spark-submit` on PATH.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_ROOT = ROOT / ".bench_build" / "perfbench"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jvm_flags(tmp):
    """Flags of every benchmark JVM; the training run uses the same ones,
    since the class-sharing archive is only used under matching flags."""
    # A fixed, pre-touched heap keeps the process's peak RSS from depending
    # on when the heap happened to grow.
    flags = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + [
        f"-Djava.io.tmpdir={tmp}",
        "-Duser.timezone=UTC",
        f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
    ]


def spark_jars(explicit=None):
    candidates = []
    if explicit:
        candidates.append(Path(explicit))
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")) and any(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution found: pass --spark-jars or set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise BuildError(f"library sources missing: {main / 'scala'}")
    lib = sorted((main / "scala").rglob("*.scala"))
    bench = sorted((BENCH_DIR / "src").rglob("*.scala"))
    res_root = main / "resources"
    resources = sorted(p for p in res_root.rglob("*") if p.is_file()) if res_root.is_dir() else []
    if not lib or not bench:
        raise BuildError("no Scala sources to compile")
    return lib, bench, res_root, resources


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:20]


def build(explicit_jars=None, log=sys.stderr):
    """Return (java_args, source_hash): the JVM arguments up to the main
    class (archive and classpath included), compiling first if needed."""
    jars = spark_jars(explicit_jars)
    lib, bench, res_root, resources = sources()
    key = tree_hash(lib + bench + resources + [Path(__file__).resolve()])
    out = BUILD_ROOT / key
    jar = out / "perfbench.jar"
    archive = out / "classes.jsa"

    def java_args(tmp):
        cds = [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []
        return ["java"] + jvm_flags(tmp) + cds + ["-cp", f"{jar}{os.pathsep}{jars}/*"]

    if (out / "ok").exists():
        return java_args, key
    BUILD_ROOT.mkdir(parents=True, exist_ok=True)
    for old in BUILD_ROOT.iterdir():
        if old.name != key:
            shutil.rmtree(old, ignore_errors=True)
    stage = BUILD_ROOT / f".stage-{key}-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    (stage / "classes").mkdir(parents=True)
    argfile = stage / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in lib + bench) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx1500m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-d", str(stage / "classes"), f"@{argfile}"]
    print(f"[perfbench] compiling {len(lib)} library + {len(bench)} benchmark files",
          file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        shutil.rmtree(stage, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for r in resources:
        dst = stage / "classes" / r.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    argfile.unlink()
    if out.exists():
        shutil.rmtree(out)
    stage.rename(out)
    # the archive records the classpath, so the jar is made at its final path
    subprocess.run(["jar", "cf", str(jar), "-C", str(out / "classes"), "."], check=True)
    shutil.rmtree(out / "classes")
    train = out / "train-tmp"
    train.mkdir()
    proc = subprocess.run(
        ["java"] + jvm_flags(train) + [f"-XX:ArchiveClassesAtExit={archive}",
                                       "-cp", f"{jar}{os.pathsep}{jars}/*",
                                       "perfbench.Main", "--train", str(train)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    shutil.rmtree(train, ignore_errors=True)
    if proc.returncode != 0:
        archive.unlink(missing_ok=True)
        print("[perfbench] class-sharing training run failed; runs start without it:\n"
              + proc.stdout[-2000:], file=log, flush=True)
    (out / "ok").write_text(f"{time.time() - t0:.1f}s\n")
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=log, flush=True)
    return java_args, key


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spark-jars")
    args = ap.parse_args()
    try:
        _, key = build(args.spark_jars)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    print(BUILD_ROOT / key)
    return 0


if __name__ == "__main__":
    sys.exit(main())
