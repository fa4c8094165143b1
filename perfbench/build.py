"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, and packs each into a jar. Output goes to $CARGO_TARGET_DIR
(default .bench_build) and is reused while the sources are unchanged.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first PATH
    entry that is a Spark bin/ directory."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else \
        [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("no Spark jars found (set SPARK_HOME)")


def out_dir(root):
    return os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _jar(classes, jar):
    """Pack a class directory into a jar with fixed entry order and times,
    so the class-data archive of run.py can map it."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                info = zipfile.ZipInfo(os.path.relpath(p, classes), (1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(p, "rb") as fh:
                    z.writestr(info, fh.read())


def _compile(jars, classpath, files, jar):
    comp = [os.path.join(jars, n) for n in os.listdir(jars)
            if n.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    classes = jar[:-4] + "-classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log = jar[:-4] + ".log"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(comp), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", classes] + files
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"compilation failed; log: {log}")
    _jar(classes, jar)
    shutil.rmtree(classes)


def build(root):
    """Compile what changed; return (runtime classpath, build stamp)."""
    main = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main")
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    jars = spark_jars()
    out = out_dir(root)
    os.makedirs(out, exist_ok=True)
    main_jar, bench_jar = os.path.join(out, "main.jar"), os.path.join(out, "bench.jar")
    spark_cp = os.path.join(jars, "*")
    stamp = ""
    for files, jar, cp in ((main, main_jar, spark_cp), (bench, bench_jar, f"{main_jar}:{spark_cp}")):
        stamp = _digest(files, stamp)
        stamp_file = jar + ".stamp"
        if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        _compile(jars, cp, files, jar)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return f"{bench_jar}:{main_jar}:{spark_cp}", stamp


if __name__ == "__main__":
    print(build(os.getcwd())[0])
