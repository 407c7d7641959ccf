"""Build file of the benchmark.

    python3 perfbench/build.py [out_dir]

Compiles the engine (src/main/scala) and the harness (perfbench/src)
with the Scala compiler that ships in Spark's jar directory (no sbt, no
network), packs the classes into one jar, and records a class-data
sharing archive of a short training run (the harness self-test), so each
benchmark JVM maps the Spark and engine classes instead of parsing them
again. Everything lands in `<out_dir>/build-<source hash>/`; a build is
skipped when that directory is complete.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine or not harness:
        raise SystemExit("perfbench: engine or harness sources missing")
    return engine + harness


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def java(out_dir, jar, archive, main_args, cds_flag="-XX:SharedArchiveFile"):
    """The harness JVM command line (local Spark needs the add-opens that
    spark-submit would otherwise inject)."""
    cmd = ["java", "-XX:-UsePerfData", "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    if archive:
        cmd.append(f"{cds_flag}={archive}")
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{jar}{os.pathsep}{os.path.join(spark_jars(), '*')}", "perfbench.Main"]
    return cmd + main_args


def build(out_dir, train_data):
    """Returns (jar, archive or None). `train_data` is a small input
    directory for the training run."""
    files = sources()
    d = os.path.join(out_dir, f"build-{source_hash(files)}")
    jar = os.path.join(d, "perfbench.jar")
    archive = os.path.join(d, "app.jsa")
    if os.path.exists(os.path.join(d, ".ok")):
        return jar, (archive if os.path.exists(archive) else None)
    for old in glob.glob(os.path.join(out_dir, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(d, "classes")
    os.makedirs(classes)
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    with open(os.path.join(d, "scalac.args"), "w") as f:
        f.write("\n".join(files) + "\n")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", jars, "-d", classes,
                        "@" + os.path.join(d, "scalac.args")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dp, _, fns in sorted(os.walk(classes)):
            for fn in sorted(fns):
                p = os.path.join(dp, fn)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    work = os.path.join(out_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(d, "train.log"), "w") as log:
        r = subprocess.run(java(out_dir, jar, archive, ["--selftest", "1", "--data", train_data,
                                                        "--work", work],
                                cds_flag="-XX:ArchiveClassesAtExit"),
                           cwd=work, stdout=log, stderr=subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write("perfbench: no class-data archive; JVMs start without one\n")
    open(os.path.join(d, ".ok"), "w").close()
    return jar, (archive if os.path.exists(archive) else None)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    import gen
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    data = os.path.join(out, "data", "train")
    if not os.path.exists(os.path.join(data, "events.parquet")):
        gen.generate(data, 0.001, 42)
    print(build(out, data))
