"""Build file of the benchmark package.

Compiles the repository's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one jar, using the Scala compiler that
ships in Spark's jars, then records a class-data-sharing archive from a
short run of every workload kind so that each benchmark JVM starts without
re-loading Spark's classes from scratch. Nothing is downloaded. The build is
skipped when the jar was made from identical sources.

    python3 perfbench/build.py [build-dir]     # default: .bench_build
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise SystemExit(f"perfbench: no Scala sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def jvm(build_dir, *flags):
    """The command prefix that runs graftbench.Main from a build."""
    build_dir = Path(build_dir)
    # a fixed heap: how often the young generation is collected then does
    # not depend on how far the heap has grown, which steadies the tails
    cmd = [java(), "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([str(build_dir / "graftbench.jar"), str(spark_jars() / "*")])
    return cmd + ["-cp", cp, "graftbench.Main"]


def cds_flag(build_dir):
    jsa = Path(build_dir) / "graftbench.jsa"
    return [f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file() else []


def train_confs():
    """Small versions of the serving workload kinds for the archive's
    training run (the batch kind loads no classes they do not, bar its
    queries' own, and would double the build time)."""
    confs = json.loads((ROOT / "perfbench" / "workloads.json").read_text())["workloads"]
    small = {"docs": 2000, "rate": 10, "warm_requests": 10, "check_sample": 2}
    kinds = {}
    for c in confs.values():
        if c["kind"] != "batch":
            kinds.setdefault(c["kind"], dict(c, **small))
    return list(kinds.values())


def build(build_dir):
    """Compile, jar and record the class archive if needed; return the
    build directory."""
    build_dir = Path(build_dir)
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [Path(__file__).resolve()]:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = build_dir / "build.stamp"
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return build_dir
    classes = build_dir / "classes"
    for old in (stamp, build_dir / "graftbench.jar", build_dir / "graftbench.jsa"):
        old.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    argfile = build_dir / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(build_dir / "graftbench.jar", "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    work = build_dir / "train"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    train = jvm(build_dir, f"-XX:ArchiveClassesAtExit={build_dir / 'graftbench.jsa'}")
    r = subprocess.run(train + ["--train", json.dumps(train_confs()), "--work", str(work)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        # the archive only speeds start-up; runs work without it
        sys.stderr.write("perfbench: class archive not recorded\n" + r.stdout[-2000:])
        (build_dir / "graftbench.jsa").unlink(missing_ok=True)
    stamp.write_text(h.hexdigest())
    return build_dir


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))
