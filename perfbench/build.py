#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with scalac (no sbt) into two jars under
`$CARGO_TARGET_DIR` or `.bench_build` in the checkout root, then runs every
workload once on small inputs in a JVM that writes a class-data-sharing
archive, so that benchmark JVMs load Spark's classes from it instead of
parsing them again in every run's set-up.

The build is stamped with a hash of every input source, so a checkout is
built once and a changed source tree is always rebuilt: the parent and the
change each measure their own code, never stale classes.

    python3 perfbench/build.py        # prints the classpath it built
"""
import glob
import hashlib
import signal
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TRAIN_TIMEOUT_S = 400
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars (Scala compiler included): the directory build.sbt names
    as `unmanagedBase`, else `$SPARK_HOME/jars`."""
    dirs = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError(f"no Spark and Scala compiler jars in {dirs or 'build.sbt or $SPARK_HOME'}")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    if not graft:
        raise BuildError("no graft sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/scala")
    resources = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"),
                                 recursive=True))
    return graft, harness, [r for r in resources if os.path.isfile(r)]


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def java_cmd(cp, work, flags=()):
    """The benchmark JVM: Spark's module opens, temp files in `work`."""
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                  "-cp", os.pathsep.join(cp), "perfbench.Main"]


def run_java(cmd, log_path, timeout):
    """Run a JVM in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))


def train(final, jars, log):
    """Write `final/app.jsa` from a run of every workload on small inputs;
    without it the benchmark still runs, only with a slower set-up."""
    import tables
    work = os.path.join(final, "train")
    tables.write(0, os.path.join(work, "tables"))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(jars, work, [f"-XX:ArchiveClassesAtExit={final}/app.jsa"]) + [
        "--workload", "train", "--seed", "0", "--work", work,
        "--out", os.path.join(work, "out.json"), "--tables", os.path.join(work, "tables")]
    code = run_java(cmd, os.path.join(final, "train.log"), TRAIN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(f"{final}/app.jsa"):
        log.write(f"[perfbench] class-data archive not written (exit {code}); "
                  "runs will load classes from the jars\n")
        if os.path.exists(f"{final}/app.jsa"):
            os.remove(f"{final}/app.jsa")


def scalac(srcs, out, classpath):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(classpath),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise BuildError(f"scalac failed on {len(srcs)} files")


def build(log=sys.stderr):
    """Build if the stamp differs; return (classpath, JVM flags, seconds)."""
    jars = spark_jars()
    graft, harness, resources = sources()
    key = stamp(graft + harness + resources + [os.path.abspath(__file__)], jars)
    out = build_dir()
    final = os.path.join(out, key[:16])
    cp = [os.path.join(final, "graft.jar"), os.path.join(final, "bench.jar")] + jars
    flags = []
    if os.path.exists(os.path.join(final, "STAMP")):
        if os.path.exists(os.path.join(final, "app.jsa")):
            flags.append(f"-XX:SharedArchiveFile={final}/app.jsa")
        return cp, flags, 0.0
    t0 = time.time()
    tmp = final + f".tmp{os.getpid()}"
    for d in (tmp, final):
        shutil.rmtree(d, ignore_errors=True)
    try:
        log.write(f"[perfbench] building {len(graft)} graft + {len(harness)} "
                  f"harness sources\n")
        scalac(graft, os.path.join(tmp, "graft"), jars)
        for r in resources:
            rel = os.path.relpath(r, os.path.join(ROOT, "src/main/resources"))
            dst = os.path.join(tmp, "graft", rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        scalac(harness, os.path.join(tmp, "bench"),
               [os.path.join(tmp, "graft")] + jars)
        for name in ("graft", "bench"):
            jar(os.path.join(tmp, name), os.path.join(tmp, name + ".jar"))
            shutil.rmtree(os.path.join(tmp, name))
        # the archive records the jar paths: train only at the final ones
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    train(final, cp, log)
    with open(os.path.join(final, "STAMP"), "w") as fh:
        fh.write(key + "\n")
    # keep only this build: old stamps are dead weight in the checkout
    for d in os.listdir(out):
        if d != key[:16]:
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    return build(log)[0:2] + (time.time() - t0,)


if __name__ == "__main__":
    try:
        cp, flags, secs = build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(cp[:2]), *flags, f"({secs:.1f} s)")
