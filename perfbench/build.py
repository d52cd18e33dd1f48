#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

The program under test is compiled from its own sources
(`src/main/scala`, `src/main/resources`) with the Scala compiler that
ships in the Spark distribution (`$SPARK_HOME/jars`), then the harness
(`perfbench/src`) is compiled against it; each is packed into a jar.
Last, one training run of every workload records the classes they load
into a class-data-sharing archive, so each benchmark JVM maps them
instead of loading them from some 290 jars. Outputs go to
`.bench_build/perfbench/` at the root of the checkout and are reused
while the sources are unchanged (a content-hash stamp per step).

    python3 perfbench/build.py          # build, print the classpath
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
ARCHIVE = os.path.join(OUT, "classes.jsa")

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def spark_home():
    """$SPARK_HOME, else the first Spark distribution on PATH (a `bin`
    holding `spark-submit` beside a `jars` directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def spark_jars():
    jdir = os.path.join(spark_home(), "jars")
    if not os.path.isdir(jdir):
        raise BuildError(f"no Spark distribution jars at {jdir} (set SPARK_HOME)")
    return sorted(os.path.join(jdir, j) for j in os.listdir(jdir) if j.endswith(".jar"))


def sources(root, ext=".scala"):
    if not os.path.isdir(root):
        raise BuildError(f"source directory missing: {os.path.relpath(root, ROOT)}")
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    if not out:
        raise BuildError(f"no {ext} sources under {os.path.relpath(root, ROOT)}")
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def current(mark, key):
    return os.path.exists(mark) and open(mark).read() == key


def scalac(srcs, classpath, dest):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", os.pathsep.join(classpath), "-d", dest, "@" + args_file]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-20000:])
        raise BuildError(f"scalac failed for {os.path.relpath(dest, ROOT)}")


def pack(src_dir, jar):
    """Jar `src_dir` with sorted entries and fixed timestamps."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(src_dir):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                info = zipfile.ZipInfo(os.path.relpath(p, src_dir), (1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(p, "rb") as fh:
                    z.writestr(info, fh.read())
    os.replace(tmp, jar)


def stage(name, srcs, classpath, resources=None, upstream=""):
    """Compile `srcs` into OUT/name.jar unless its stamp is current;
    returns (jar, stamp). `upstream` folds an earlier stage's stamp in."""
    dest = os.path.join(OUT, name)
    jar = dest + ".jar"
    mark = dest + ".stamp"
    key = stamp(srcs, "|".join(classpath) + upstream)
    if current(mark, key) and os.path.exists(jar):
        return jar, key
    sys.stderr.write(f"[perfbench] compiling {name} ({len(srcs)} files)\n")
    scalac(srcs, classpath, dest)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, dest, dirs_exist_ok=True)
    pack(dest, jar)
    shutil.rmtree(dest)
    with open(mark, "w") as fh:
        fh.write(key)
    return jar, key


# ---- launching the harness JVM ---------------------------------------

def postgres_can_enter(path):
    """True when the `postgres` user can traverse to `path`."""
    try:
        return subprocess.run(["runuser", "-u", "postgres", "--", "test", "-x", path],
                              stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0
    except OSError:
        return False


def temp_dir():
    """JVM temp dir, and whether the caller must remove it. The throwaway
    PostgreSQL keeps its data directory there and runs as `postgres`, so
    the dir must be reachable by that user: inside the checkout when it
    is, else a private system temp dir."""
    local = os.path.join(OUT, "tmp")
    os.makedirs(local, exist_ok=True)
    if postgres_can_enter(local):
        return local, False
    d = tempfile.mkdtemp(prefix="perfbench-")
    os.chmod(d, 0o755)
    return d, True


def stop_leftover_postgres(tmp):
    """Stop any server a killed JVM left behind, and remove its files."""
    ctl = sorted(glob.glob("/usr/lib/postgresql/*/bin/pg_ctl"))
    for pid_file in glob.glob(os.path.join(tmp, "graft-pgwire*", "data", "postmaster.pid")):
        data = os.path.dirname(pid_file)
        if ctl:
            subprocess.run(["runuser", "-u", "postgres", "--", ctl[-1], "-D", data, "-m",
                            "immediate", "stop"], stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL)
        shutil.rmtree(os.path.dirname(data), ignore_errors=True)


def java_command(cp, tmp, archive_flag):
    """`java ...` up to, not including, the main class."""
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m",
             "-Xlog:disable", "-Xlog:all=warning:stderr", archive_flag,
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.callstack.depth=80",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(cp)])


def java_env():
    cores = str(os.cpu_count() or 1)
    return dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_IP="127.0.0.1",
                SPARK_LOCAL_HOSTNAME="localhost")


def run_jvm(cp, archive_flag, main_args, timeout, capture=True):
    """Run the harness JVM with a temp dir reachable by `postgres`;
    always stops servers it left behind. Returns the CompletedProcess."""
    tmp, own = temp_dir()
    try:
        return subprocess.run(java_command(cp, tmp, archive_flag) + main_args, cwd=ROOT,
                              env=java_env(), timeout=timeout, text=True,
                              stdout=subprocess.PIPE if capture else None,
                              stderr=subprocess.PIPE if capture else None,
                              start_new_session=True)
    finally:
        stop_leftover_postgres(tmp)
        if own:
            shutil.rmtree(tmp, ignore_errors=True)


def archive(cp, key):
    """Class-data archive of one training run of every workload."""
    mark = ARCHIVE + ".stamp"
    if current(mark, key) and os.path.exists(ARCHIVE):
        return
    sys.stderr.write("[perfbench] training run for the class-data archive\n")
    for f in (ARCHIVE, mark):
        if os.path.exists(f):
            os.remove(f)
    p = run_jvm(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                ["graft.perfbench.Main", "--root", ROOT, "--train", "1"], timeout=600)
    if p.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write((p.stderr or "")[-6000:])
        raise BuildError("training run failed")
    with open(mark, "w") as fh:
        fh.write(key)


def build():
    """Compile what changed and refresh the archive; returns the runtime
    classpath (list)."""
    jars = spark_jars()
    main_srcs = sources(MAIN_SRC)
    bench_srcs = sources(BENCH_SRC)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main, key = stage("main-classes", main_srcs, jars, MAIN_RES)
        bench, key = stage("bench-classes", bench_srcs, [main] + jars, upstream=key)
        cp = [bench, main] + jars
        archive(cp, key)
    return cp


def archive_flag():
    return f"-XX:SharedArchiveFile={ARCHIVE}"


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        sys.exit(2)
