"""Builds graft from source together with the benchmark harness.

graft's sources (src/main/scala) and the harness (perfbench/harness)
are compiled in one Scala compiler run against the jar directory that
build.sbt names as `unmanagedBase`, where Spark and the Scala compiler
and library of graft's `scalaVersion` ship. sbt is not used: its
launcher and dependency caches live in the user's home directory, and
a benchmark run reads only its checkout and that jar directory. Of
build.sbt, only those two settings are read (it sets no compiler
options today). The classes go to `<out>/classes`; a stamp of every source and of the
jar directory's listing makes later runs in the same checkout skip the
build. Run directly to build: `python3 perfbench/build.py`.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _setting(sbt, key):
    m = re.search(r'^\s*(?:ThisBuild\s*/\s*)?%s\s*:=\s*(?:file\()?"([^"]+)"' % key, sbt, re.M)
    if not m:
        raise RuntimeError("build.sbt sets no %s" % key)
    return m.group(1)


def _sources(root):
    files = glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for f in [os.path.join(root, "build.sbt")] + files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(("%s:%d" % (j, os.path.getsize(j))).encode())
    return h.hexdigest()


def build(root, out, log=sys.stderr):
    """Return (runtime classpath, whether it built). Builds only if the
    sources changed since the last build in `out`; concurrent runs in
    one checkout wait for each other's build."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = f.read()
    jar_dir = os.path.join(root, _setting(sbt, "unmanagedBase"))
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    version = _setting(sbt, "scalaVersion")
    if os.path.join(jar_dir, "scala-compiler-%s.jar" % version) not in jars:
        raise RuntimeError("no scala-compiler-%s.jar in %s" % (version, jar_dir))
    files = _sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes, resources] + jars)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "stamp")
        stamp = _stamp(root, files, jars)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return cp, False
        # the compiler's scratch files stay inside the checkout
        tmp = os.path.join(out, "tmp")
        fresh = classes + ".new"
        for d in (classes, fresh):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(fresh)
        args = os.path.join(out, "scalac.args")
        with open(args, "w") as f:
            f.write("".join('"%s"\n' % p for p in files))
        jar_cp = os.pathsep.join(jars)
        c = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-cp", jar_cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", fresh, "-classpath", jar_cp, "@" + args],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
        if c.returncode != 0:
            log.write(c.stdout[-4000:])
            raise RuntimeError("scalac failed (exit %d)" % c.returncode)
        os.rename(fresh, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp, True


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench"))[0])
