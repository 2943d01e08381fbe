"""The benchmark's build: compiles the program and the benchmark from source.

The program's sbt build (build.sbt at the root) compiles src/main/scala
against the Spark jars it names in `unmanagedBase`, with the Scala
version it names in `scalaVersion`. Those jars ship the Scala compiler
of that version, so this build runs that compiler directly over the
program's sources and the benchmark's (perfbench/src/main/scala) in one
pass, and copies the program's resources next to the classes. It needs
no build tool, no dependency resolution and no network, and writes only
under its output directory.
"""
import glob
import os
import re
import shutil
import subprocess

COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _setting(build_sbt, pattern, what):
    with open(build_sbt) as f:
        m = re.search(pattern, f.read())
    if not m:
        raise BuildError("cannot find %s in %s" % (what, build_sbt))
    return m.group(1)


def spark_jars(root):
    """The program's compile-time jars, sorted, checked to carry the
    program's Scala version."""
    build_sbt = os.path.join(root, "build.sbt")
    jars_dir = _setting(build_sbt, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "unmanagedBase")
    scala = _setting(build_sbt, r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    for lib in ("scala-compiler", "scala-library", "scala-reflect"):
        if os.path.join(jars_dir, "%s-%s.jar" % (lib, scala)) not in jars:
            raise BuildError("%s-%s.jar (the program's scalaVersion) not in %s"
                             % (lib, scala, jars_dir))
    return jars


def sources(root, here):
    """Every file the build reads, program and benchmark."""
    files = [os.path.join(root, "build.sbt"), os.path.abspath(__file__)]
    for top in (os.path.join(root, "src", "main"), os.path.join(here, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build(root, here, out, log):
    """Compile into `out` (replaced whole) and return the runtime
    classpath. The compiler's output goes to `log`."""
    jars = spark_jars(root)
    cp = ":".join(jars)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "javatmp"))
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    scala_files = [f for f in sources(root, here) if f.endswith(".scala")]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala_files) + "\n")
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + os.path.join(tmp, "javatmp"), "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    with open(log, "w") as out_log:
        try:
            p = subprocess.run(cmd, cwd=root, stdout=out_log, stderr=subprocess.STDOUT,
                               timeout=COMPILE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError("compile timed out after %d s" % COMPILE_TIMEOUT_S)
    if p.returncode != 0:
        raise BuildError("compiler exited with code %d" % p.returncode)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    shutil.rmtree(os.path.join(tmp, "javatmp"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return ":".join([os.path.join(out, "classes")] + jars)
