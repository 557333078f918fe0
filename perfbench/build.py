"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the harness (`perfbench/harness/src`) with the Scala
compiler that ships among the Spark jars, packs classes and resources
into one jar keyed by a hash of every source file. An unchanged tree is
never rebuilt.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SOURCES = ["src/main/scala", "perfbench/harness/src"]
RESOURCES = "src/main/resources"


def spark_jars(root):
    """The Spark jar directory the repository's own build.sbt names."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_files(root):
    files = []
    for d in SOURCES + [RESOURCES]:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build(root, log=sys.stderr):
    """Compile and pack if needed; returns the harness classpath."""
    for d in SOURCES:
        if not os.path.isdir(os.path.join(root, d)):
            raise SystemExit(f"build: missing {d} (run from the repository root)")
    jars = spark_jars(root)
    files = source_files(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    jar = out + ".jar"
    if not os.path.exists(jar):
        _compile(root, jars, files, out, log)
        stage = f"{jar}.stage{os.getpid()}"
        with zipfile.ZipFile(stage, "w", zipfile.ZIP_STORED) as z:
            for base in (out, os.path.join(root, RESOURCES)):
                for dirpath, _, names in os.walk(base):
                    for n in sorted(names):
                        if n != "_OK" and n != "sources.txt":
                            f = os.path.join(dirpath, n)
                            z.write(f, os.path.relpath(f, base))
        os.replace(stage, jar)
        shutil.rmtree(out, ignore_errors=True)
        # builds of earlier trees are never used again
        for old in glob.glob(os.path.join(build_dir(root), "classes-*")):
            if not old.startswith(out) and not os.path.isdir(old):
                os.remove(old)
    return os.pathsep.join([jar, os.path.join(jars, "*")])


def _compile(root, jars, files, out, log):
    if not os.path.exists(os.path.join(out, "_OK")):
        stage = f"{out}.stage{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        scala = [f for f in files if f.endswith(".scala")]
        argfile = os.path.join(stage, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(scala))
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", stage, "-classpath", cp, "@" + argfile]
        print(f"build: compiling {len(scala)} Scala files", file=log, flush=True)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            shutil.rmtree(stage, ignore_errors=True)
            raise SystemExit("build: scalac failed\n" + r.stdout[-4000:])
        open(os.path.join(stage, "_OK"), "w").close()
        try:
            os.rename(stage, out)
        except OSError:  # a concurrent build published first
            shutil.rmtree(stage, ignore_errors=True)


# Matches the module options build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classpath, run_dir, heap):
    """The harness command line. Only the heap's maximum is set, so
    resident memory follows what the run uses. Compiler threads never
    exit, so the harness can read the JIT's CPU time off them."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + [f"-Xmx{heap}", "-Xss8m", "-XX:-UseDynamicNumberOfCompilerThreads",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={run_dir}/tmp",
                  f"-Dderby.system.home={run_dir}/derby",
                  f"-Dderby.stream.error.file={run_dir}/derby.log",
                  "-cp", classpath, "perfbench.Harness", os.path.join(run_dir, "plan.json")]


if __name__ == "__main__":
    print(build(os.getcwd()))
