"""Build graft and the benchmark harness from source, without sbt.

The program (`src/main/scala`, `src/main/resources`) and the harness
(`perfbench/harness/src`) are compiled with the Scala compiler that ships
in the Spark jars directory named by the project's build.sbt
(`unmanagedBase`), or `$SPARK_HOME/jars` when SPARK_HOME is set. Outputs
go to `<work>/build`, keyed by a hash of every source file, so an
unchanged checkout builds once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import zipfile

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
        jars = m.group(1)
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        raise BuildError(f"no jars under {jars}")
    return found


def _sources(root, sub, suffix=None):
    base = os.path.join(root, sub)
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if suffix is None or f.endswith(suffix)]
    return sorted(out)


def _digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out_dir, sources, log):
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala compiler, library and reflect jars not found")
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", out_dir] + sources
    with open(log, "a") as f:
        if subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode != 0:
            raise BuildError(f"scalac failed, see {log}")


def _jar(path, trees):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for tree in trees:
            for d, _, files in sorted(os.walk(tree)):
                for f in sorted(files):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, tree))


def build(root, work):
    """Compile graft and the harness; return the runtime classpath list."""
    scala = _sources(root, "src/main/scala", ".scala")
    if not scala:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    resources = os.path.join(root, "src/main/resources")
    harness = _sources(root, "perfbench/harness/src", ".scala")
    jars = spark_jars(root)
    out = os.path.join(work, "build")
    stamp = os.path.join(out, "STAMP")
    digest = _digest(scala + _sources(root, "src/main/resources") + harness, root)
    graft_jar, harness_jar = os.path.join(out, "graft.jar"), os.path.join(out, "harness.jar")
    classpath = [harness_jar, graft_jar] + jars
    try:
        with open(stamp) as f:
            if f.read() == digest:
                return classpath
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "build.log")
    _scalac(jars, jars, os.path.join(out, "graft"), scala, log)
    _jar(graft_jar, [os.path.join(out, "graft"), resources])
    _scalac(jars, [graft_jar] + jars, os.path.join(out, "harness"), harness, log)
    _jar(harness_jar, [os.path.join(out, "harness")])
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


def java_command(classpath, main, args, heap="3g", tmp=None, archive=None,
                 create_archive=False, log_config=None):
    """The harness JVM command line: jars only, so class-data sharing works."""
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if archive:
        cmd.append(("-XX:ArchiveClassesAtExit=" if create_archive
                    else "-XX:SharedArchiveFile=") + archive)
    if tmp:
        cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                f"-Dderby.system.home={tmp}"]
    if log_config:
        cmd.append(f"-Dlog4j2.configurationFile={log_config}")
    return cmd + ["-cp", ":".join(classpath), main] + list(args)
