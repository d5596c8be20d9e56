"""Build file of the benchmark: compiles graft's sources (``src/main``) and
the benchmark's JVM side (``perfbench/src``) with the Scala compiler that
ships among the Spark jars, so the build needs neither sbt nor a network,
and packages them as ``.perfbench/graft.jar``. A content stamp skips the
build when no source changed.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SCALA = "2.13.17"


def spark_jars_dir(root):
    """``$SPARK_JARS``, else the directory build.sbt compiles against
    (its ``unmanagedBase``)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_JARS: build.sbt names no unmanagedBase")
    return m.group(1)


def spark_classpath(jars_dir):
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jars_dir}")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"graft sources not found: {main} (run from the repository root)")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    return files


def build(root, out):
    """Build ``out/graft.jar`` unless the stamp matches. Returns the runtime
    classpath and the stamp (a digest of every source and resource)."""
    files = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    digest = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    stamp = digest.hexdigest()
    jar = os.path.join(out, "graft.jar")
    stamp_file = jar + ".stamp"
    jars_dir = spark_jars_dir(root)
    jars = spark_classpath(jars_dir)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        classes = os.path.join(out, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        compiler = [os.path.join(jars_dir, f"scala-{m}-{SCALA}.jar")
                    for m in ("compiler", "library", "reflect")]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", ":".join(jars)] + files
        log = os.path.join(out, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"build failed (rc={rc}); see {log}")
        if os.path.isdir(resources):
            shutil.copytree(resources, classes, dirs_exist_ok=True)
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, names in sorted(os.walk(classes)):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
        shutil.rmtree(classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return [jar] + jars, stamp


if __name__ == "__main__":
    root = os.getcwd()
    build(root, os.path.join(root, ".perfbench"))
    print("built", os.path.join(root, ".perfbench", "graft.jar"))
