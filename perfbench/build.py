"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark's own Scala sources into one class
directory. The classpath and the Scala compiler come from the jar
directory the repository's sbt build compiles against (its
`unmanagedBase`), so no dependency is resolved and nothing is fetched.

    python3 perfbench/build.py          # from the repository root

The output goes to `.bench_build/`; a stamp of the source contents skips
the compile when nothing changed. Prints the runtime classpath.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not jars:
        sys.exit("perfbench: no jars in the unmanagedBase directory of build.sbt")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        sys.exit(f"perfbench: {main}/graft not found; run from the repository root")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(root, out):
    """Compile if needed; return the runtime classpath entries."""
    srcs = sources(root)
    jars = spark_jars(root)
    classes = os.path.join(out, "classes")
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = os.path.join(out, "classes.stamp")
    want = digest.hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        if os.path.isdir(classes):
            subprocess.run(["rm", "-rf", classes], check=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
               "-cp", ":".join(jars), "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", ":".join(jars), "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            sys.exit("perfbench: compile failed")
        with open(stamp, "w") as f:
            f.write(want)
    return [classes, os.path.join(root, "src", "main", "resources")] + jars


if __name__ == "__main__":
    root = os.getcwd()
    print(":".join(build(root, os.path.join(root, ".bench_build"))))
