"""Build file of the benchmark: compiles the program's main sources and
the benchmark harness (`perfbench/scala`) with the Scala compiler that
ships among Spark's jars, into `.bench_build/classes-<digest>`.

The digest covers every source compiled, so a checkout builds once and
later runs reuse the classes. Run it alone with `python3 perfbench/build.py`.

One path in the program is rewritten in the compiled copy, never in the
checkout: `EntrySupport.tmpDir` hard-codes the fixture store as an
absolute path ending in `/qtmp`, which lies outside any other checkout.
The copy puts the store at `.bench_build/qtmp` of the checkout being
measured (see README.md, "Fixture store").
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
QTMP = os.path.join(BUILD, "qtmp")
# an absolute fixture-store path in a string literal of EntrySupport.scala
QTMP_LITERAL = re.compile(r'(?<=")/[^"$]*?/qtmp(?=[/"])')


def spark_jars():
    """The jar directory the program's own build compiles against:
    `unmanagedBase` in build.sbt, else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "*.scala")))
    return prog + harness


def build():
    """Returns the classes directory, compiling first if needed."""
    texts = []
    digest = hashlib.sha256()
    for path in sources():
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            text = f.read()
        if path.endswith("/EntrySupport.scala"):
            text = QTMP_LITERAL.sub(QTMP, text)
        texts.append((rel, text))
        digest.update(rel.encode() + b"\0" + text.encode() + b"\0")
    key = digest.hexdigest()[:16]
    classes = os.path.join(BUILD, f"classes-{key}")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    src = os.path.join(BUILD, "src")
    for d in glob.glob(os.path.join(BUILD, "classes-*")) + [src]:
        shutil.rmtree(d, ignore_errors=True)
    files = []
    for rel, text in texts:
        out = os.path.join(src, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w", encoding="utf-8") as f:
            f.write(text)
        files.append(out)
    os.makedirs(classes)
    jars = spark_jars()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*"] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compilation failed (exit {proc.returncode})")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
