"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) from source in one scalac run, into
.bench_build/classes-<key>. The key hashes every source file, so an
unchanged tree is compiled once. The Scala compiler and Spark come from the
jar directory that the repository's build.sbt names as `unmanagedBase`.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory declared by build.sbt's `unmanagedBase := file("...")`."""
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("no build.sbt: run from the root of a checkout")
    with open(path, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_key(root, files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(root, timeout):
    """Returns (classes_dir, key, compiled_now)."""
    jars = spark_jars(root)
    files = sources(root)
    key = source_key(root, files)
    out = os.path.join(root, OUT)
    dest = os.path.join(out, f"classes-{key}")
    if os.path.isfile(os.path.join(dest, ".done")):
        return dest, key, False
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, f"sources-{os.getpid()}.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    try:
        r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=timeout)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile did not finish within {timeout} s")
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    for old in os.listdir(out):
        if old.startswith("classes-") and old != os.path.basename(dest):
            shutil.rmtree(os.path.join(out, old), ignore_errors=True)
    return dest, key, True


if __name__ == "__main__":
    try:
        d, k, fresh = build(os.getcwd(), timeout=850)
    except BuildError as e:
        sys.exit(f"build: {e}")
    print(f"{'compiled' if fresh else 'up to date'}: {d}")
