"""Build file of the benchmark: compiles the program and the benchmark's
own Scala sources with the Scala compiler that ships among the Spark
jars the repository's build.sbt names (`unmanagedBase`), so no build
tool or network access is needed.

    python3 perfbench/build.py          # from the repository root

Outputs go to `.bench_build/` under the repository root:
  program-classes/  every file of src/main/scala
  bench-classes/    perfbench/scala/*.scala, compiled against the above
Each step is skipped when a digest of its inputs matches the stamp it
left last time. A missing src/main/scala fails the build.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildFailure(RuntimeError):
    pass


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_classpath():
    """The jars under build.sbt's `unmanagedBase` (Spark and Scala)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        raise BuildFailure("build.sbt names no unmanagedBase jar directory")
    jars = sorted(glob.glob(os.path.join(base, "*.jar")))
    if not jars:
        raise BuildFailure(f"no jars under {base}")
    return jars


def scalac(srcs, out, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(spark_classpath()),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildFailure(f"scalac failed for {out}:\n{r.stdout[-4000:]}")


def step(name, srcs, classpath, extra=""):
    if not srcs:
        raise BuildFailure(f"{name}: no sources")
    out = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    d = digest(srcs, extra)
    if os.path.exists(stamp) and open(stamp).read() == d and os.path.isdir(out):
        return out, d
    if os.path.exists(stamp):
        os.remove(stamp)
    subprocess.run(["rm", "-rf", out], check=True)
    scalac(srcs, out, classpath)
    with open(stamp, "w") as f:
        f.write(d)
    return out, d


def build():
    """Compile both steps; return (runtime classpath, program source digest)."""
    prog_dir = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog_dir):
        raise BuildFailure(f"program sources not found at {prog_dir}")
    prog, prog_digest = step("program-classes", sources(prog_dir), [])
    bench, _ = step("bench-classes", sources(os.path.join(HERE, "scala")), [prog],
                    extra=prog_digest)
    return [bench, prog] + spark_classpath(), prog_digest


if __name__ == "__main__":
    try:
        cp, d = build()
    except BuildFailure as e:
        print(e, file=sys.stderr)
        sys.exit(1)
    print(f"built; program source digest {d[:16]}")
