"""Builds graft and the benchmark harness from the sources in a checkout.

    python3 perfbench/build.py

graft is compiled by its own sbt build; the harness (perfbench/harness)
is then compiled against graft's runtime classpath with the Scala
compiler on that classpath. Outputs go to `.bench_build/`, with a stamp
holding a hash of every source file, so a later call with unchanged
sources returns at once. Prints the runtime classpath.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
HARNESS_SRC = os.path.join(HERE, "harness", "src")


class BuildError(Exception):
    pass


def _sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HARNESS_SRC):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")


def source_hash():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _run(cmd, log):
    with open(log, "w") as f:
        r = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BuildError(f"{cmd[0]} failed ({r.returncode}):\n{tail}")
    with open(log) as f:
        return f.read()


def build():
    """Returns the runtime classpath (graft, its jars, the harness)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise BuildError("no graft sources (build.sbt, src/main) in " + ROOT)
    os.makedirs(OUT, exist_ok=True)
    stamp = os.path.join(OUT, "stamp")
    cp_file = os.path.join(OUT, "classpath")
    want = source_hash()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    log = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                "compile", "export Runtime/fullClasspath"],
               os.path.join(OUT, "sbt.log"))
    lines = [l for l in log.splitlines() if l.count(os.pathsep) > 3 and not l.startswith("[")]
    if not lines:
        raise BuildError("sbt printed no classpath")
    graft_cp = lines[-1].strip()
    classes = os.path.join(OUT, "harness-classes")
    os.makedirs(classes, exist_ok=True)
    srcs = [p for p in _sources() if p.startswith(HARNESS_SRC) and p.endswith(".scala")]
    _run(["java", "-Xss8m", "-cp", graft_cp, "scala.tools.nsc.Main", "-deprecation",
          "-classpath", graft_cp, "-d", classes] + srcs,
         os.path.join(OUT, "scalac.log"))
    cp = classes + os.pathsep + graft_cp
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
