"""Build file of the benchmark package.

Compiles graft's sources (`src/main/scala`, resources copied alongside)
and the benchmark harness (`perfbench/harness`) with the Scala compiler
that ships among the project's Spark jars, against those jars. The
repository's own sbt build is left alone. Output goes to the build
directory (CARGO_TARGET_DIR if set, else `.bench_build`); a stamp of the
source contents skips the rebuild when nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars(root):
    """The directory build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("cannot find the Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _stamp(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, cp, out, sources, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")


def build(root, build_dir):
    """Compile if stale; return the classpath to run the harness with."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src) or not os.path.exists(os.path.join(root, "build.sbt")):
        raise BuildError(f"no graft sources under {root} (build.sbt, src/main/scala)")
    jars = spark_jars(root)
    build_dir = os.path.abspath(build_dir)
    here = os.path.dirname(os.path.abspath(__file__))
    prog = _files(main_src, ".scala")
    res_dir = os.path.join(root, "src", "main", "resources")
    res = _files(res_dir, "") if os.path.isdir(res_dir) else []
    harness = _files(os.path.join(here, "harness"), ".scala")
    classes = os.path.join(build_dir, "classes")
    hclasses = os.path.join(build_dir, "harness")
    cp = [hclasses, classes, os.path.join(jars, "*")]
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = _stamp(prog + res + harness + [os.path.abspath(__file__)], root) + ":" + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.pathsep.join(cp)
    for d in (classes, hclasses):
        shutil.rmtree(d, ignore_errors=True)
    log = os.path.join(build_dir, "build.log")
    os.makedirs(build_dir, exist_ok=True)
    open(log, "w").close()
    _scalac(jars, os.path.join(jars, "*"), classes, prog, log)
    if res:
        shutil.copytree(res_dir, classes, dirs_exist_ok=True)
    _scalac(jars, os.pathsep.join([classes, os.path.join(jars, "*")]), hclasses, harness, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
