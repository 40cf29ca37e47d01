"""Builds the library and the benchmark's JVM program from source with the
Scala compiler that ships in the Spark distribution (``$SPARK_HOME/jars``;
without ``SPARK_HOME``, the installation whose ``spark-submit`` is on the
PATH). No network and no build-tool caches: everything is written under
``.bench_build/`` in the checkout.

    python3 cdcbench/build.py        # prints the runtime classpath

A build is reused while the sources it was made from are unchanged.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars/` of the first `spark-submit` on
    the PATH that has one; the Scala compiler must be among them."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(sources, classpath, out_dir, stamp, resources=None):
    stamp_file = out_dir + ".stamp"
    if os.path.isdir(out_dir) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-cp", classpath, "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build: compiling %d sources into %s failed" % (len(sources), out_dir))
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(root):
    """Compiles the library (src/main) and the JVM program; returns the
    runtime classpath."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main_src:
        raise SystemExit("build: no library sources under %s/src/main/scala" % root)
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    main_cls = os.path.join(out, "main-classes")
    resources = os.path.join(root, "src/main/resources")
    res_files = glob.glob(os.path.join(resources, "**/*"), recursive=True)
    main_stamp = _digest(main_src + [f for f in res_files if os.path.isfile(f)])
    _compile(main_src, jars, main_cls, main_stamp, resources)
    bench_cls = os.path.join(out, "bench-classes")
    _compile(bench_src, jars + os.pathsep + main_cls, bench_cls, _digest(bench_src, main_stamp))
    return os.pathsep.join([bench_cls, main_cls, jars])


if __name__ == "__main__":
    print(build(os.getcwd()))
