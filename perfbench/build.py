"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the
benchmark (`perfbench/src/main/scala`) with the Scala compiler that ships
in Spark's `jars/` directory, so no dependency resolution (and no network)
is needed. Output goes under `.bench_build/` in the checkout, keyed by a
hash of the sources: an unchanged tree is not rebuilt.

    python3 perfbench/build.py          # build, print the run classpath
    python3 perfbench/build.py test     # build and run the benchmark's specs
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java_bin(name):
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / name if home else None
    if exe is not None and exe.exists():
        return str(exe)
    found = shutil.which(name)
    if not found:
        raise BuildError(f"{name} not found: set JAVA_HOME")
    return found


def _sources(dirs):
    out = []
    for d in dirs:
        if d.is_dir():
            out += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return out


def _stamp(root, files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:20]


def _compile(root, name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name>-<stamp>; reuse it if present."""
    out = root / BUILD_DIR / f"{name}-{_stamp(root, srcs, ':'.join(classpath))}"
    if (out / ".ok").exists():
        return out
    for stale in (root / BUILD_DIR).glob(f"{name}-*"):
        shutil.rmtree(stale, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out / ".sources"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    compiler = ":".join(str(jars / j) for j in (
        f.name for f in jars.glob("scala-*.jar")
        if f.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))))
    cp = ":".join(classpath + [str(jars / "*")])
    cmd = [java_bin("java"), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    run = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if run.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac failed for {name}:\n{run.stdout[-4000:]}")
    (out / ".ok").write_text("")
    return out


def ensure_built(root, with_tests=False):
    """Build what is missing and return the classpath entries to run with.
    Concurrent callers in one checkout wait for each other's build."""
    root = Path(root)
    if not (root / "src" / "main" / "scala").is_dir():
        raise BuildError(f"no program sources under {root / 'src' / 'main' / 'scala'}: "
                         "run from the root of a pdfbrainspark checkout")
    (root / BUILD_DIR).mkdir(exist_ok=True)
    with open(root / BUILD_DIR / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(root, with_tests)


def _build(root, with_tests):
    program = _sources([root / "src" / "main" / "scala"])
    if not program:
        raise BuildError(f"no program sources under {root / 'src' / 'main'}: "
                         "run from the root of a pdfbrainspark checkout")
    bench = _sources([root / "perfbench" / "src" / "main" / "scala"])
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src/main/scala")
    jars = spark_jars()
    main_out = _compile(root, "program", program, [], jars)
    bench_out = _compile(root, "bench", bench, [str(main_out)], jars)
    cp = [str(bench_out), str(main_out)]
    if with_tests:
        tests = _sources([root / "perfbench" / "src" / "test" / "scala"])
        cp = [str(_compile(root, "spec", tests, cp, jars))] + cp
    return cp + [str(jars / "*")]


def main(argv):
    root = Path.cwd()
    try:
        cp = ensure_built(root, with_tests=argv[1:2] == ["test"])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        return 2
    if argv[1:2] == ["test"]:
        return subprocess.run([java_bin("java"), "-XX:-UsePerfData", "-cp", ":".join(cp),
                               "perfbench.GenSpec"]).returncode
    print(":".join(cp))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
