"""Building the program and the benchmark package, and running JVMs.

Everything the benchmark writes goes under `.bench_build/perfbench` in the
checkout (sbt's own `target/` directories aside).
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Spark 4 on JDK 17 outside spark-submit needs these (the program's build
# passes the same set to its forked runs).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

PROGRAM_FILES = ["build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


class BenchError(Exception):
    pass


def _stamp():
    h = hashlib.sha256()
    for rel in PROGRAM_FILES:
        p = os.path.join(ROOT, rel)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for q in paths:
            h.update(os.path.relpath(q, ROOT).encode())
            with open(q, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark package once per source state;
    returns (program classpath, benchmark classpath)."""
    for rel in ("build.sbt", "src/main/scala/graft/engine/Cli.scala", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise BenchError("program source not found: %s (run from the repository root)" % rel)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            raise BenchError("%s not on PATH" % tool)
    os.makedirs(WORK, exist_ok=True)
    stamp = _stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cps = [os.path.join(HERE, "target", n) for n in ("program.classpath", "bench.classpath")]
    fresh = os.path.exists(stamp_file) and all(os.path.exists(c) for c in cps)
    if not fresh or open(stamp_file).read() != stamp:
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspaths"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise BenchError("build failed (sbt exit %d)" % rc)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return tuple(open(c).read().strip() for c in cps)


def java_cmd(classpath, main, args, heap, props=(), tmp=None, fixed_heap=False):
    """`fixed_heap` sets the initial heap to the maximum."""
    sizes = ["-Xms" + heap] * fixed_heap + ["-Xmx" + heap]
    return (["java", *ADD_OPENS, *sizes, "-Djava.io.tmpdir=" + tmp, *props,
             "-cp", classpath, main, *args])


def java_env(tmp, **extra):
    """The caller's environment with Spark's scratch space moved into `tmp`."""
    return dict(os.environ, SPARK_LOCAL_DIRS=tmp, **extra)


def peak_rss_mb(pid):
    with open("/proc/%d/status" % pid) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError("no VmHWM for pid %d" % pid)


def read_chars(pid):
    with open("/proc/%d/io" % pid) as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


class Proc:
    """A JVM whose stdout lines are collected, each with its arrival time
    (perf_counter seconds), by a reader thread."""

    def __init__(self, cmd, cwd, env, log_path, stdin=subprocess.DEVNULL):
        os.makedirs(cwd, exist_ok=True)
        self.log = open(log_path, "wb")
        self.t_launch = time.perf_counter()
        self.p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                  stderr=self.log, stdin=stdin)
        self.lines = []  # (t, str)
        self.cond = threading.Condition()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for raw in self.p.stdout:
            t = time.perf_counter()
            with self.cond:
                self.lines.append((t, raw.rstrip(b"\n").decode("utf-8", "replace")))
                self.cond.notify_all()
        with self.cond:
            self.cond.notify_all()

    def wait_for(self, pred, timeout):
        """Blocks until pred(lines) holds, the process ends or time runs out."""
        deadline = time.perf_counter() + timeout
        with self.cond:
            while not pred(self.lines):
                left = deadline - time.perf_counter()
                if left <= 0 or (self.p.poll() is not None and not self.reader.is_alive()):
                    return pred(self.lines)
                self.cond.wait(min(left, 0.05))
        return True

    def stop(self, graceful=True, grace=30):
        """SIGTERM (the CLI stops its query and runs its shutdown hooks), then
        SIGKILL; straight to SIGKILL when not graceful."""
        if self.p.poll() is None:
            self.p.send_signal(signal.SIGTERM if graceful else signal.SIGKILL)
            try:
                self.p.wait(grace)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        self.reader.join(10)
        self.log.close()
        return self.p.returncode

    def close_stdin_and_wait(self, grace=60):
        try:
            self.p.stdin.close()
            self.p.wait(grace)
        except subprocess.TimeoutExpired:
            pass
        return self.stop()
