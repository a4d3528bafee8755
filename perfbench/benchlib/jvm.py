"""Building the program from source and launching JVMs inside the checkout.

The program is built by its own sbt build, as a source dependency of the
harness project in `perfbench/harness`, in one sbt call. The runtime
classpath sbt reports is cached in `.bench_build/` beside a stamp of the
sources it was built from; a later run with the same sources skips the build.
"""

import atexit
import hashlib
import os
import signal
import subprocess
import sys
import time

HARNESS = os.path.join("perfbench", "harness")
STATE = ".bench_build"
MAX_HEAP = "2g"           # a cap only; the heap grows as the program needs

# What spark-submit passes to a JDK 17 JVM (JavaModuleOptions in Spark).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    return len(os.sched_getaffinity(0))


def require_program():
    """Exit non-zero unless the checkout holds the program's build and sources."""
    needed = ["build.sbt", os.path.join("src", "main", "scala", "graft", "Main.scala"),
              os.path.join(HARNESS, "build.sbt")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        sys.stderr.write("perfbench: not a graft checkout, missing %s\n" % ", ".join(missing))
        sys.exit(2)


def _source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project", os.path.join("src", "main"), HARNESS]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(root)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def classpath(log):
    """Build if the sources changed since the last build; return the classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = _source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-3000:])
        raise RuntimeError("build failed (see %s)" % log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main, args, props=None):
    """The command line of a JVM running `main` on local[nproc]."""
    tmp = os.path.abspath(os.path.join(STATE, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + MAX_HEAP]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # every directory the JVM may write to stays inside the checkout
    base = {
        "spark.master": "local[%d]" % nproc(),
        "spark.ui.enabled": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "java.io.tmpdir": tmp,
        "derby.system.home": tmp,
    }
    base.update(props or {})
    cmd += ["-D%s=%s" % kv for kv in sorted(base.items())]
    return cmd + ["-cp", cp, main] + list(args)


_running = set()


@atexit.register
def _kill_running():
    for j in list(_running):
        j.stop(grace=0)


class Jvm:
    """A child JVM in its own process group, logging to the state directory.
    Any JVM still running when the benchmark exits is killed and reaped."""

    def __init__(self, cmd, log):
        self.log = open(log, "w")
        self.started = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=self.log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
        _running.add(self)

    def peak_rss_mb(self):
        """VmHWM of the JVM so far, in MB (None once it has exited)."""
        try:
            with open("/proc/%d/status" % self.proc.pid) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            return None
        return None

    def stop(self, grace=30.0):
        """SIGTERM (the program's graceful shutdown), then SIGKILL after
        `grace` seconds; with grace 0, SIGKILL at once."""
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM if grace > 0 else signal.SIGKILL)
                self.proc.wait(grace if grace > 0 else None)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
            except ProcessLookupError:
                self.proc.wait()
        self.log.close()
        _running.discard(self)
        return self.proc.returncode
