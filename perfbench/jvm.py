"""Launch JVMs under test with a pinned environment and read their CPU and
peak RSS from the OS (wait4 rusage)."""
import ctypes
import os
import re
import signal
import subprocess
import time

# A JVM is killed only when it runs this long past the run's --seconds: ten
# times the slowest pass seen (~45 s on 4 cores, a cli_reference pass), so a
# slower program still finishes and reads as a slower number.
GRACE_S = 600
PR_SET_PDEATHSIG = 1
_libc = ctypes.CDLL(None, use_errno=True)

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 heap rule: half of RAM in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as fh:
        kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
    return f"{min(max(kb // 2097152, 2), 8)}g"


class Env:
    """Everything a JVM under test is launched with, stamped into results."""

    def __init__(self, work, cp):
        self.work = work
        self.cp = cp
        self.local_dir = os.path.join(work, "spark-local")
        self.tmp = os.path.join(work, "tmp")
        for d in (self.local_dir, self.tmp):
            os.makedirs(d, exist_ok=True)
        self.cpus = cpus()
        self.heap = heap()

    def stamp(self):
        jars = os.path.dirname(self.cp.split(os.pathsep)[-1])
        core = [f for f in os.listdir(jars) if f.startswith("spark-core_")]
        spark = re.sub(r"spark-core_[\d.]+-(.*)\.jar", r"\1", core[0]) if core else "?"
        jdk = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr
        return {"master": f"local[{self.cpus}]", "cpus": self.cpus, "heap": self.heap,
                "shuffle_partitions": self.cpus, "spark_local_dir": self.local_dir,
                "spark": spark, "jdk": jdk.splitlines()[0] if jdk else "?"}

    def command(self, main, args):
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        return (["java"] + opens +
                ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 f"-Dspark.local.dir={self.local_dir}", f"-Djava.io.tmpdir={self.tmp}",
                 f"-Xmx{self.heap}", "-cp", self.cp, main] + list(args))

    def run(self, args, log, seconds, stage_dir=None):
        """Run `perfbench.Main args` to completion, or kill it once it has run
        `seconds + GRACE_S`. Returns (exit code, or None if it was killed
        for time; cpu s; peak RSS MB) of the process, from wait4."""
        env = dict(os.environ)
        env.update(SPARK_GRAFT_CPUS=str(self.cpus), SPARK_LOCAL_DIRS=self.local_dir,
                   SPARK_GRAFT_STAGE_DIR=stage_dir or os.path.join(self.work, "stage"))
        env["PERFBENCH_LAUNCH_NS"] = str(time.time_ns())
        with open(log, "ab") as fh:
            p = subprocess.Popen(self.command("perfbench.Main", args), env=env,
                                 stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                 preexec_fn=die_with_parent)
            deadline = time.monotonic() + seconds + GRACE_S
            timed_out = False
            while True:
                pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    break
                if time.monotonic() > deadline:
                    timed_out = True
                    p.kill()
                    pid, status, ru = os.wait4(p.pid, 0)
                    break
                time.sleep(0.005)
            p.returncode = os.waitstatus_to_exitcode(status)
        rc = None if timed_out else p.returncode
        return rc, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0


def die_with_parent():
    """In the child before exec: have the kernel kill it if the benchmark
    process dies first (PR_SET_PDEATHSIG), so no JVM outlives a run."""
    _libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL)
