"""graft benchmark: one workload, one seed, one measured JVM.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), generates the
seeded inputs in their own JVM (cached per seed, untimed), then runs
the measured JVM at local[$(nproc)] with the tier-1 heap formula. The
last stdout line is the result object; the full report (environment
stamp, repetition times and, with --trace 1, spans, stage totals and
SQL metrics) is written to .bench_build/results/.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("medallion_etl", "corpus_prep", "embedding_dedup")
DEADLINE_S = 175  # a run must end within 180 s once the build is done

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def nproc():
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    return int(subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                              check=True).stdout.strip())


def heap():
    """The tier-1 SPARK_DRIVER_MEM formula: half of RAM, clamped to [2g, 8g]."""
    g = 2
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(8, max(2, g))}g"


def run_java(cmd, log, timeout):
    """Run a JVM with stderr to `log`; return (exit code, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.terminate()  # lets the JVM's shutdown hooks clean up
            try:
                p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            raise SystemExit(f"perfbench: timed out after {timeout:.0f} s; see {log}")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    classes = build.build()
    t0 = time.monotonic()
    bb = build.BUILD
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.spark_jars()])
    java = ["java", f"-Djava.io.tmpdir={bb / 'tmp'}"]
    (bb / "tmp").mkdir(parents=True, exist_ok=True)
    (bb / "results").mkdir(parents=True, exist_ok=True)

    if a.selftest:
        r = subprocess.run(java + ["-Xmx256m", "-cp", cp, "perfbench.SelfTest"])
        sys.exit(r.returncode)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # inputs are cached per seed and per generator version
    gen_src = Path(__file__).resolve().parent / "src" / "perfbench" / "Gen.scala"
    data = bb / "data" / hashlib.sha256(gen_src.read_bytes()).hexdigest()[:12]
    code, out = run_java(java + ["-Xmx2g", "-cp", cp, "perfbench.Gen", a.workload,
                                 str(a.seed), str(data)],
                         bb / "results" / f"{tag}.gen.log", DEADLINE_S)
    if code != 0:
        raise SystemExit(f"perfbench: input generation failed; see {tag}.gen.log")
    hp = heap()
    cmd = (java + [f"-Xms{hp}", f"-Xmx{hp}", "-XX:+AlwaysPreTouch",
                   f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(nproc()),
              "--data", str(data / a.workload / f"seed-{a.seed}"),
              "--work", str(bb / "work" / a.workload),
              "--scratch", str(bb / "tmp"),
              "--out", str(bb / "results" / f"{tag}.json")])
    log = bb / "results" / f"{tag}.log"
    code, out = run_java(cmd, log, max(10.0, DEADLINE_S - (time.monotonic() - t0)))
    subprocess.run(["rm", "-rf", str(bb / "work" / a.workload)])
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
    for ln in lines:
        print(ln)
    sys.exit(code)


if __name__ == "__main__":
    main()
