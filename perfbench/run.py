"""Dedup-engine benchmark: builds the engine and the benchmark from
source, then runs one workload in one JVM on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: dedup_batch, prefix_joins, ingest_incremental, cc_graph
(see perfbench/README.md). Run it from the repository root. The last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics; the exit code is 1 when an output check
fails. Spans of a traced run go to .bench_out/spans/.
"""
import argparse
import os
import pathlib
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

TIMEOUT_S = 170


def spark_jvms() -> list:
    """Pids of live JVMs with Spark on their class path: two Spark JVMs on
    one host inflate each other's timings several-fold."""
    found = []
    for proc in pathlib.Path("/proc").iterdir():
        if not proc.name.isdigit() or int(proc.name) == os.getpid():
            continue
        try:
            argv = (proc / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(b"spark" in a.lower() for a in argv[1:]):
            found.append(int(proc.name))
    return found


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["dedup_batch", "prefix_joins", "ingest_incremental", "cc_graph"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--inject", choices=["dropped_pair", "wrong_label", "perturbed_fingerprint"],
                   help="fault injected into the output before the checks (self-test)")
    a = p.parse_args()

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace] + (["--inject", a.inject] if a.inject else [])
    return run_jvm("graft.perfbench.Main", args)


def run_jvm(main_class: str, args: list) -> int:
    """Builds if needed, then runs `main_class` in a fresh JVM; returns
    its exit code."""
    busy = spark_jvms()
    if busy:
        print(f"perfbench: refusing to start, Spark JVMs alive: {busy}", file=sys.stderr)
        return 2
    jar, archive = build.build()
    proc = subprocess.Popen(build.java_command(
        jar, main_class, args, [f"-XX:SharedArchiveFile={archive}"] if archive else []))
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s, killed", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
