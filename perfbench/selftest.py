"""Self-test of the benchmark's output checks: each injected fault must
fail the run, and dedup_batch's counts must equal graft.DedupJob's.

    python3 perfbench/selftest.py      # from the repository root

Each case runs the benchmark once (--seconds 1); the whole test takes a
few minutes. Exits 1 when any case does not behave as expected.
"""
import json
import subprocess
import sys

sys.dont_write_bytecode = True
import run  # noqa: E402

# (workload, fault): the run must exit non-zero and report correct=false
FAULTS = [
    ("dedup_batch", "dropped_pair"),
    ("prefix_joins", "dropped_pair"),
    ("ingest_incremental", "dropped_pair"),
    ("cc_graph", "wrong_label"),
    ("cc_graph", "perturbed_fingerprint"),
]
SEED = 7


def bench(workload: str, fault: str) -> tuple:
    proc = subprocess.run(
        [sys.executable, run.__file__, "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", "0", "--inject", fault],
        stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result


def main() -> int:
    ok = True
    for workload, fault in FAULTS:
        code, result = bench(workload, fault)
        caught = code != 0 and result is not None and result["correct"] is False
        print(f"selftest: {workload} with {fault}: exit {code}, "
              f"correct={None if result is None else result['correct']} -> "
              f"{'caught' if caught else 'NOT CAUGHT'}")
        ok &= caught
    code = run.run_jvm("graft.perfbench.DedupJobParity", ["--seed", str(SEED)])
    print(f"selftest: dedup_batch vs graft.DedupJob counts: {'equal' if code == 0 else 'DIFFER'}")
    ok &= code == 0
    print("selftest: OK" if ok else "selftest: FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
