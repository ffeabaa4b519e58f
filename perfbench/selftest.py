#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

Runs one warm run with three injected faults and checks that none
can hide:
  - a query whose function throws is counted as failed on both check
    passes and on every timed pass, and never enters a latency sample;
  - a query that returns one extra row fails both output checks;
  - a query that returns one extra row only when its session reuses
    its shared model, as on every timed warm pass, passes the check
    that fills the session and fails the one after the timed passes.

Usage: python3 perfbench/selftest.py     (from the repository root)
Exit code 0 when every check holds.
"""
import json
import subprocess
import sys

THROW, WRONG, WRONG_ON_REUSE = "q_window_running", "q_agg_pricing", "q_sim_ivf"


def main():
    cmd = [sys.executable, "perfbench/run.py", "--workload", "warm", "--seed", "7",
           "--seconds", "1", "--trace", "0", "--inject-throw", THROW, "--inject-wrong", WRONG,
           "--inject-wrong-on-reuse", WRONG_ON_REUSE]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=300)
    lines = r.stdout.strip().splitlines()
    problems = []
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"selftest: run failed (exit {r.returncode})")
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    details = info["details"]
    passes = details["passes"]
    failed_checks = {(c["when"], c["query"]) for c in details["failed_checks"]}
    want_checks = {("before", THROW), ("before", WRONG),
                   ("after", THROW), ("after", WRONG), ("after", WRONG_ON_REUSE)}
    failed_execs = [e["query"] for e in details["failed_executions"]]

    def expect(cond, what):
        if not cond:
            problems.append(what)

    expect(result["correct"] is False, "an injected fault left correct = true")
    expect(failed_checks == want_checks, f"failed checks {sorted(failed_checks)}")
    expect(failed_execs == [THROW] * passes, f"failed executions {failed_execs}")
    want_failed = len(want_checks) + passes
    expect(result["failed"] == want_failed, f"failed = {result['failed']}, want {want_failed}")
    expect(len(details["latency_s"].get(THROW, [])) == 0,
           "the throwing query entered the latency samples")
    expect(len(details["latency_s"].get(WRONG, [])) == passes,
           "the wrong-output query is missing timed samples")
    ok_ratio = result["metrics"]["ok_ratio"]["value"]
    want = 1 - result["failed"] / result["attempted"]
    expect(abs(ok_ratio - want) < 1e-12 and ok_ratio < 1, f"ok_ratio {ok_ratio}, want {want}")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
