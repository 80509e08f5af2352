#!/usr/bin/env python3
"""Scripted test of bench_pin.py's escalation path (r13 verdict
directive #2): a doctored dump that is over pin with a CLEAN spread
— the sustained-ambient-load signature the old spread-only check
misread as a regression — must exit 0 when the injected clean
re-measure lands under pin, and exit 1 when the re-measure confirms.

Run: python3 tools/bench_pin_selftest.py   (exit 0 = all cases pass)
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PIN_TOOL = os.path.join(HERE, "bench_pin.py")

FAKE_BENCHONE = """\
import json, os, sys
# argv: <seconds> <query...> <reps> -> one BenchOne line per query
sec = float(sys.argv[1])
for name in sys.argv[2:-1]:
    print(json.dumps({"query": name, "reps": int(sys.argv[-1]),
                      "min": sec, "median": sec, "max": sec,
                      "sf": os.environ["SPARK_GRAFT_SF_DIR"]},
                     separators=(",", ":")))
"""


def run_case(tmp, dump, pin, spread, timeq_sec, extra_args=()):
    dp = os.path.join(tmp, "dump.json")
    pp = os.path.join(tmp, "pin.json")
    sp = os.path.join(tmp, "dump.spread.json")
    with open(dp, "w") as f:
        json.dump(dump, f)
    with open(pp, "w") as f:
        json.dump(pin, f)
    with open(sp, "w") as f:
        json.dump(spread, f)
    fake = os.path.join(tmp, "fake_benchone.py")
    with open(fake, "w") as f:
        f.write(FAKE_BENCHONE)
    env = dict(os.environ)
    if timeq_sec is not None:
        env["BENCH_PIN_TIMEQ_CMD"] = \
            f"{sys.executable} {fake} {timeq_sec}"
    r = subprocess.run(
        [sys.executable, PIN_TOOL, *extra_args, dp, pp],
        capture_output=True, text=True, env=env)
    return r.returncode, r.stdout


def main():
    failures = []

    def check(label, got, want, out):
        if got != want:
            failures.append(f"{label}: exit {got}, want {want}\n{out}")
        else:
            print(f"ok: {label}")

    with tempfile.TemporaryDirectory() as tmp:
        pin = {"model_x": 2.0, "q_other": 1.0}

        # 1. loaded box: 2x pin, clean spread, re-measure UNDER pin
        code, out = run_case(
            tmp, {"model_x": 4.0, "q_other": 1.0}, pin,
            {"model_x": 0.2}, timeq_sec=2.1)
        check("loaded-box dump clears via re-measure", code, 0, out)
        if "CLEAR" not in out:
            failures.append(f"expected CLEAR line, got:\n{out}")

        # 2. genuine regression: re-measure confirms over pin
        code, out = run_case(
            tmp, {"model_x": 4.0, "q_other": 1.0}, pin,
            {"model_x": 0.2}, timeq_sec=4.2)
        check("confirmed regression fails", code, 1, out)

        # 3. --no-remeasure restores the immediate-fail behavior
        code, out = run_case(
            tmp, {"model_x": 4.0, "q_other": 1.0}, pin,
            {"model_x": 0.2}, timeq_sec=2.1,
            extra_args=("--no-remeasure",))
        check("--no-remeasure fails without escalating", code, 1, out)

        # 4. noisy spread ALSO escalates; a confirming re-measure
        #    fails (the old tool could never fail a noisy query)
        code, out = run_case(
            tmp, {"model_x": 4.0, "q_other": 1.0}, pin,
            {"model_x": 0.9}, timeq_sec=4.2)
        check("noisy + confirming re-measure fails", code, 1, out)

        # 5. noisy + clearing re-measure passes
        code, out = run_case(
            tmp, {"model_x": 4.0, "q_other": 1.0}, pin,
            {"model_x": 0.9}, timeq_sec=1.9)
        check("noisy + clearing re-measure passes", code, 0, out)

        # 6. pinned-but-absent cannot be re-measured away
        code, out = run_case(
            tmp, {"q_other": 1.0}, pin, {}, timeq_sec=0.1)
        check("absent pinned query fails", code, 1, out)

        # 7. non-model movers stay warnings
        code, out = run_case(
            tmp, {"model_x": 2.0, "q_other": 9.0}, pin,
            {}, timeq_sec=None)
        check("non-model mover warns only", code, 0, out)
        if "WARN" not in out:
            failures.append(f"expected WARN line, got:\n{out}")

        # 8. within-pin dump touches no escalation at all
        code, out = run_case(
            tmp, {"model_x": 2.1, "q_other": 1.0}, pin,
            {}, timeq_sec=None)
        check("clean dump passes without re-measure", code, 0, out)

    if failures:
        print("\n".join(failures))
        return 1
    print("== bench_pin selftest: all cases pass")
    return 0


if __name__ == "__main__":
    sys.exit(main())
