#!/usr/bin/env python3
"""Bench regression pin — fail loudly when a model-family query's
median moves >1.5x above its committed pin (r12 verdict directive:
the DSIR family regressed ~2x and nothing tripped; this is the trip
wire).

Usage:
    python3 tools/bench_pin.py [BENCH_full_latest.json] [BENCH_PIN.json]

Reads the full per-query dump that graft.Bench always writes (plus
its sibling .spread.json) and compares every pinned query against
BENCH_PIN.json:

  * model_* queries: >1.5x the pin is a CANDIDATE failure. Before
    exiting 1 the tool AUTO-ESCALATES to a clean re-measure
    (graft.BenchOne warmup + min-of-two over exactly the failing
    queries) and
    only a re-measure still over the ratio fails. Rationale (r13
    verdict "What's wrong #1"): the spread test alone cannot tell
    sustained ambient load from a plan regression — a uniformly
    loaded box slows every sample by the same factor, producing a
    high median with a LOW spread, exactly the signature the old
    spread-only check read as "real regression". The r13 driver dump
    failed model_lm_chargram_by_lang 9.53s vs pin 5.67 (spread 0.26,
    "clean") while a clean box measured 5.18s — UNDER the pin.
  * a query whose own 3-sample spread exceeds 0.6 is one-shot
    contention (NOISY) — also re-measured, same escalation.
  * every other pinned query: >1.5x prints a WARNING only — the
    hard gate is scoped to the model family the directive names;
    widen by editing HARD_PREFIXES once other families earn a pin.

--no-remeasure restores the old behavior (candidate failures exit 1
immediately) for contexts without sbt. BENCH_PIN_TIMEQ_CMD overrides
the re-measure command (the selftest injects a scripted BenchOne); it
receives the failing query names and the rep count 2 as arguments,
SPARK_GRAFT_SF_DIR in its environment, and must print BenchOne's
JSON lines (`{"query": <name>, ..., "min": <seconds>, ...}`).

Adjudication history lives next to the pin in
BENCH_PIN_ADJUDICATIONS.md — refresh the pin only for an ACCEPTED
move (new operator cost, verified environment shift) with:
    python3 tools/bench_pin.py --refresh BENCH_full_latest.json
which rewrites BENCH_PIN.json from the dump, keeping the pin a
deliberate, committed act rather than a silent drift.
"""
import json
import os
import subprocess
import sys

HARD_PREFIXES = ("model_",)
RATIO = 1.5
NOISE_SPREAD = 0.6
DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def load(path):
    with open(path) as f:
        return json.load(f)


def remeasure(names, sf_dir):
    """Clean re-measure of `names` via graft.BenchOne with 2 reps
    (warmup + min-of-two per query). Returns {name: seconds} for
    every BenchOne line found; an empty dict (command failed /
    nothing parsed) leaves the candidate failures standing — the
    escalation can only DOWNGRADE with actual evidence."""
    override = os.environ.get("BENCH_PIN_TIMEQ_CMD")
    if override:
        cmd = override.split() + names + ["2"]
    else:
        cmd = ["sbt", "-batch",
               "runMain graft.BenchOne " + " ".join(names + ["2"])]
    print(f"escalating {len(names)} candidate failure(s) to a clean "
          f"re-measure: {' '.join(cmd[:3])} ...")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    try:
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=1800, env=env).stdout
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"re-measure failed to run ({e}); candidates stand")
        return {}
    got = {}
    for line in out.splitlines():
        if line.startswith('{"query"'):
            r = json.loads(line)
            got[r["query"]] = float(r["min"])
    if not got:
        print("re-measure produced no BenchOne lines; candidates stand")
    return got


def main(argv):
    if argv and argv[0] == "--refresh":
        dump = argv[1] if len(argv) > 1 else "BENCH_full_latest.json"
        pin_path = argv[2] if len(argv) > 2 else "BENCH_PIN.json"
        data = load(dump)
        with open(pin_path, "w") as f:
            json.dump(dict(sorted(data.items())), f,
                      separators=(",\n ", ": "))
        print(f"pinned {len(data)} queries from {dump} -> {pin_path}")
        return 0

    no_remeasure = False
    if argv and argv[0] == "--no-remeasure":
        no_remeasure = True
        argv = argv[1:]
    dump = argv[0] if argv else "BENCH_full_latest.json"
    pin_path = argv[1] if len(argv) > 1 else "BENCH_PIN.json"
    cur = load(dump)
    pin = load(pin_path)
    try:
        spread = load(dump.removesuffix(".json") + ".spread.json")
    except OSError:
        spread = {}

    candidates, warnings, noisy = [], [], []
    for name, ref in sorted(pin.items()):
        now = cur.get(name)
        if now is None:
            # a pinned query vanished from the dump — that is itself
            # a loud failure (renames must refresh the pin); absent
            # queries cannot be re-measured, so exit 1 unconditionally
            candidates.append((name, None, ref,
                               f"{name}: pinned but absent from {dump}"))
            continue
        if ref <= 0 or now <= RATIO * ref:
            continue
        line = (f"{name}: {now:.3f}s vs pin {ref:.3f}s "
                f"({now / ref:.2f}x, spread {spread.get(name, -1):.2f})")
        if name.startswith(HARD_PREFIXES):
            if spread.get(name, 0.0) > NOISE_SPREAD:
                noisy.append((name, now, ref, line))
            else:
                candidates.append((name, now, ref, line))
        else:
            warnings.append(line)

    for w in warnings:
        print(f"WARN  {w}")

    failures, adjudicated = [], []
    to_measure = [(n, now, ref, line) for n, now, ref, line in
                  candidates + noisy if now is not None]
    absent = [line for n, now, ref, line in candidates if now is None]
    failures.extend(absent)
    if to_measure and no_remeasure:
        # old behavior: clean-spread candidates fail, noisy ones warn
        for n, now, ref, line in to_measure:
            if spread.get(n, 0.0) > NOISE_SPREAD:
                print(f"NOISY {line} — over pin but spread marks "
                      "contention; re-measure (BenchOne) before accepting")
            else:
                failures.append(line)
    elif to_measure:
        clean = remeasure([n for n, _, _, _ in to_measure],
                          os.environ.get("SPARK_GRAFT_SF_DIR",
                                         DEFAULT_SF_DIR))
        for n, now, ref, line in to_measure:
            re_t = clean.get(n)
            if re_t is not None and re_t <= RATIO * ref:
                adjudicated.append(
                    f"{line} — clean re-measure {re_t:.3f}s is within "
                    f"{RATIO}x pin: ambient load, not a regression")
            elif re_t is not None:
                failures.append(
                    f"{line} — clean re-measure {re_t:.3f}s CONFIRMS "
                    f"({re_t / ref:.2f}x pin)")
            else:
                failures.append(f"{line} — re-measure unavailable")

    for a in adjudicated:
        print(f"CLEAR {a}")
    for f_ in failures:
        print(f"FAIL  {f_}")
    ok = not failures
    print(f"== bench pin: {len(pin)} pinned, {len(failures)} fail, "
          f"{len(adjudicated)} cleared-by-remeasure, "
          f"{len(warnings)} warn")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
