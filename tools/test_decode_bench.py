#!/usr/bin/env python3
"""Self-test for decode_bench.py — the decoder is load-bearing (every
round's adjudication starts from it), so its format matrix is pinned
here: the r18 compact line (cpu/spk/rpt/errt), the r16-r17 compact
line (probes pairs), the pre-r16 named tail, the full-precision
target/bench.json shape (with and without its `counters` object), offset reconstruction (incl. errored-wall
conservation and post-suite tagging), wall-conserving totals, and the
repeat labels. Run: python3 tools/test_decode_bench.py (exit 0 = pass).

Uses only stdlib + the repo's own committed BENCH_r16/r17 artifacts as
the legacy fixtures — if a future format change breaks decoding of any
committed round, this fails before an adjudication does.
"""
import io
import json
import os
import sys
import tempfile
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import decode_bench  # noqa: E402

FAILURES = []


def check(name, cond, detail=""):
    if cond:
        print(f"PASS {name}")
    else:
        FAILURES.append(name)
        print(f"FAIL {name}  {detail}")


def write_round(tmp, tail, names):
    bp = os.path.join(tmp, "bench.json")
    cp = os.path.join(tmp, "corr.json")
    json.dump({"tail": tail}, open(bp, "w"))
    json.dump({n: {} for n in names}, open(cp, "w"))
    return bp, cp


def r18_round(tmp, n=100, err_idx=None, err_wall_ticks=9000):
    names = sorted(f"f{i % 3}_q{i:03d}" for i in range(n))
    t = [50] * n
    extra = {}
    errors = {}
    if err_idx is not None:
        t[err_idx] = -1
        extra["errt"] = [err_idx, err_wall_ticks]
        errors[names[err_idx]] = "boom"
    line = json.dumps({
        "metric": "qtimes", "value": round(sum(v for v in t if v >= 0) / 100, 3),
        "unit": "sec", "t_unit": "cs", "order": "name", "n": n, "t": t,
        # the real emitter appends one post-repeat probe, so a real
        # artifact always has n_inloop+2 entries — the fixture must
        # exercise that branch (4 entries for n=100: in-loop 0,50 /
        # end-of-suite / post-suite)
        "cpu": [54, 60, 61, 52], "spk": [224, 88, 79],
        "rpt": [3, 333, (err_idx if err_idx is not None else 5),
                (-1 if err_idx is not None else 555)],
        **extra, "errors": errors, "sf": "/sf"}, separators=(",", ":"))
    head = ('{"metric":"total","value":49.5,"unit":"sec",'
            '"calib_cpu_sec":0.5,"ann_build_sec":10.0,'
            '"fixtures_build_sec":25.0,"repeats_sec":4.0,"sf":"/sf"}')
    return write_round(tmp, head + "\n" + line + "\n[success]\n", names), names


def main():
    tmp = tempfile.mkdtemp(prefix="graft-decode-test-")

    # --- r18 compact format, clean run ---
    (bp, cp), names = r18_round(tmp)
    r = decode_bench.load_round(bp, cp)
    check("r18: times decode positionally",
          abs(r["times"][names[0]] - 0.50) < 1e-9 and r["n"] == 100)
    check("r18: spk brackets decode", r["spk"] == [2.24, 0.88, 0.79])
    check("r18: repeats decode via sorted-name idx",
          abs(r["repeats"][names[3]] - 3.33) < 1e-9)
    check("r18: headline calib generic *_sec fields (fixtures, repeats)",
          r["calib"].get("fixtures_build_sec") == 25.0 and
          r["calib"].get("repeats_sec") == 4.0)
    # probe offsets: in-loop k=0,1 (before q0, q50), end-of-suite at
    # the full cumsum, then the post-repeat entry offset by repeats_sec
    # and tagged (post-suite) — the branch every real artifact hits
    check("r18: probe offsets reconstruct from cumsum",
          abs(r["probes"][1][0] - 25.0) < 1e-9 and
          abs(r["probes"][2][0] - 50.0) < 1e-9 and r["post_from"] == 3)
    check("r18: post-suite probe offset adds repeats_sec and is tagged",
          abs(r["probes"][3][0] - 54.0) < 1e-9 and len(r["probes"]) == 4,
          f"got {r['probes'][3]}")
    out = io.StringIO()
    with redirect_stdout(out):
        decode_bench._show_calib(r)
    check("r18: (post-suite) tag printed on the post-repeat entry only",
          out.getvalue().count("(post-suite)") == 1 and
          "@   54.0s  calib_cpu 0.52s  (post-suite)" in out.getvalue(),
          out.getvalue()[-200:])
    check("r18: wall-conserving total adds builds+repeats back",
          abs(decode_bench._wall_total(r) -
              (float(r["total"]) + 10.0 + 25.0 + 4.0)) < 1e-6)

    # --- r18 with an errored query: errt conserves the wall ---
    (bp, cp), names = r18_round(tmp, err_idx=10)
    r = decode_bench.load_round(bp, cp)
    check("r18-err: errored time rides as -1", r["times"][names[10]] == -1.0)
    check("r18-err: errored repeat decodes as -1 (repeat-errored)",
          r["repeats"][names[10]] == -1.0)
    # probe 1 precedes q50: 49 passing x 0.5 + 90.0 errored wall
    check("r18-err: errt conserved in offset reconstruction",
          abs(r["probes"][1][0] - (49 * 0.5 + 90.0)) < 1e-9,
          f"got {r['probes'][1][0]}")
    # the headline total filters t<0, so the wall-conserving total
    # must add the errored elapsed back (plus builds+repeats) — else
    # an errored round's cross-round wall comparison reads low by
    # exactly the seconds the failure consumed
    check("r18-err: wall-conserving total adds errored elapsed back",
          abs(decode_bench._wall_total(r) -
              (float(r["total"]) + 10.0 + 25.0 + 4.0 + 90.0)) < 1e-6,
          f"got {decode_bench._wall_total(r)}")

    # --- committed legacy artifacts must keep decoding; their ABSENCE
    # is itself a failure (a vacuous pass here is exactly the format
    # regression this test exists to catch) ---
    for rnd in ("r16", "r17"):
        b = os.path.join(REPO, f"BENCH_{rnd}.json")
        c = os.path.join(REPO, f"CORRECTNESS_{rnd}.json")
        if not (os.path.exists(b) and os.path.exists(c)):
            check(f"legacy {rnd}: fixture artifacts present", False,
                  f"missing {b} or {c} — update this test if they moved")
            continue
        rr = decode_bench.load_round(b, c)
        check(f"legacy {rnd}: decodes with full coverage",
              rr["n"] == len(rr["times"]) and rr["n"] > 300 and
              rr["probes"], f"n={rr['n']}")

    # --- full-precision target/bench.json shape (named map) ---
    fp = os.path.join(tmp, "full.json")
    json.dump({"metric": "total", "value": 12.5, "unit": "sec",
               "calib_cpu_sec": 0.5, "repeats_sec": 2.0,
               "queries": {"a_q": 10.0, "b_q": 2.5, "c_q": -1},
               "offsets": {"a_q": 0.0, "b_q": 10.2},
               "probes": [[0.0, 0.5]], "repeats": {"a_q": 9.0},
               "errors": {"c_q": "boom"}, "err_wall": {"c_q": 33.0},
               "sf": "/sf"}, open(fp, "w"))
    r = decode_bench.load_round(fp, cp)
    check("full-precision: named map + repeats decode",
          r["times"]["a_q"] == 10.0 and r["repeats"]["a_q"] == 9.0)
    # the full-precision artifact conserves errored wall like the
    # compact line's errt — both artifacts of one run must agree
    check("full-precision: err_wall reaches the wall-conserving total",
          abs(decode_bench._wall_total(r) - (12.5 + 2.0 + 33.0)) < 1e-6,
          f"got {decode_bench._wall_total(r)}")

    # a target/bench.json that carries per-query work counters decodes
    # to the same times and calib as one without: the counters sit in
    # one nested object, never as top-level *_sec keys
    full = json.load(open(fp))
    full["counters"] = {
        "a_q": {"jobs": 3, "stages": 5, "tasks": 20,
                "shuffle_read_bytes": 100, "shuffle_write_bytes": 100,
                "input_records": 7, "spill_bytes": 0, "batches": 2,
                "duration_ms": {"addBatch": 40, "triggerExecution": 90}},
        "b_q": {"jobs": 1, "stages": 1, "tasks": 4,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "input_records": 7, "spill_bytes": 0, "batches": 0}}
    fcp = os.path.join(tmp, "full_counters.json")
    json.dump(full, open(fcp, "w"))
    rc = decode_bench.load_round(fcp, cp)
    check("full-precision: counters change neither times nor calib",
          rc["times"] == r["times"] and rc["calib"] == r["calib"] and
          rc["repeats"] == r["repeats"],
          f"times {rc['times']} calib {rc['calib']}")

    # --- show_vs repeat labels ---
    (bp, cp), names = r18_round(tmp)
    cur = decode_bench.load_round(bp, cp)
    prev = decode_bench.load_round(bp, cp)
    # make one query regress x3 in cur, with a repeat that stays low
    # (first-sample-only) and another with a confirming repeat
    cur["times"][names[3]] = 1.5
    cur["repeats"][names[3]] = 0.5       # prev 0.5 -> first-sample-only
    cur["times"][names[7]] = 1.5
    cur["repeats"][names[7]] = 1.4       # -> repeat-confirmed
    out = io.StringIO()
    with redirect_stdout(out):
        decode_bench.show_vs(cur, prev)
    text = out.getvalue()
    check("--vs: first-sample-only label",
          f"{names[3]}  repeat 0.50s [first-sample-only]" in text)
    check("--vs: repeat-confirmed label",
          f"{names[7]}  repeat 1.40s [repeat-confirmed]" in text)
    check("--vs: wall-conserving line present", "wall-conserving" in text)

    print(f"\n{len(FAILURES)} failures")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
