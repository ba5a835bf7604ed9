#!/usr/bin/env python3
"""Self-test for scaling_canary.py's flags.

Synthetic fixtures drive the one-decade (`report`) and many-decade
(`trend`) tables through every flag: super-linear fail, the bounded
mitigated flag (within / beyond the measured envelope), a missing
control, the at-the-line annotation, the rising rule (flags unannotated
doubling, passes adjudicated doubling, ignores small-ratio amortization
noise under RISING_FLOOR), the asymptotic envelope, failed or missing
queries, the solo-JVM merge, and the recorded negative control.

Run: python3 tools/test_scaling_canary.py   (prints OK, exit 0)
"""
import contextlib
import io
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scaling_canary  # noqa: E402

Q52 = "q52_dedup_clusters"
Q105 = "q105_dedup_clusters_capped"


def mk(d, name, times):
    p = os.path.join(d, name)
    with open(p, "w") as f:
        f.write(json.dumps({"metric": "pass_times",
                            "queries": {q: [t] for q, t in times.items()}}) + "\n")
        f.write(json.dumps({"metric": "calib_ms", "before": 220,
                            "after": 220}) + "\n")
    return p


def run(argv):
    """(exit_code, stdout) of the scaling_canary command line."""
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            scaling_canary.main(argv)
        return 0, out.getvalue()
    except SystemExit as e:
        return 1 if e.code else 0, out.getvalue() + str(e.code)


def run_trend(paths):
    return run(["trend"] + paths)


def run_report(a, b, *labels):
    return run(["report", a, b, *labels])


def main():
    checks = []

    def check(name, cond, detail=""):
        checks.append((name, cond))
        status = "ok " if cond else "FAIL"
        print(f"  {status} {name}" + ("" if cond else f" — {detail}"))

    with tempfile.TemporaryDirectory() as d:
        # Fixture decades: base times 1.0; per-decade multipliers applied.
        def chain(name, series):
            """series: {query: [t_sf0, t_sf1, t_sf2]} → 3 fixture files."""
            return [mk(d, f"{name}{i}.json",
                       {q: ts[i] for q, ts in series.items()})
                    for i in range(3)]

        filler = [8.0, 40.0, 200.0]  # steady 5x/decade — never flags

        # 1. MITIGATED within envelope: q52 at 12x with linear control.
        rc, out = run_trend(chain("a", {
            Q52: [1.0, 9.0, 108.0], Q105: [1.0, 7.0, 49.0],
            "q00_filler": filler}))
        check("mitigated within envelope passes", rc == 0 and "mitigated" in out, out)

        # 2. Beyond envelope (30x) fails even with a linear control.
        rc, out = run_trend(chain("b", {
            Q52: [1.0, 9.0, 270.0], Q105: [1.0, 7.0, 49.0],
            "q00_filler": filler}))
        check("beyond envelope fails", rc == 1 and "SUPER-LINEAR" in out, out)

        # 3. Control missing from a later run: clean fail, no traceback.
        files = chain("c", {Q52: [1.0, 9.0, 108.0], "q00_filler": filler})
        # rewrite the LAST file without the control
        mk(d, "c2.json", {Q52: 108.0, "q00_filler": 200.0})
        rc, out = run_trend(files)
        check("missing control fails cleanly", rc == 1, out)

        # 4. At-the-line annotated row passes; unannotated fails.
        rc, out = run_trend(chain("d", {
            "q95_corpus_prep_ledger": [1.0, 9.0, 85.0],  # last decade 9.44
            "q00_filler": filler}))
        check("annotated at-the-line passes", rc == 0 and "expected" in out, out)
        rc, out = run_trend(chain("e", {
            "q00_unannotated": [1.0, 9.0, 85.0], "q01_filler": filler}))
        check("unannotated at-the-line fails as DRIFT", rc == 1 and "DRIFT" in out, out)

        # 5. RISING: unannotated doubling to a material ratio fails...
        rc, out = run_trend(chain("f", {
            "q00_riser": [1.0, 2.5, 17.5],  # ratios 2.5 -> 7.0 (2.8x growth)
            "q01_filler": filler}))
        check("unannotated rising flags", rc == 1 and "RISING" in out, out)
        # ...an adjudicated riser passes (q73 carries an annotation)...
        assert "q73_shark_delivery" in scaling_canary.RISING_EXPECTED
        rc, out = run_trend(chain("g", {
            "q73_shark_delivery": [1.0, 2.5, 17.5], "q01_filler": filler}))
        check("adjudicated rising passes", rc == 0 and "adjudicated" in out, out)
        # ...and small-ratio amortization noise stays silent (growth 3x
        # but final ratio 3.0 < RISING_FLOOR).
        rc, out = run_trend(chain("h", {
            "q00_smallamortizer": [10.0, 10.0, 30.0],  # ratios 1.0 -> 3.0
            "q01_filler": filler}))
        check("sub-floor rising stays silent", rc == 0 and "RISING" not in out, out)

        # 5b. Bounded asymptotic envelope: a >10 reading inside
        # SUPERLINEAR_EXPECTED's bound passes with the
        # "expected (asymptotic)" tag; beyond the bound it fails.
        assert "q73_shark_delivery" in scaling_canary.SUPERLINEAR_EXPECTED
        rc, out = run_trend(chain("i", {
            "q73_shark_delivery": [1.0, 8.0, 144.0],  # last decade 18 <= 20
            "q01_filler": filler}))
        check("asymptotic within bound passes",
              rc == 0 and "asymptotic" in out, out)
        rc, out = run_trend(chain("j", {
            "q73_shark_delivery": [1.0, 8.0, 176.0],  # last decade 22 > 20
            "q01_filler": filler}))
        check("asymptotic beyond bound fails",
              rc == 1 and "SUPER-LINEAR" in out, out)

        # 6. one-decade table: bounded demotion both ways.
        a = mk(d, "r0.json", {Q52: 9.0, Q105: 7.0})
        b_in = mk(d, "r1.json", {Q52: 108.0, Q105: 49.0})
        b_out = mk(d, "r2.json", {Q52: 270.0, Q105: 49.0})
        rc, out = run_report(a, b_in)
        check("report demotes within envelope", rc == 0 and "mitigated" in out, out)
        rc, out = run_report(a, b_out)
        check("report fails beyond envelope", "SUPER-LINEAR" in out, out)
        a2 = mk(d, "r3.json", {"q73_shark_delivery": 10.0})
        b2 = mk(d, "r4.json", {"q73_shark_delivery": 150.0})  # 15 <= 20
        rc, out = run_report(a2, b2)
        check("report honors asymptotic envelope",
              rc == 0 and "asymptotic" in out, out)

        # 7. A query that FAILS at the deeper SF must surface as a
        # scaling failure, not silently drop from the tables.
        a3 = mk(d, "m0.json", {"q00_dies": 5.0, "q01_filler": 8.0})
        b3 = mk(d, "m1.json", {"q01_filler": 40.0})  # q00_dies absent
        rc, out = run_report(a3, b3)
        check("report flags a query missing at the big SF",
              "SUPER-LINEAR" in out and "q00_dies" in out, out)
        rc, out = run_trend([a3,
                             mk(d, "m2.json", {"q00_dies": 25.0,
                                               "q01_filler": 40.0}),
                             mk(d, "m3.json", {"q01_filler": 200.0})])
        check("trend fails on a query missing at the deepest SF",
              rc == 1 and "failed or missing" in out, out)
        # a solo leg's RECORDED failure (pass_times present, query
        # listed in `failed`) flags identically
        pf = os.path.join(d, "m4.json")
        with open(pf, "w") as f:
            f.write(json.dumps({"metric": "pass_times",
                                "queries": {"q01_filler": [40.0]},
                                "failed": ["q00_dies"]}) + "\n")
        rc, out = run_report(a3, pf)
        check("report flags a recorded-failed query",
              "SUPER-LINEAR" in out and "q00_dies" in out, out)

        # 7b. No shared names at all (every query failed/missing on one
        # side): the SUPER-LINEAR rows are the verdict — no misleading
        # "no query names shared" abort — and absent cells print '-'.
        a4 = mk(d, "n0.json", {"q00_dies": 5.0})
        b4 = mk(d, "n1.json", {"q01_other": 40.0})
        rc, out = run_report(a4, b4)
        check("disjoint runs adjudicate as SUPER-LINEAR, no abort",
              "SUPER-LINEAR" in out and "| - |" in out
              and "no query names" not in out, out)

        # 8. run_bench_solo records a dying per-query JVM in `failed`
        # (monkeypatched run_bench: one query succeeds, one dies before
        # writing any contract line).

        def fake_run_bench(sf_dir, only, out_path, passes=None,
                           extra_env=None):
            if only == "q00_dies":
                with open(out_path, "w"):
                    pass  # bench opened its file, JVM died before output
                raise SystemExit("bench failed (fake)")
            # full-style key (prefix + suffix), like the real Bench's
            # pass_times: a short-name fake would mask a prefix-vs-full-
            # name mismatch in run_bench_solo's failed-list test
            with open(out_path, "w") as f:
                f.write(json.dumps({"metric": "pass_times",
                                    "queries": {only + "_full": [1.5]}}) + "\n")

        orig = scaling_canary.run_bench
        scaling_canary.run_bench = fake_run_bench
        try:
            merged_path = os.path.join(d, "solo.json")
            with contextlib.redirect_stdout(io.StringIO()):
                scaling_canary.run_bench_solo(
                    "/nonexistent", "q01_filler,q00_dies", merged_path)
        finally:
            scaling_canary.run_bench = orig
        with open(merged_path) as f:
            solo = json.loads(f.readline())
        check("run_bench_solo records the dead query",
              solo.get("failed") == ["q00_dies"]
              and "q01_filler_full" in solo["queries"], str(solo))

        # 9. The recorded negative control (BENCH_SCALING.md, "Negative
        # control"): with scaledK broken to a constant, one decade read
        # q45 0.68 -> 4.86 s and q91 1.18 -> 17.52 s. q91 must flag and
        # the command must fail.
        rc, out = run_report(
            mk(d, "neg0.json", {"q45_embedding_neardup": 0.68,
                                "q91_semdedup": 1.18}),
            mk(d, "neg1.json", {"q45_embedding_neardup": 4.86,
                                "q91_semdedup": 17.52}),
            "sf0.1", "sf1")
        check("negative control: q91 flags SUPER-LINEAR and the tool fails",
              rc == 1 and "| q91_semdedup | 1.180 | 17.520 | 14.85 | SUPER-LINEAR |" in out
              and "super-linear queries: ['q91_semdedup']" in out, out)

    bad = [n for n, c in checks if not c]
    if bad:
        raise SystemExit(f"SELF-TEST FAILED: {bad}")
    print(f"OK — {len(checks)} checks")


if __name__ == "__main__":
    main()
