#!/usr/bin/env python3
"""Cross-SF scaling canary: runs graft.Bench at consecutive scale
factors and judges every query's wall-time ratio per decade of data.

A fixed-cardinality regression (a block key whose cardinality does not
grow with the corpus makes pair work quadratic) shows as a ratio over
10 at 10x data; this catches it with a command:

  1. refuses to start while another JVM is running (every BENCH number
     depends on an exclusive session);
  2. generates the sf1 (sf10, sf100) dataset via gen_sf1.py when
     missing: fact tables replicated with shifted keys, documents
     word-tagged and embeddings orthogonally transformed per replica,
     so candidate pairs scale linearly by construction of the data and
     any quadratic growth is the engine's;
  3. runs graft.Bench back-to-back at each of the family's SFs (3
     passes per query inside one Bench invocation; minima are the
     comparable quantity under bursty steal);
  4. prints the one-decade table per decade and, across three or more
     SFs, the many-decade table, and exits non-zero on any failing
     flag.

Flags ([[judge]], the one rule both tables use), per query from its
decade ratios:

  SUPER-LINEAR   a decade's ratio > 10, unexplained: fails
  mitigated      > 10, but its linear control (CONTROLS) reads <= 10
                 and the ratio sits inside the measured envelope
  expected (asymptotic)  > 10 inside a measured asymptotic bound
                 (SUPERLINEAR_EXPECTED)
  DRIFT          the last ratio >= AT_LINE and the query is not linear
                 by construction (LINEAR_BY_CONSTRUCTION): fails
  RISING         a ratio at least doubled decade over decade to a
                 material level and is not adjudicated
                 (RISING_EXPECTED): fails

DRIFT and RISING need two or more decades. A query that failed or is
missing at any SF reads SUPER-LINEAR: it could not complete there.

Usage:
  scaling_canary.py [--family <name>|all]   (names: FAMILIES keys)
                    [--sf1-dir /tmp/graft_sf1] [--sf10-dir ...]
                    [--sf100-dir ...] [--out-dir /tmp/graft_canary]
  scaling_canary.py report small.json big.json [label_small label_big]
  scaling_canary.py trend bench_sfA.json bench_sfB.json bench_sfC.json...

`report` and `trend` re-judge saved Bench outputs (one decade; three or
more SFs one decade apart, labels from the file stems). Each bench's
raw JSON lines land in --out-dir; the tables print in the
BENCH_SCALING.md format. The default `--family all` runs every family
except the deep-decade opt-ins compose10 and compose100.
"""
import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAMILIES = {
    # q108-q110: the sampled recall floor (capped full-corpus pipeline =
    # linear; its sampled uncapped term is quadratic by contract but
    # 64x-damped, invisible at these SFs) and the three-level codebook
    # build + deep ANN search (fixed k=27, linear scan/assign/probe).
    # q111/q112: the deep (corpus-scaled-k) semDedup and its sampled
    # co-location recall floor, the pipeline that becomes q91's default
    # branch at sf100's k=8000
    "embedding": ("q42,q45,q52,q91,q99,q100,q104,q105,q108,q109,q110,"
                  "q111,q112",
                  "sf0.1", "sf1"),
    "skew": ("q29,q37,q73,q76,q77,q90,q95,q96", "sf0.1", "sf1"),
    "relational": (None, "sf0.01", "sf0.1"),
    # the third decade: the top-cost composed family at sf1 -> sf10
    # (sf10 = 100x of sf0.1, generated directly from sf0.1 with
    # REPL=100; see gen_sf1.py on why chaining the generator is
    # unsound). sf0.1 anchors a second decade so the many-decade table
    # can tell linear-by-construction growth from acceleration. q91's
    # cell model switches flat -> two-level at sf10's k=800 (past
    # FlatMaxK=512), so this decade exercises hierarchical SemDeDup
    "compose10": ("q52,q73,q75,q90,q91,q95,q105", "sf0.1", "sf1", "sf10"),
    # the fourth decade, sf10 -> sf100 (REPL=1000, ~14 GB parquet).
    # Excludes the uncapped-LSH rows (q52, q75, q95): their candidate
    # volume is quadratic in hot-bucket mass (11.1M candidates at sf10
    # -> 1.117e9 at sf100, max bucket 265 -> 2486) and the verify join
    # drags two ~80-element shingle arrays onto every pair (>1 TB
    # intermediate; a q75 leg failed all passes, BENCH_SCALING.md).
    # The capped twins are the scale path and run here: q105 (capped +
    # adaptive CC) and q107 (capped + forced-distributed CC). 32 GiB
    # driver heap on both legs (8g GC-thrashed the sf100 leg). A
    # shuffle-width A/B (256 vs 32) moved q73 only 8% (289 -> 267 s)
    # and q91 not at all: the over-the-line readings are measured
    # bounded asymptotics (SUPERLINEAR_EXPECTED), not spill artifacts
    "compose100": ("q73,q91,q105,q107", "sf10", "sf100"),
}

# per-family env overrides (see compose100 note above)
FAMILY_ENV = {"compose100": {"SPARK_DRIVER_MEM": "32g"}}

# solo families run ONE BENCH JVM PER QUERY per SF and merge the
# pass_times lines: a shared-JVM compose100 sf100 leg OOM-died (Spark
# exit 52) in pass 2 after ~18 min — four hundred-second queries in
# one 32 GiB JVM accumulate enough codegen/broadcast/shuffle state that
# the second pass tips over. Solo JVMs also make deep-scale minima
# independent of query order.
FAMILY_SOLO = {"compose100"}

# per-family bench pass-count overrides (default 3): the sf100 leg
# runs multi-minute queries that integrate over bursty steal, so two
# passes buy the minimum's protection without tripling the window
PASSES = {"compose100": 2}

# --- adjudications ---------------------------------------------------

AT_LINE = 9.0
RISING_FACTOR = 2.0  # consecutive-decade ratio growth that flags
RISING_FLOOR = 4.0   # only once the grown ratio is material

# Queries expected AT the linear line: their candidate/edge counts grow
# linearly with the data by dataset construction (gen_sf1.py's
# per-replica word-tagging / orthogonal transforms). A mildly rising
# ratio is the approach to the linear asymptote — a query with fixed
# overhead c and linear term a*n reads (c + 10an)/(c + an) — so only
# sitting at the line needs this annotation. They still fail on a
# super-linear reading unless a control exonerates them.
LINEAR_BY_CONSTRUCTION = {
    "q52_dedup_clusters": (
        "UNCAPPED LSH by contract (exact recall): candidate volume is "
        "quadratic in hot-bucket mass (measured 121k->11.1M "
        "candidates for 10x data at sf1->sf10, max bucket 35->265, while "
        "verified edges stay linear 2,555->25,557, 40x below the CC "
        "driver->distributed switch); its capped twin q105 is "
        "the documented scale path"),
    "q75_dedup_clusters_distributed": (
        "edge count linear by data construction; deliberate "
        "full-convergence distributed CC (high per-round variance)"),
    "q95_corpus_prep_ledger": (
        "LSH-candidate + CC ledger over the exact-deduped set; "
        "candidate pairs linear by data construction (per-replica "
        "shingle tagging)"),
}

# control = the same pipeline with the documented large-scale
# mitigation applied (q105 = q52 with the hot-bucket cap, the q76/q77
# salting-pair precedent): a super-linear q52 with a linear q105 reads
# mitigated — the engine's scale path holds; if the capped twin reads
# super-linear too, both fail.
CONTROLS = {
    "q52_dedup_clusters": "q105_dedup_clusters_capped",
}

# The mitigated flag is bounded: a flagged ratio passes only within
# ENVELOPE_FACTOR x the measured expected ratio recorded here (q52:
# 12.6x/decade, a clean-window sf1->sf10 pair). Beyond it, or with no
# recorded expectation, the reading fails even with a linear control,
# so a regression confined to the uncapped path cannot ride the control.
MITIGATED_EXPECTED = {
    "q52_dedup_clusters": 12.6,
}
ENVELOPE_FACTOR = 2.0

# Queries whose decade-over-decade ratio growth is measured and
# adjudicated. An entry must cite the measurement showing the growth
# is the approach to the linear asymptote, not acceleration.
RISING_EXPECTED = {
    "q73_shark_delivery": (
        "ratio 1.85 -> 7.28 across sf0.1->sf1->sf10 is overhead "
        "amortization approaching the asymptote; the fourth decade "
        "measured and stage-decomposed the asymptote itself (11.1-17.9 "
        "across runs, every stage linear-work — see "
        "SUPERLINEAR_EXPECTED, which bounds it at 20)"),
}

# Queries whose >10x reading is a measured, bounded single-box
# amplification of linear work, with the envelope beyond which the row
# fails anyway:
#   q73: stage-decomposed at sf10->sf100 (single pass, two heap sizes):
#        bare rollup groupBy 12.0-12.6x, bare sample distinct
#        8.8-13.4x, delivery-no-sort 15.9-18.8x, +global sort
#        22.6-23.0x — every stage, including the minimal one-shuffle
#        rollup, amplifies. A memory explanation was tested and
#        refuted: 2x heap made the query 1.49x slower (G1 pause
#        growth), ParallelGC 1.21x slower, a 256-way shuffle moved it
#        8%. Mechanism: fixed-core amplification — 10x data on the same
#        32 threads costs >=10x, plus a 1.2-1.7x allocator/page-cache/GC
#        residual growing with per-task data volume; a cluster bounds
#        per-task volume by scaling executor count with data. The
#        envelope still fails a real regression: q75's uncapped
#        candidates measured 100.5x in the same session. Whole-query
#        solo sf100 readings at 32 GiB: 11.1-17.9, 16.6. Envelope 20.
#   (q91 is not listed: a shared-JVM reading of 11.51 dropped to 6.18
#   in a solo JVM — suite contamination, not the plan; pair mass 10.63x
#   and assign 11.5x measured linear. compose100 runs solo JVMs.)
SUPERLINEAR_EXPECTED = {
    "q73_shark_delivery": 20.0,
}


def within_envelope(q, ratio):
    """True iff `ratio` sits inside q's recorded mitigation envelope."""
    exp = MITIGATED_EXPECTED.get(q)
    return exp is not None and ratio <= ENVELOPE_FACTOR * exp


def asymptotic_ok(q, ratio):
    """True iff `ratio` sits inside q's recorded asymptotic envelope."""
    bound = SUPERLINEAR_EXPECTED.get(q)
    return bound is not None and ratio <= bound


def judge(q, ratios, ctrl_ratios=None):
    """(flag, failure, note) for query `q` from its decade ratios,
    oldest first. `ctrl_ratios`: its control's ratios over the same
    decades, None when it has no control present in every run.
    `failure` is None for a passing flag."""
    note = LINEAR_BY_CONSTRUCTION.get(q, "")
    flagged = [r for r in ratios if r > 10]
    if flagged:
        if (ctrl_ratios and all(r <= 10 for r in ctrl_ratios)
                and all(within_envelope(q, r) for r in flagged)):
            return (f"mitigated (control {CONTROLS[q]} at "
                    f"{max(ctrl_ratios):.2f})", None, note)
        if all(asymptotic_ok(q, r) for r in flagged):
            return (f"expected (asymptotic, <= {SUPERLINEAR_EXPECTED[q]})",
                    None, note)
        return "SUPER-LINEAR", "super-linear", note
    if len(ratios) < 2:
        return "", None, note
    if ratios[-1] >= AT_LINE:
        if note:
            return "at the line (expected)", None, note
        return "DRIFT", "at the line, unannotated", note
    if any(b >= RISING_FACTOR * a and b >= RISING_FLOOR
           for a, b in zip(ratios, ratios[1:])):
        if q in RISING_EXPECTED:
            return "rising (adjudicated)", None, RISING_EXPECTED[q]
        return ("RISING", f"ratio grew >= {RISING_FACTOR}x across decades, "
                "unannotated", note)
    return "", None, note


# --- the tables --------------------------------------------------------

def load(path):
    """(min-across-passes times, calib line, recorded-failed names).
    `failed` comes from run_bench_solo: a per-query JVM that died or
    emitted no pass_times, which must read as a scaling failure."""
    pass_times = None
    calib = None
    failed = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue  # JVM warnings, sbt noise
            if obj.get("metric") == "pass_times":
                pass_times = {q: min(t for t in ts if t >= 0)
                              for q, ts in obj["queries"].items()
                              if any(t >= 0 for t in ts)}
                failed = list(obj.get("failed", []))
            if obj.get("metric") == "calib_ms":
                calib = obj
    if pass_times is None:
        raise SystemExit(f"{path}: no pass_times line")
    return pass_times, calib, failed


def judged(runs):
    """Per shared query: (query, decade ratios, flag, failure, note);
    then {query: labels} for queries failed or missing at some SF.
    `runs`: [(label, times, calib, failed)] in SF order."""
    def ratios(q):
        if not all(q in t for _, t, _, _ in runs):
            return None
        return [b[q] / a[q] if a[q] > 0 else float("inf")
                for (_, a, _, _), (_, b, _, _) in zip(runs, runs[1:])]
    everywhere = set.union(*(set(t) for _, t, _, _ in runs))
    shared = set.intersection(*(set(t) for _, t, _, _ in runs))
    failed = {q for _, _, _, fl in runs for q in fl}
    absent = {q: [l for l, t, _, fl in runs
                  if q in fl or (q in everywhere and q not in t)]
              for q in sorted((everywhere - shared) | failed)}
    rows = []
    for q in sorted(shared):
        rs = ratios(q)
        ctrl = CONTROLS.get(q)
        rows.append((q, rs) + judge(q, rs, ratios(ctrl) if ctrl else None))
    if not rows and not absent:
        raise SystemExit("no query names shared across the runs")
    return rows, absent


def report(small, big, lbl_small=None, lbl_big=None):
    """One-decade table; returns the failures."""
    lbl_small = lbl_small or "sf0.01"
    lbl_big = lbl_big or "sf0.1"
    runs = [(lbl_small,) + load(small), (lbl_big,) + load(big)]
    (_, ts, calib_small, _), (_, tb, calib_big, _) = runs
    rows, absent = judged(runs)
    print(f"| query | {lbl_small} s | {lbl_big} s | ratio (10x data) | flag |")
    print("|---|---|---|---|---|")
    failures = []
    for q, (r,), flag, failure, _ in rows:
        print(f"| {q} | {ts[q]:.3f} | {tb[q]:.3f} | {r:.2f} | {flag} |")
        if failure:
            failures.append((q, failure))
    for q, labels in absent.items():
        cs = f"{ts[q]:.3f}" if q in ts else "-"
        cb = f"{tb[q]:.3f}" if q in tb else "-"
        print(f"| {q} | {cs} | {cb} | - | "
              f"SUPER-LINEAR (failed or missing at {', '.join(labels)}) |")
        failures.append((q, f"failed or missing at {', '.join(labels)}"))
    if rows:
        tot_s = sum(ts[q] for q, *_ in rows)
        tot_b = sum(tb[q] for q, *_ in rows)
        print()
        print(f"totals: {lbl_small} {tot_s:.1f} s, {lbl_big} {tot_b:.1f} s, "
              f"ratio {tot_b / tot_s:.2f}")
    print(f"calib {lbl_small}: {calib_small}")
    print(f"calib {lbl_big}: {calib_big}")
    print(f"super-linear queries: {[q for q, _ in failures] or 'none'}")
    return failures


def trend(paths):
    """Many-decade table over SFs one decade apart; returns the failures."""
    runs = [(os.path.basename(p).rsplit(".", 1)[0],) + load(p) for p in paths]
    rows, absent = judged(runs)
    decades = [(a[0], b[0]) for a, b in zip(runs, runs[1:])]
    hdr = " | ".join(f"{a}->{b}" for a, b in decades)
    print(f"| query | {hdr} | trend | note |")
    print("|---|" + "---|" * (len(decades) + 2))
    failures = []
    for q, ratios, flag, failure, note in rows:
        cells = " | ".join(f"{r:.2f}" for r in ratios)
        print(f"| {q} | {cells} | {flag} | {note} |")
        if failure:
            failures.append((q, failure))
    for q, labels in absent.items():
        print(f"| {q} | {' | '.join('-' for _ in decades)} | SUPER-LINEAR | "
              f"failed or missing at {', '.join(labels)} |")
        failures.append((q, f"failed or missing at {', '.join(labels)}"))
    for label, _, calib, _ in runs:
        print(f"calib {label}: {calib}")
    if not failures:
        print("trend OK: no super-linear or unannotated rising queries")
    return failures


# --- the benches -------------------------------------------------------

def run_bench(sf_dir, only, out_path, passes=None, extra_env=None):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    if only:
        env["SPARK_GRAFT_BENCH_ONLY"] = only
    if passes:
        env["SPARK_GRAFT_BENCH_PASSES"] = str(passes)
    env.update(extra_env or {})
    print(f"# bench: SF_DIR={sf_dir} ONLY={only or '<full suite>'}"
          + (f" PASSES={passes}" if passes else "")
          + (f" ENV={extra_env}" if extra_env else ""))
    with open(out_path, "w") as f:
        # stdout only: Spark INFO goes to stderr and would drown the
        # JSON contract lines load() reads
        r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           cwd=REPO, env=env, stdout=f,
                           stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit(f"bench failed at {sf_dir} (see {out_path})")


def run_bench_solo(sf_dir, only, out_path, passes=None, extra_env=None):
    """One bench invocation per query; merged pass_times/calib written
    to out_path in the shape load() expects. A per-query JVM that dies
    (or emits no pass_times) is recorded in the merged JSON's `failed`
    list, so the tables judge it a scaling failure instead of dropping
    it."""
    merged = {}
    failed = []
    calib = None
    for q in only.split(","):
        part = out_path + f".{q}"
        try:
            run_bench(sf_dir, q, part, passes=passes, extra_env=extra_env)
        except SystemExit as e:
            # a dying per-query JVM must not waste the rest of the
            # exclusive window; its contract lines (if any) still merge
            print(f"# solo bench for {q} failed ({e}); continuing")
        try:
            with open(part) as f:
                for line in f:
                    try:
                        obj = json.loads(line.strip())
                    except ValueError:
                        continue
                    if obj.get("metric") == "pass_times":
                        merged.update(obj["queries"])
                    if obj.get("metric") == "calib_ms":
                        calib = obj
        except FileNotFoundError:
            pass
        # membership by Bench's own prefix rule: FAMILIES names the
        # short prefix ('q73') but pass_times keys the full name
        # ('q73_shark_delivery')
        if not any(k == q or k.startswith(q + "_") for k in merged):
            failed.append(q)
    with open(out_path, "w") as f:
        f.write(json.dumps({"metric": "pass_times", "queries": merged,
                            "failed": failed}) + "\n")
        if calib:
            f.write(json.dumps(calib) + "\n")


def other_jvms():
    """ALL running java PIDs (no process-tree filtering: the canary is a
    plain python entry point, so any java process means a foreign JVM).
    """
    try:
        out = subprocess.run(["pgrep", "-x", "java"], capture_output=True,
                             text=True).stdout.split()
    except FileNotFoundError:
        return []
    return [p for p in out if p]


def generator_version():
    """GEN_VERSION from gen_sf1.py — the replication-scheme fingerprint."""
    with open(os.path.join(REPO, "tools", "gen_sf1.py")) as f:
        for line in f:
            if line.startswith("GEN_VERSION"):
                return line.split("=")[1].strip()
    raise SystemExit("gen_sf1.py carries no GEN_VERSION")


def ensure_sf1(sf1_dir, repl=None):
    """(Re)generate sf1 unless a COMPLETE dataset from the CURRENT
    generator scheme is present. The _GENERATOR stamp is written last,
    so its presence also proves the generation finished; a stale stamp
    or a partial dataset would silently poison the measurement with
    data artifacts. With `repl`, generates an sfN = repl/10 dataset
    instead (the stamp then carries `version:repl`).
    """
    want = generator_version() + (f":{repl}" if repl else "")
    stamp = os.path.join(sf1_dir, "_GENERATOR")
    if os.path.exists(stamp):
        with open(stamp) as f:
            have = f.read().strip()
        if have == want:
            print(f"# sf1 dataset present at {sf1_dir} (generator v{have})")
            return
        print(f"# sf1 at {sf1_dir} is generator v{have}, want v{want}: regenerating")
        import shutil
        shutil.rmtree(sf1_dir)
    elif os.path.exists(os.path.join(sf1_dir, "lineitem.parquet")):
        print(f"# sf1 at {sf1_dir} is unstamped (partial or pre-v{want}): regenerating")
        import shutil
        shutil.rmtree(sf1_dir)
    print(f"# generating at {sf1_dir} (gen_sf1.py v{want})")
    cmd = [sys.executable, os.path.join(REPO, "tools", "gen_sf1.py"),
           "/root/testdata/sf0.1", sf1_dir]
    if repl:
        cmd.append(str(repl))
    subprocess.run(cmd, check=True)


def canary(argv):
    """Runs the families' benches and tables; returns the failures."""
    ap = argparse.ArgumentParser(prog="scaling_canary.py")
    ap.add_argument("--family", default="all",
                    choices=sorted(FAMILIES) + ["all"])
    ap.add_argument("--sf1-dir", default="/tmp/graft_sf1")
    ap.add_argument("--sf10-dir", default="/tmp/graft_sf10")
    ap.add_argument("--sf100-dir", default="/tmp/graft_sf100")
    ap.add_argument("--out-dir", default="/tmp/graft_canary")
    args = ap.parse_args(argv)

    jvms = other_jvms()
    if jvms:
        raise SystemExit(
            f"refusing to bench: other JVMs running (pids {jvms}) — every "
            "BENCH number depends on an exclusive session")

    fams = (sorted(f for f in FAMILIES
                   if f not in ("compose10", "compose100"))
            if args.family == "all" else [args.family])
    if any("sf1" in FAMILIES[f][1:] for f in fams):
        ensure_sf1(args.sf1_dir)
    if any("sf10" in FAMILIES[f][1:] for f in fams):
        ensure_sf1(args.sf10_dir, repl=100)
    if any("sf100" in FAMILIES[f][1:] for f in fams):
        ensure_sf1(args.sf100_dir, repl=1000)
    os.makedirs(args.out_dir, exist_ok=True)

    def sf_path(name):
        if name == "sf1":
            return args.sf1_dir
        if name == "sf10":
            return args.sf10_dir
        if name == "sf100":
            return args.sf100_dir
        return f"/root/testdata/{name}"

    failures = []
    for fam in fams:
        only, sfs = FAMILIES[fam][0], FAMILIES[fam][1:]
        outs = []
        for sf in sfs:
            out = os.path.join(args.out_dir, f"{fam}_{sf}.json")
            runner = run_bench_solo if fam in FAMILY_SOLO else run_bench
            runner(sf_path(sf), only, out, passes=PASSES.get(fam),
                   extra_env=FAMILY_ENV.get(fam))
            outs.append(out)
        tables = [(f"{small} -> {big}", report, (a, b, small, big))
                  for a, b, small, big in zip(outs, outs[1:], sfs, sfs[1:])]
        if len(outs) >= 3:
            tables.append((f"trend across {' -> '.join(sfs)}", trend, (outs,)))
        for title, table, table_args in tables:
            print(f"\n## {fam}: {title}")
            try:
                failures += [(fam,) + f for f in table(*table_args)]
            except SystemExit as e:
                print(e)
                failures.append((fam, title, "table failed"))
    return failures


def main(argv):
    if argv[:1] == ["report"] and len(argv) in (3, 5):
        failures = report(*argv[1:])
    elif argv[:1] == ["trend"] and len(argv) >= 4:
        failures = trend(argv[1:])
    elif argv[:1] in (["report"], ["trend"]):
        raise SystemExit(__doc__.split("Usage:")[1].split("\n\n")[0])
    else:
        failures = canary(argv)
        if not failures:
            print("\nCANARY OK: zero super-linear queries, no unannotated drift")
    if failures:
        raise SystemExit(f"SCALING FAILED: {failures}")


if __name__ == "__main__":
    main(sys.argv[1:])
