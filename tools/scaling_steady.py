#!/usr/bin/env python3
"""Aggregate the paired steady-state kg_write scaling samples
(BENCH/raw_steady_cpus{N}.jsonl, written by tools/bench_kgw_steady.sh)
into the headline N->4N efficiency: medians per size, per-pair ratios,
spread, and the efficiency from median throughputs.

Gate v2 (round 5, PRE-REGISTERED — see the harness header and
BENCH/BASELINE.md): samples whose own JSON line carries
steal_pct >= STEAL_MAX (default 5.0) were contaminated by host-side CPU
thieving during their timed window and are EXCLUDED before any
aggregation; excluded counts are printed. Samples without the field
(pre-v2 raws) are kept. Per-pair efficiencies use index pairing and drop
any pair with a rejected member.

Gate v3 rule (d) (PRE-REGISTERED 2026-08-18 before the extension run —
see tools/bench_kgw_steady.sh): samples carrying a closing-canary
bracket (canary_after_mhash / canary_after_steal, merged into the JSON
line by the harness) are additionally rejected when the closing
canary read mhash < 0.95 or steal >= 3.0 — the opening gate's own
calibrated thresholds, applied at the window's other end — and when the
closing canary printed nothing parseable (the harness then writes
canary_after_mhash: null): a crashed canary vouches for nothing.
Samples without the fields (v2 raws) are unaffected."""
import json
import statistics
import sys

STEAL_MAX = 5.0


def load(cpus):
    rows = []
    with open(f"BENCH/raw_steady_cpus{cpus}.jsonl") as f:
        for line in f:
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    return rows


CANARY_MIN_MHASH = 0.95
CANARY_MAX_STEAL = 3.0


def accepted(r):
    if r.get("steal_pct") is not None and r["steal_pct"] >= STEAL_MAX:
        return False
    if "canary_after_mhash" in r:
        mhash = r["canary_after_mhash"]
        if mhash is None or mhash < CANARY_MIN_MHASH:
            return False
        if r.get("canary_after_steal", 0.0) >= CANARY_MAX_STEAL:
            return False
    return True


def main():
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    a_all, b_all = load(lo), load(hi)
    a = [r for r in a_all if accepted(r)]
    b = [r for r in b_all if accepted(r)]
    n_rej_a, n_rej_b = len(a_all) - len(a), len(b_all) - len(b)
    if n_rej_a or n_rej_b:
        print(f"  gate exclusions (v2: steal_pct >= {STEAL_MAX}; v3: closing "
              f"canary missing, < {CANARY_MIN_MHASH} Mhash or steal >= "
              f"{CANARY_MAX_STEAL}): dropped {n_rej_a}/{len(a_all)} "
              f"local[{lo}] and {n_rej_b}/{len(b_all)} local[{hi}] samples")
    if not a or not b:
        print("  no accepted samples on one side — nothing to aggregate")
        return
    ta = [r["value"] for r in a]
    tb = [r["value"] for r in b]
    thr_a = [r["triples_per_sec"] for r in a]
    thr_b = [r["triples_per_sec"] for r in b]
    factor = hi / lo
    med_a, med_b = statistics.median(thr_a), statistics.median(thr_b)
    eff = (med_b / med_a) / factor
    print(f"paired steady-state kg_write scaling, local[{lo}] -> local[{hi}]"
          f" (accepted n={len(a)}/{len(b)})")
    print(f"  local[{lo}]:  times {sorted(round(t,1) for t in ta)} s, "
          f"throughput {sorted(thr_a)} t/s, median {med_a:.0f} t/s")
    print(f"  local[{hi}]: times {sorted(round(t,1) for t in tb)} s, "
          f"throughput {sorted(thr_b)} t/s, median {med_b:.0f} t/s")
    # per-pair efficiencies over index pairs where BOTH members accepted
    pair_effs = [(y["triples_per_sec"] / x["triples_per_sec"]) / factor
                 for x, y in zip(a_all, b_all)
                 if accepted(x) and accepted(y)]
    if pair_effs:
        print(f"  per-pair eff (time-adjacent samples, both accepted): "
              f"{[round(e, 3) for e in pair_effs]}")
        # dispersion-aware companions to the median-of-medians headline
        # (advisor finding, round 3: a pass/fail that flips under an
        # equally defensible estimator isn't a result)
        med_pair = statistics.median(pair_effs)
        lo_q, hi_q = sorted(pair_effs)[0], sorted(pair_effs)[-1]
        print(f"  median of per-pair effs = {med_pair:.3f} "
              f"(range {lo_q:.3f}..{hi_q:.3f}, n={len(pair_effs)})")
    else:
        med_pair = float("nan")
        print("  no index pair has both members accepted")
    best = (max(thr_b) / max(thr_a)) / factor
    print(f"  best-vs-best eff (host noise excluded) = {best:.3f}")
    print(f"  HEADLINE eff({lo}->{hi}) from medians = {eff:.3f} "
          f"({'>=' if eff >= 0.8 else 'BELOW'} 0.8 bar); "
          f"estimator-agreement: median-of-pairs {med_pair:.3f}")


if __name__ == "__main__":
    main()
