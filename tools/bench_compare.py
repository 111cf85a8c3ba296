#!/usr/bin/env python3
"""Mechanical derivation of the README's round-over-round bench numbers.

Round-11 verdict item #7: the README's comparison claims (shared-query
sum ratio, the original-47-query r1-subset sum, the per-query regression
list) were hand-derived from artifacts, and two rounds shipped small
discrepancies (r10: 0.95x vs 0.98x; r11: a 0.83x builder-pair vs 1.05x
driver-pair divergence that needed a judge footnote). This tool computes
them from the artifacts themselves so the README can paste a committed
tool output verbatim.

Round-12 verdict item #3: a single baseline mixed boxes — the r12
README's 0.94x headline compared the builder's close against the
DRIVER's artifact, while the builder's own close-to-close pair read
1.04x. Per the repo's measurement discipline (cross-box sums are noise;
same-lineage pairs are the signal), the tool now emits BOTH blocks when
given both baselines, same-box first — the README quotes the same-box
number as the headline and the cross-box one as context.

Usage:  python3 tools/bench_compare.py PREV_BENCH.json [CUR_BENCH.json]
                [--samebox SAMEBOX_BENCH.json]

  PREV_BENCH.json     the previous round's artifact as committed by the
                      DRIVER (cross-box context)
  CUR_BENCH.json      defaults to bench_last.json
  SAMEBOX_BENCH.json  this box's previous round-close artifact (the last
                      `Round close:` commit before the driver's last
                      `round N:` commit — round_close.sh digs it out)

All files are graft.Bench output lines: {"metric":"total","value":S,
"queries":{name:sec,...},"cpus":N,...}. Prints one fenced block and
exits 0 (regressions are REPORTED, not gated — box variance up to
+/-50% between sessions is documented in ENGINE.md, so a sum ratio is
context, not a failure). Artifacts that record different core counts
are not comparable: the tool then exits 1 without comparing. An
artifact that records no core count (older Bench output) is compared
with a warning naming it.
"""
import json
import sys

# The r1 flagship constant the README has cited since round 2: the
# round-1 driver bench summed 35.8 s over the original 47 queries
# (BENCH_r01.json predates per-query output, so the total is recorded
# here; the 47 names live in CORRECTNESS_r01.json and are read fresh).
R1_TOTAL_SEC = 35.8
R1_CORRECTNESS = "CORRECTNESS_r01.json"

# A per-query move is only worth listing when it is BOTH large in ratio
# and large in absolute time — sub-second jitter at ratio 2x is noise.
REGRESS_RATIO = 1.5
REGRESS_ABS_SEC = 1.0

# Recorded per-query variance bands (round-13 verdict item #7): queries
# whose NATURAL same-box spread exceeds the 1.5x gate keep tripping it
# and desensitize the regression list. A query earns an entry only with
# a measured multi-rep record behind it (cite the ENGINE.md row); its
# moves are reported separately and only flagged past the recorded band.
#   q249: same-box solo reps 2.6/5.2/3.7 s with UNTOUCHED code
#   (round-13 close, adjudicated by the r13 judge); r12->r13 in-suite
#   2.04->3.16 s was the same band. Band +/-2x.
VARIANCE_EXEMPT = {"q249_prefix_filter_join": 2.0}


def compare(prev: dict, cur: dict, label: str, cur_path: str,
            prev_path: str) -> None:
    pq, cq = prev["queries"], cur["queries"]
    shared = sorted(set(pq) & set(cq))
    psum = sum(pq[q] for q in shared)
    csum = sum(cq[q] for q in shared)

    def ratio_gate(q: str) -> float:
        return VARIANCE_EXEMPT.get(q, REGRESS_RATIO)

    regressed = sorted(
        (q for q in shared
         if cq[q] > pq[q] * ratio_gate(q)
         and cq[q] - pq[q] > REGRESS_ABS_SEC),
        key=lambda q: pq[q] - cq[q])
    improved = sorted(
        (q for q in shared
         if pq[q] > cq[q] * ratio_gate(q)
         and pq[q] - cq[q] > REGRESS_ABS_SEC),
        key=lambda q: cq[q] - pq[q])
    in_band = sorted(
        q for q in shared if q in VARIANCE_EXEMPT
        and q not in regressed and q not in improved
        and (cq[q] > pq[q] * REGRESS_RATIO or pq[q] > cq[q] * REGRESS_RATIO)
        and abs(cq[q] - pq[q]) > REGRESS_ABS_SEC)

    print(f"[{label}] {cur_path} vs {prev_path}")
    print(f"  current : {cur['value']:.1f} s / {len(cq)} queries "
          f"/ errors={cur.get('errors', [])}")
    print(f"  previous: {prev['value']:.1f} s / {len(pq)} queries")
    print(f"  shared-{len(shared)} sum: {csum:.1f} s vs {psum:.1f} s "
          f"= {csum / psum:.2f}x")
    print(f"  regressed >{REGRESS_RATIO}x & >{REGRESS_ABS_SEC}s: "
          f"{len(regressed)}")
    for q in regressed:
        print(f"    {q}: {pq[q]:.2f} -> {cq[q]:.2f} s")
    print(f"  improved >{REGRESS_RATIO}x & >{REGRESS_ABS_SEC}s: "
          f"{len(improved)}")
    for q in improved:
        print(f"    {q}: {pq[q]:.2f} -> {cq[q]:.2f} s")
    for q in in_band:
        print(f"  within recorded variance band "
              f"(±{VARIANCE_EXEMPT[q]}x, see ENGINE.md): "
              f"{q}: {pq[q]:.2f} -> {cq[q]:.2f} s")
    only_new = sorted(set(cq) - set(pq))
    if only_new:
        new_cost = sum(cq[q] for q in only_new)
        print(f"  new queries ({len(only_new)}): {new_cost:.2f} s "
              f"total: {only_new}")


def main() -> int:
    args = list(sys.argv[1:])
    samebox_path = None
    if "--samebox" in args:
        i = args.index("--samebox")
        samebox_path = args[i + 1]
        del args[i:i + 2]
    if not args:
        print(__doc__, file=sys.stderr)
        return 2
    prev_path = args[0]
    cur_path = args[1] if len(args) > 1 else "bench_last.json"
    paths = [prev_path, cur_path] + ([samebox_path] if samebox_path else [])
    loaded = {}
    for path in paths:
        with open(path) as f:
            loaded[path] = json.load(f)
    prev, cur = loaded[prev_path], loaded[cur_path]
    for path, artifact in loaded.items():
        if "cpus" not in artifact:
            print(f"warning: {path} records no core count; it may not "
                  f"match the other artifacts' cpus", file=sys.stderr)
    cpus = {path: a["cpus"] for path, a in loaded.items() if "cpus" in a}
    if len(set(cpus.values())) > 1:
        print("error: artifacts record different core counts, refusing "
              "to compare: " + ", ".join(f"{p} cpus={c}"
                                         for p, c in cpus.items()),
              file=sys.stderr)
        return 1

    print("```")
    if samebox_path:
        samebox = loaded[samebox_path]
        compare(samebox, cur, "SAME-BOX close-over-close (headline)",
                cur_path, samebox_path)
        print()
        compare(prev, cur, "cross-box vs driver artifact (context)",
                cur_path, prev_path)
    else:
        compare(prev, cur, "round-over-round", cur_path, prev_path)

    # the r1 flagship subset is a property of the CURRENT artifact only
    cq = cur["queries"]
    with open(R1_CORRECTNESS) as f:
        r1_names = sorted(json.load(f))
    r1_missing = [q for q in r1_names if q not in cq]
    r1_sum = sum(cq[q] for q in r1_names if q in cq)
    print()
    print(f"  r1 {len(r1_names)}-query subset: {r1_sum:.1f} s vs "
          f"{R1_TOTAL_SEC} s (r1) = {r1_sum / R1_TOTAL_SEC:.2f}x"
          + (f"  [MISSING: {r1_missing}]" if r1_missing else ""))
    print("```")
    return 0


if __name__ == "__main__":
    sys.exit(main())
