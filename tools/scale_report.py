#!/usr/bin/env python3
"""Join graft.Soak dumps (sf0.1 and the 10x scale-up) into
SCALE_r{N}.json: per-query cold/warm ratios, normalized by the 10x data
growth, with a superlinear flag. Dev tooling, like tools/check.py.

An optional 4th arg is a soak dump over the DISJOINT-VOCAB documents
variant (testdata_sf1v): the fixture's ~31-token unigram vocabulary
saturates the 3-word-shingle space at sf0.1 already (27,213 of ~31^3
possible shingles, measured), so 10x more docs under any
multiset-preserving reshuffle multiplies per-shingle df ~6x and the
candidate-pair mass sum(df*(df-1)/2 | df<=256) ~99x (1.27M -> 125M,
measured) -- the pair operators' true workload grows 99x for 10x data,
a FIXTURE property (real corpora grow vocabulary, Heaps' law, keeping
per-shingle df per-capita constant). The variant suffixes each copy's
tokens (the text analog of the key-shifted fact shards), which keeps
the per-copy df distribution identical to the source (max_df 27 vs 25,
measured) and scales the pair mass exactly 10.0x (12.6M) -- so its
ratios are the honest linear-workload read for the postings-pair
operators, recorded as ratio_*_v alongside the saturated-fixture
ratios.

Usage: scale_report.py soak_a.json soak_b.json out.json \
           [--variant soak_bv.json] [--growth N]

`--growth` (default 10) is the data-growth factor between the two
dumps — pass 100 when comparing sf0.1 against the 100x testdata_sf10
fixture. Flags, not positions: the old positional form made
`... out.json 100` silently parse 100 as the variant-dump path.
"""
import argparse
import json

ap = argparse.ArgumentParser()
ap.add_argument("soak_a")
ap.add_argument("soak_b")
ap.add_argument("out")
ap.add_argument("--variant", help="disjoint-vocab soak dump (sf1v)")
ap.add_argument("--reliable",
                help="soak dump over the SAME fixture as soak_b but run "
                     "with SPARK_GRAFT_RELIABLE_CKPT_DIR set (durable "
                     "checkpoint mode); emits a 'reliable' section with "
                     "per-query ratio vs the default mode")
ap.add_argument("--growth", type=float, default=10.0,
                help="data-growth factor between the two dumps")
ARGS = ap.parse_args()
GROWTH = ARGS.growth

# named causes for queries whose saturated-fixture ratio exceeds GROWTH
# by construction (workload growth measured independently of wall time)
CAUSES = {
    "q137_containment_pairs": (
        "candidate-pair mass grows 99x for 10x docs (bounded 31-token "
        "shingle space saturates; see module docstring) -- wall growth "
        "far below 99x means the operator is sublinear in its true "
        "workload; disjoint-vocab variant ratio is the linear read"),
    "q136_jaccard_pairs": "same postings frame as q137 (shared memo)",
    "q139_dup_degree": "same postings frame as q137 (shared memo)",
    "q191_jaccard_sweep": "same postings frame as q137 (shared memo)",
    "q292_tfidf_cosine_pairs": (
        "same saturated-shingle-space physics as q137 (TF-IDF postings "
        "over the same 3-word shingle vocabulary)"),
}

a = json.load(open(ARGS.soak_a))
b = json.load(open(ARGS.soak_b))
v = json.load(open(ARGS.variant)) if ARGS.variant else {"samples": {}}
rows = {}
for name, xa in a["samples"].items():
    xb = b["samples"].get(name)
    if xb is None or -1.0 in xa or -1.0 in xb:
        rows[name] = {"err": "missing or failed"}
        continue
    # BOTH Soak passes are cold-pipeline passes (memos cleared per pass
    # — see Soak.scala); the per-pass ratios differ only by JVM/page-
    # cache warmth and host contention, so the min-of-passes ratio is
    # the contention-resistant comparison and pass-1 the fully-cold one.
    cold = round(xb[0] / xa[0], 2) if xa[0] > 0 else None
    best = round(min(xb) / min(xa), 2) if min(xa) > 0 else None
    rows[name] = {
        "sf01_s": [round(x, 2) for x in xa],
        "sf1_s": [round(x, 2) for x in xb],
        "ratio_cold": cold,
        "ratio_best": best,
        "superlinear": best is not None and best > GROWTH,
    }
    # cold pass >2x the best pass at the large fixture = the first pass
    # is paying page-cache population over the multi-GB fixture, not
    # compute — tag it so ratio_cold outliers aren't re-investigated
    # (e.g. q141 94s cold vs 32s best at 100x, q82 158s vs 16s)
    if min(xb) > 0 and xb[0] / min(xb) > 2.0:
        rows[name]["io_bound"] = True
    xv = v["samples"].get(name)
    if xv and -1.0 not in xv:
        rows[name]["sf1v_s"] = [round(x, 2) for x in xv]
        rows[name]["ratio_best_v"] = round(min(xv) / min(xa), 2)
        rows[name]["superlinear_v"] = rows[name]["ratio_best_v"] > GROWTH
    if rows[name]["superlinear"] and name in CAUSES:
        rows[name]["cause"] = CAUSES[name]
# durable-checkpoint mode: same fixture as soak_b, run with
# SPARK_GRAFT_RELIABLE_CKPT_DIR set — the cost of a checkpoint dir
# (checkpoint() write+read per Scratch.stage barrier instead of
# executor-local blocks). min-vs-min,
# same-box same-fixture, so the ratio IS the mode's price per query;
# queries with no Scratch.stage in their plan should sit at ~1.0.
reliable = None
if ARGS.reliable:
    r = json.load(open(ARGS.reliable))
    rq = {}
    for name, xr in r["samples"].items():
        xb = b["samples"].get(name)
        if xb is None or -1.0 in xr or -1.0 in xb:
            rq[name] = {"err": "missing or failed"}
            continue
        rq[name] = {
            "default_s": [round(x, 2) for x in xb],
            "reliable_s": [round(x, 2) for x in xr],
            "ratio_reliable": round(min(xr) / min(xb), 2),
        }
    ok = [q["ratio_reliable"] for q in rq.values() if "ratio_reliable" in q]
    reliable = {
        "load_1m": r.get("load_1m"),
        "median_ratio": round(sorted(ok)[len(ok) // 2], 2) if ok else None,
        "max_ratio": max(ok) if ok else None,
        "queries": rq,
    }

out = {
    "growth": GROWTH,
    "load_1m_sf01": a.get("load_1m"),
    "load_1m_sf1": b.get("load_1m"),
    "n_superlinear": sum(1 for r in rows.values() if r.get("superlinear")),
    "n_superlinear_unexplained": sum(
        1 for r in rows.values()
        if r.get("superlinear") and "cause" not in r
        and not (r.get("superlinear_v") is False)),
    "queries": rows,
}
if reliable is not None:
    out["reliable"] = reliable
json.dump(out, open(ARGS.out, "w"), indent=1)
print(f"wrote {ARGS.out}: {out['n_superlinear']} superlinear "
      f"({out['n_superlinear_unexplained']} unexplained) of {len(rows)}")
