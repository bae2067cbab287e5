#!/usr/bin/env python3
"""Chooses olap_mix's keys from a measured pass over the whole
relational and dialect registry.

    python3 perfbench/sample_keys.py

It runs a traced survey in one JVM: every key of the families q j g w f
a y c x s over sf0.1, a cold pass, a warm-up pass and four measured
passes, two of them traced (about 10 minutes on 4 CPUs). The cold
pass's results are checked against the oracles as in a benchmark run. It then prints each key's warm latency and construct
share, the sample, and the sample's p50, p90 and construct share next
to the whole set's.

The rule: sort the keys by median warm latency, cut them into SIZE
strata of nearly equal count, and take from each stratum the key whose
construct share is nearest the stratum's median construct share, ties
by name. The sample follows the whole set's latency distribution
quantile by quantile, and within each quantile the share of time spent
before the action. It chooses by cost, not by family.
"""
import math
import os
import shutil
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import run  # noqa: E402
from stats import median  # noqa: E402

FAMILIES = "qjgwfaycxs"
SIZE = 10


def survey():
    """A traced run over every key of FAMILIES; returns its result and
    the oracle check's mismatches."""
    cp = run.build()
    data = Path(os.environ.get("GRAFT_TESTDATA", "~/testdata/sf0.1")).expanduser()
    work = HERE / ".work" / "survey"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        lines = [("workload", "olap_mix"), ("work", work), ("seconds", 1),
                 ("trace", 1), ("cores", run.cores()), ("data", data),
                 ("tables", run.OLAP_TABLES), ("families", FAMILIES)]
        plan = work / "plan.tsv"
        plan.write_text("".join(f"{k}\t{v}\n" for k, v in lines))
        _, res = run.run_harness(cp, plan, work / "result.json", work, time.time() + 3600)
        keys = sorted({o["name"] for o in res["ops"]})
        return res, check.check_keys(data, work / "check", keys, run.cores())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def per_key(res):
    """{key: (median warm latency in ms, construct share)}: latency from
    the untraced measured passes, construct share from the traced ones."""
    lat = defaultdict(list)
    seq_key = {}
    for o in res["ops"]:
        if o["ok"] and o["pass"] >= 1:
            seq_key[o["seq"]] = o["name"]
            if not o["traced"]:
                lat[o["name"]].append(o["ms"])
    span = defaultdict(lambda: [0.0, 0.0])  # key -> [construct us, op us]
    for s in res["spans"]:
        k = seq_key.get(s["op"])
        if k is not None and s["name"] in ("construct", "op"):
            span[k][s["name"] == "op"] += s["end_us"] - s["start_us"]
    return {k: (median(v), span[k][0] / span[k][1] if span[k][1] else 0.0)
            for k, v in lat.items()}


def stratified(keys, size):
    """`size` keys: one per latency stratum, nearest its median construct
    share."""
    ranked = sorted(keys, key=lambda k: (keys[k][0], k))
    out = []
    for i in range(size):
        stratum = ranked[len(ranked) * i // size: len(ranked) * (i + 1) // size]
        mid = median([keys[k][1] for k in stratum])
        out.append(min(stratum, key=lambda k: (abs(keys[k][1] - mid), k)))
    return sorted(out)


def nearest_rank(xs, pct):
    xs = sorted(xs)
    return xs[max(1, math.ceil(pct * len(xs) / 100)) - 1]


def summary(keys, chosen):
    lat = [keys[k][0] for k in chosen]
    construct = sum(keys[k][0] * keys[k][1] for k in chosen)
    return {"keys": len(chosen), "p50_ms": nearest_rank(lat, 50),
            "p90_ms": nearest_rank(lat, 90), "pass_s": sum(lat) / 1000.0,
            "construct_share": construct / sum(lat),
            "families": "".join(sorted({k[0] for k in chosen}, key=FAMILIES.index))}


def main():
    res, bad = survey()
    for f in res["failures"]:
        print(f"FAILED {f['name']} (pass {f['pass']}): {f['error']}")
    for b in bad:
        print(f"MISMATCH {b}")
    keys = per_key(res)
    for k in sorted(keys, key=lambda k: keys[k][0]):
        print(f"{k:32s} {keys[k][0]:9.1f} ms  construct {keys[k][1]:.3f}")
    chosen = stratified(keys, SIZE)
    print("sample:", ", ".join(chosen))
    for name, ks in (("all", list(keys)), ("sample", chosen)):
        s = summary(keys, ks)
        print(f"{name:7s} " + " ".join(
            f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}" for k, v in s.items()))


if __name__ == "__main__":
    main()
