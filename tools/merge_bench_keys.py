#!/usr/bin/env python3
"""Merge a key-filtered Bench artifact (SPARK_GRAFT_BENCH_KEYS run) into
a committed full BENCH artifact, with provenance.

Usage: python3 tools/merge_bench_keys.py <full.json> <filtered.json> \
           <key1,key2,...>

The filtered run measures each named key under the IDENTICAL per-key
protocol (recorded warmup over the selection, median of the same pass
count, same byte accounting), so its per-key rows are comparable with
the full run's — what is NOT comparable is the run-level context
(pass_totals, warmup_total, load), which stays the full run's own. The
merge therefore:
  - replaces queries[k] and shuffle_bytes[k] for the named keys only;
  - recomputes the headline `value` as the sum of per-key medians;
  - appends the named keys to `merged_keys` and records the filtered
    run's sf/load/passes in `merge_note` — the artifact says out loud
    which rows were measured in a separate (same-protocol) JVM.
Refuses keys missing from the filtered artifact or failed there (-1),
and refuses a filtered run whose sf dir differs from the full run's.
"""
import json
import sys


def main(full_p, filt_p, keys_csv):
    full = json.load(open(full_p))
    filt = json.load(open(filt_p))
    keys = [k.strip() for k in keys_csv.split(",") if k.strip()]
    if not keys:
        sys.exit("no keys given")
    if "key_filter" in full:
        sys.exit(f"{full_p} is a key-filtered record (key_filter="
                 f"{full['key_filter']}), not a full one — merge into a "
                 "full-suite BENCH_FULL.json")
    if full.get("sf") != filt.get("sf"):
        sys.exit(f"sf dir mismatch: full={full.get('sf')} "
                 f"filtered={filt.get('sf')} — a merged row must be "
                 "measured on the same corpus")
    if full.get("passes") != filt.get("passes"):
        sys.exit(f"pass-count mismatch: full={full.get('passes')} "
                 f"filtered={filt.get('passes')} — the median protocol "
                 "must match")
    for k in keys:
        if k not in filt["queries"]:
            sys.exit(f"key {k} missing from {filt_p}")
        if filt["queries"][k] < 0:
            sys.exit(f"key {k} FAILED in {filt_p} — fix before merging")
        full["queries"][k] = filt["queries"][k]
        fb = filt.get("shuffle_bytes", {}).get(k)
        if fb is not None:
            full.setdefault("shuffle_bytes", {})[k] = fb
    full["value"] = round(
        sum(v for v in full["queries"].values() if v >= 0), 3)
    # a merged re-measure can replace a -1 (failed) row — recompute the
    # failure count so the artifact's headline matches its rows
    full["failed"] = sum(1 for v in full["queries"].values() if v < 0)
    full["merged_keys"] = sorted(set(full.get("merged_keys", [])) | set(keys))
    full["merge_note"] = (
        "merged_keys rows were measured by a key-filtered Bench run "
        "(identical per-key protocol: recorded warmup + median of "
        f"{filt.get('passes')} passes) in a separate JVM on the same "
        f"corpus; filtered run load_avg_before={filt.get('load_avg_before')}"
        f", warmup_total={filt.get('warmup_total')}s. Run-level fields "
        "(pass_totals, warmup_total, load) describe the original full run.")
    with open(full_p, "w") as f:
        json.dump(full, f, indent=None)
    print(f"merged {keys} into {full_p}: value={full['value']}")


def _selftest():
    import copy
    import tempfile
    full = {"sf": "a", "passes": 3, "queries": {"x": 1.0, "y": -1.0},
            "shuffle_bytes": {"x": {"write": 1}}, "value": 1.0, "failed": 1}
    filt = {"sf": "a", "passes": 3, "queries": {"y": 2.0},
            "shuffle_bytes": {"y": {"write": 7}},
            "load_avg_before": 0.1, "warmup_total": 1.0}

    def run(f, g, keys):
        fp = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
        gp = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
        json.dump(f, fp); fp.close()
        json.dump(g, gp); gp.close()
        main(fp.name, gp.name, keys)
        return json.load(open(fp.name))

    # happy path: the -1 row is replaced, value and failed recomputed,
    # provenance recorded
    out = run(copy.deepcopy(full), filt, "y")
    assert out["queries"]["y"] == 2.0 and out["value"] == 3.0
    assert out["failed"] == 0 and out["merged_keys"] == ["y"]
    assert out["shuffle_bytes"]["y"] == {"write": 7}
    # refusals: sf mismatch, pass-count mismatch, failed filtered key,
    # a filtered record passed as the full one
    for base, bad in ((full, {**filt, "sf": "b"}), (full, {**filt, "passes": 1}),
                      (full, {**filt, "queries": {"y": -1.0}}),
                      ({**full, "key_filter": ["x"]}, filt)):
        try:
            run(copy.deepcopy(base), bad, "y")
        except SystemExit:
            pass
        else:
            raise AssertionError(f"merge accepted invalid input: {bad}")
    print("selftest: replaces -1 rows, recomputes value/failed, records "
          "provenance; refuses sf/pass mismatches, failed keys and a "
          "filtered record as the full one")


if __name__ == "__main__":
    if "--selftest" in sys.argv:
        _selftest()
        sys.exit(0)
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(*sys.argv[1:])
