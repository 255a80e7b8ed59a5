#!/usr/bin/env python3
"""Doc-vs-artifact freshness gate (ADVICE r9: total_ratio drifted twice).

Asserts that every place SURVEY.md / README.md states the BENCH_SCALE
headline (total ratio N.NN) matches the committed BENCH_SCALE.json, and
that the README's superlinear-key narrative names exactly the artifact's
superlinear_keys. Exit 1 on drift. Run after regenerating any artifact.
"""
import json
import re
import os
import sys

ok = True
art = json.load(open("BENCH_SCALE.json"))
ratio = f"{art['total_ratio']:.2f}"
want_keys = set(art["superlinear_keys"])

for doc in ("SURVEY.md", "README.md"):
    text = open(doc).read()
    for m in re.finditer(r"total[ _]ratio (\d+\.\d+)", text):
        if m.group(1) != ratio:
            line = text[: m.start()].count("\n") + 1
            print(f"DRIFT {doc}:{line} says total ratio {m.group(1)}, "
                  f"artifact says {ratio}")
            ok = False

# fuzz gate freshness: the committed adversarial-corpus verdicts must be
# all-green and cover the same key surface as the scale artifact — a key
# added without a fuzz run, or a fuzz regression committed unnoticed,
# fails here
fz = json.load(open("FUZZ_CORRECTNESS.json"))
if fz["passed"] != fz["total"]:
    bad = sorted(k for k, v in fz["queries"].items()
                 if not (v.get("hash_match") and not v.get("err")))
    print(f"DRIFT FUZZ_CORRECTNESS.json: {fz['passed']}/{fz['total']} — "
          f"failing keys: {bad}")
    ok = False
if set(fz["queries"]) != set(art["queries"]):
    diff = sorted(set(fz["queries"]) ^ set(art["queries"]))
    print(f"DRIFT: FUZZ_CORRECTNESS vs BENCH_SCALE key sets differ: {diff} "
          "— re-run tools/fuzz_check.py after changing the key surface")
    ok = False

# oracle-gate budget canary (VERDICT r18 task 6): the r17 blank-record
# failure was ONE composed oracle quietly going quadratic in DuckDB
# (delta_corpus_to_shards ~797 s at sf0.01 pre-fix, 0.6 s after the CTE
# materialization) with no tripwire — the whole driver gate timed out and
# the round's correctness record blanked. oracle_check.py now records
# per-key DuckDB seconds into its verdicts (committed via
# FUZZ_CORRECTNESS.json); a key costing more than BOTH 50x the median AND
# an absolute floor (sub-second jitter must not flag) fails here first.
ORACLE_OUTLIER_FACTOR = 50.0
ORACLE_OUTLIER_FLOOR_SEC = 5.0


def oracle_outliers(queries):
    """Messages for per-key oracle_sec outliers (empty = pass). A
    verdicts map with NO timings predates the canary and is itself a
    drift (re-run tools/fuzz_check.py at HEAD)."""
    secs = {k: v["oracle_sec"] for k, v in queries.items()
            if isinstance(v, dict) and isinstance(v.get("oracle_sec"),
                                                  (int, float))}
    if not secs:
        return ["FUZZ_CORRECTNESS.json carries no per-key oracle_sec "
                "timings — predates the oracle-budget canary; re-run "
                "tools/fuzz_check.py"]
    med = sorted(secs.values())[len(secs) // 2]
    gate = max(ORACLE_OUTLIER_FACTOR * med, ORACLE_OUTLIER_FLOOR_SEC)
    return [f"oracle-budget outlier: `{k}` took {s:.1f} s in DuckDB "
            f"(median {med:.3f} s, gate {gate:.1f} s) — a composed oracle "
            f"is going quadratic; give its chokepoint CTEs AS MATERIALIZED "
            f"(the delta_corpus_to_shards r18 fix) before the driver gate "
            f"times out on it"
            for k, s in sorted(secs.items()) if s > gate]


for m in oracle_outliers(fz["queries"]):
    print(f"DRIFT {m}")
    ok = False

# quiet-bench drift gate (VERDICT r11 task 5: the round-11 +23% drift was
# only visible because the judge diffed artifacts by hand — PLANS.md and
# the scale headline have freshness gates, the quiet record had none).
# Compares the two newest committed BENCH_QUIET_r*.json common-key totals;
# >15% drift in either direction fails unless README.md carries an
# attribution line naming the rounds (the honest-record discipline: drift
# is allowed, silent drift is not).
DRIFT_TOL = 0.15


def quiet_drift(prev_name, prev, cur_name, cur, readme_text):
    """Returns a list of gate failures (empty = pass) for a prev->cur
    quiet-record pair. Pure function so the self-test can perturb it."""
    common = [k for k, v in cur["queries"].items()
              if v >= 0 and prev["queries"].get(k, -1) >= 0]
    if not common:
        return [f"no common keys between {prev_name} and {cur_name}"]
    pt = sum(prev["queries"][k] for k in common)
    ct = sum(cur["queries"][k] for k in common)
    if pt <= 0:
        return [f"{prev_name} common-key total is {pt}"]
    drift = ct / pt - 1.0
    if abs(drift) <= DRIFT_TOL:
        return []
    pr = re.search(r"r(\d+)", prev_name).group(1)
    cr = re.search(r"r(\d+)", cur_name).group(1)
    # whitespace-normalized: markdown hard-wraps lines, so the phrase may
    # break across a line boundary anywhere
    attr = re.search(
        rf"quiet[- ]bench drift r0?{int(pr)}\s*(?:->|→)\s*r0?{int(cr)}\s+attributed:",
        re.sub(r"\s+", " ", readme_text))
    if attr:
        return []
    return [
        f"quiet-bench common-key total drifted {drift:+.1%} "
        f"({prev_name} {pt:.1f}s -> {cur_name} {ct:.1f}s, {len(common)} keys, "
        f"tolerance ±{DRIFT_TOL:.0%}) with NO attribution — diagnose "
        f"(contention? harness? plan regression?) and add a line "
        f"'quiet-bench drift r{int(pr)}->r{int(cr)} attributed: <cause>' "
        f"to README.md"]


def perkey_claims(para, queries, spill_keys):
    """Per-key numeric claims in the scale-bench paragraph vs BENCH_SCALE
    columns (VERDICT r13 task 4: README quoted 11.5/77×/8.6 GB against an
    artifact saying 7.73/55.78/zero-spill — the stale class must FAIL the
    gate, not wait for a judge's diff). Grammar the README must use for
    per-key figures, each attributed to the nearest PRECEDING `key`:
      time <n>x      -> ratio_5x / ratio_25x / ratio_50x at the quoted
                        precision
      bytes <n>x     -> byte_ratio_5x / byte_ratio_25x / byte_ratio_50x
      exponent <n>   -> exponent or exponent_lo (three-point runs carry
                        both: the headline fit between the two largest
                        multiples and the low fit used for prediction)
      pred-err <n>   -> pred_err (three-point extrapolation check)
      spill-emergent -> key must be in some point's spill_emergent_keys
    Numbers not in this grammar (e.g. k^2=625x work claims, external
    artifact figures) are not checked. Returns drift messages."""
    msgs = []

    def quoted_match(txt, val):
        if val is None:
            return False
        dec = len(txt.split(".")[1]) if "." in txt else 0
        try:
            return f"{float(val):.{dec}f}" == f"{float(txt):.{dec}f}"
        except (TypeError, ValueError):
            return False

    parts = re.split(r"`(\w+)`", para)
    for i in range(1, len(parts) - 1, 2):
        key, seg = parts[i], parts[i + 1]
        row = queries.get(key)
        if row is None:
            continue
        for m in re.finditer(
                r"\b(time|bytes|exponent|pred-err)\s+(-?\d+(?:\.\d+)?)(?:[x×])?",
                seg):
            kind, num = m.group(1), m.group(2)
            cols = {"time": ("ratio_5x", "ratio_25x", "ratio_50x"),
                    "bytes": ("byte_ratio_5x", "byte_ratio_25x",
                              "byte_ratio_50x"),
                    "exponent": ("exponent", "exponent_lo"),
                    "pred-err": ("pred_err",)}[kind]
            if not any(quoted_match(num, row.get(c)) for c in cols):
                have = {c: row.get(c) for c in cols}
                msgs.append(f"README.md scale paragraph: `{key}` {kind} "
                            f"{num} matches no artifact column ({have})")
        if re.search(r"spill[- ]emergen", seg) and key not in spill_keys:
            msgs.append(f"README.md scale paragraph: `{key}` described as "
                        f"spill-emergent but artifact spill_emergent_keys "
                        f"= {sorted(spill_keys)}")
    return msgs


def _bench_action(path, data):
    """The record's measured action. Post-r17 records self-describe via
    the "action" field; historical inference: an explicit _countaction
    suffix, or any round <= 16, measured the count()-pruned plans (the
    protocol round 17 replaced with Harness.exhaust)."""
    a = data.get("action")
    if a:
        return a
    if "countaction" in path:
        return "count"
    return "count" if int(re.search(r"r(\d+)", path).group(1)) <= 16 \
        else "exhaust"


def _latest_quiet_pair():
    """Newest two SAME-ACTION quiet records (a count-action record next
    to an exhaust-action one is not a drift signal — the r17 action
    change moved the common-key total -30% by protocol alone, and that
    standing warning would mask a real future drift)."""
    import glob
    files = sorted(glob.glob("BENCH_QUIET_r*.json"),
                   key=lambda f: (int(re.search(r"r(\d+)", f).group(1)), f))
    if not files:
        return None
    recs = [(f, _bench_action(f, json.load(open(f)))) for f in files]
    newest_f, newest_a = recs[-1]
    same = [f for f, a in recs if a == newest_a]
    return same[-2:] if len(same) >= 2 else None


def phantom_mains(text, exists):
    """Names of `graft.<Name>` entry points cited in a doc whose source
    file src/main/scala/graft/<Name>.scala does not exist (empty = pass).
    `exists` is the path predicate, so the self-test can fake a tree."""
    names = sorted(set(re.findall(r"\bgraft\.([A-Z]\w*)", text)))
    return [n for n in names
            if not exists(f"src/main/scala/graft/{n}.scala")]


readme = open("README.md").read()

if "--selftest-drift" in sys.argv:
    # synthetic perturbation: gate must FIRE on +16% and stay quiet on +14%
    base = {"queries": {"a": 10.0, "b": 20.0}}
    hot = {"queries": {"a": 11.6, "b": 23.2}}   # +16%
    warm = {"queries": {"a": 11.4, "b": 22.8}}  # +14%
    fired = quiet_drift("BENCH_QUIET_r97.json", base,
                        "BENCH_QUIET_r98.json", hot, "")
    quietok = quiet_drift("BENCH_QUIET_r97.json", base,
                          "BENCH_QUIET_r98.json", warm, "")
    attributed = quiet_drift(
        "BENCH_QUIET_r97.json", base, "BENCH_QUIET_r98.json", hot,
        "quiet-bench drift r97->r98 attributed: synthetic self-test")
    assert fired and not quietok and not attributed, (fired, quietok, attributed)
    print("selftest-drift: gate fires on +16%, passes +14%, "
          "passes attributed +16%")
    # per-key claim gate: must FIRE on a stale number / phantom spill
    # claim and stay quiet on artifact-true ones
    q = {"simhash_hamming_pairs":
         {"ratio_5x": 6.05, "ratio_25x": 55.78, "ratio_50x": 140.2,
          "byte_ratio_25x": 333.51, "exponent": 1.38, "exponent_lo": 1.12,
          "pred_err": 1.61}}
    stale = perkey_claims(
        "the flag is `simhash_hamming_pairs` (time 77x, exponent 1.98, "
        "pred-err 0.9, its 8.6 GB spill-emergence is benign)", q, set())
    fresh = perkey_claims(
        "the flag is `simhash_hamming_pairs` (time 55.78x at 25x, "
        "time 140.2x at 50x, bytes 333.51x, exponent 1.38, "
        "exponent 1.12 on the low fit, pred-err 1.61)", q,
        {"simhash_hamming_pairs"})
    assert len(stale) == 4 and not fresh, (stale, fresh)
    print("selftest-perkey: gate fires on stale time/exponent/spill "
          "claims, passes artifact-true ones")
    # action-awareness: the pairing must never put a count-action record
    # against an exhaust-action one, and a -30% cross-action compare —
    # if forced through directly — must still warn (the gate itself
    # stays protocol-blind; the PAIRING carries the protocol knowledge)
    assert _bench_action("BENCH_QUIET_r16.json", {}) == "count"
    assert _bench_action("BENCH_QUIET_r17_countaction.json", {}) == "count"
    assert _bench_action("BENCH_QUIET_r17.json", {}) == "exhaust"
    assert _bench_action("BENCH_QUIET_r99.json",
                         {"action": "exhaust"}) == "exhaust"
    cross = quiet_drift("BENCH_QUIET_r17.json", {"queries": {"a": 167.0}},
                        "BENCH_QUIET_r17_countaction.json",
                        {"queries": {"a": 116.9}}, "")
    assert cross, "a forced cross-action -30% compare must still warn"
    print("selftest-action: historical action inference correct; a "
          "forced cross-action compare still fires the gate")
    # oracle-budget canary: a synthetic slow key (seconds past both the
    # relative and absolute gates) must flag; a sub-second 60x-median
    # blip must NOT (absolute floor); a timing-less map must flag as
    # pre-canary
    base = {f"k{i}": {"oracle_sec": 0.1} for i in range(20)}
    slow = dict(base, bad={"oracle_sec": 12.0})    # 120x median, 12 s
    blip = dict(base, meh={"oracle_sec": 4.0})     # 40x median, < 5 s floor
    fired = oracle_outliers(slow)
    assert len(fired) == 1 and "`bad`" in fired[0], fired
    assert not oracle_outliers(blip), oracle_outliers(blip)
    old = oracle_outliers({"k": {"hash_match": True}})
    assert old and "predates" in old[0], old
    print("selftest-oracle-canary: slow key flagged, sub-floor blip "
          "suppressed, timing-less artifact flagged as pre-canary")
    # phantom-main gate: a cited main without a source file must flag;
    # lower-case package paths (graft.ops.Etl) are not entry points
    cited = "run `graft.Bench`, then `graft.GoneProbe`; see graft.ops.Etl"
    got = phantom_mains(cited, lambda p: p.endswith("/Bench.scala"))
    assert got == ["GoneProbe"], got
    print("selftest-phantom-main: a cited main with no source file is "
          "flagged, an existing one passes")
    sys.exit(0)

# phantom-evidence gate (VERDICT r17 task 7): every artifact README or
# SURVEY names as committed must exist in the repo — a doc citing a file
# that isn't there (or naming it "committed" before the commit) is the
# round-17 phantom-artifact class: claims must match evidence.
for doc in ("README.md", "SURVEY.md"):
    txt = open(doc).read()
    for m in re.finditer(r"committed as\s+`([A-Za-z0-9_./]+\.json)`", txt):
        p = m.group(1)
        if not os.path.exists(p):
            print(f"DRIFT {doc}: claims artifact `{p}` is committed but "
                  f"the file does not exist")
            ok = False
    # phantom-main gate: a cited `graft.<Name>` entry point must still
    # have its source file — prose must not outlive a deleted main
    for n in phantom_mains(txt, os.path.exists):
        print(f"DRIFT {doc}: cites entry point `graft.{n}` but "
              f"src/main/scala/graft/{n}.scala does not exist")
        ok = False

pair = _latest_quiet_pair()
if pair:
    prev_f, cur_f = pair
    msgs = quiet_drift(prev_f, json.load(open(prev_f)),
                       cur_f, json.load(open(cur_f)), readme)
    for m in msgs:
        print(f"DRIFT {m}")
        ok = False
# every artifact superlinear key must be named in README's scale-bench
# narrative, and no key may be *claimed* superlinear that the artifact
# doesn't list (checked only within the BENCH_SCALE paragraph)
para = re.search(r"Measured ALL-KEYS scale bench.*?(?=\n- |\Z)", readme,
                 re.S)
if para is None:
    print("DRIFT README.md: no 'Measured ALL-KEYS scale bench' paragraph")
    ok = False
else:
    named = set(re.findall(r"`(\w+)`", para.group(0)))
    miss = want_keys - named
    if miss:
        print(f"DRIFT README.md: superlinear keys missing from the "
              f"scale-bench paragraph: {sorted(miss)}")
        ok = False
    # off-fit keys (three-point runs) carry analysis notes in the
    # artifact; the README narrative must name them the same way it
    # names superlinear keys — a bent curve is a finding, not a footnote
    offmiss = set(art.get("offfit_keys", [])) - named
    if offmiss:
        print(f"DRIFT README.md: off-fit keys missing from the "
              f"scale-bench paragraph: {sorted(offmiss)}")
        ok = False
    spill_keys = set()
    for pt in art.get("points", []):
        spill_keys |= set(pt.get("spill_emergent_keys", []))
    for m in perkey_claims(para.group(0), art["queries"], spill_keys):
        print(f"DRIFT {m}")
        ok = False

sys.exit(0 if ok else 1)
