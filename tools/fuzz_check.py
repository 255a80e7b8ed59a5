#!/usr/bin/env python3
"""Adversarial end-to-end gate: build a documents table full of the
inputs the fixed testdata corpus never exercises (emails, URLs, long
digit runs, multi-byte unicode, empty/1-char strings, exact and near
duplicates, embedded quotes/newlines/tabs/backslashes), splice it into a
copy of sf0.001, run graft.Verify on it, and DuckDB-compare every key.

Divergences the fixed corpus masks (e.g. a regex that Spark and DuckDB
parse differently) fail HERE even though the driver's gate can't see
them. Usage: python3 tools/fuzz_check.py [--out PATH]

--out names the verdict artifact (default FUZZ_CORRECTNESS.json at the
repo root). The spliced corpus and Verify's output go to a fresh
temporary directory per run, removed on exit, so concurrent runs (e.g.
from two checkouts) never share or clobber each other's inputs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
BASE = Path("/root/testdata/sf0.001")


def adversarial_docs():
    docs = []

    def add(text, lang="en", source="fuzz"):
        docs.append((len(docs), text, lang, source, len(text)))

    add("plain text the and of is control document with enough words to shingle")
    add("contact alice@example.com or bob.smith+tag@sub.domain.org today")
    add("bob@localhost is not a dotted domain but x@y.zz is one")
    add("see https://example.com/path?q=1 and http://a.b/c for details")
    add("call 12345678 or 999123456789 long digit runs here")
    add("unicode café naïve 中文文档 \U0001f600 emoji and ssß")
    add("")  # empty text
    add("x")  # single char (shorter than the 8-char shingle)
    add("short")
    add('quotes "double" and \'single\' and back\\slash and\ttab')
    add("line\nbreak carriage\rreturn mixed")
    add("the the the the the the the the repeated stopwords only")
    add("0123456789" * 50)  # one long digit run
    add("a b c d e f g h i j k l m n o p q r s t u v w x y z " * 8)
    base = ("some repeated near duplicate content block with many shared "
            "shingles across copies numbered ")
    add(base + "one " + "tail common " * 30)   # near-dup pair
    add(base + "two " + "tail common " * 30)
    dup = "exactly duplicated document content for the exact-dedup path"
    add(dup)
    add(dup)  # exact dup
    add("der und das ist deutscher beispieltext mit einigen worten", lang="de")
    add("le et les une texte exemple avec quelques mots", lang="fr")
    add("el los que para texto ejemplo con algunas palabras", lang="es")
    add("MiXeD CaSe TOKENS and UPPER lower tokens", lang="en")
    # long document (shingle volume)
    add(" ".join(f"w{i}" for i in range(2000)))
    # quality-band boundary probes: stop_milli = 1000 (all stopwords),
    # 0 (no stopwords), a language with exactly ONE doc (band must be 1),
    # and a two-doc language TIED on score (ties must share a band)
    add("the and of is a to in the and of is a to in")       # all-stopword
    add("zebra quark flux nimbus vortex glyph prism")        # zero-stopword
    add("ydinvoimala ja sauna jarvi metsa talvi", lang="fi") # 1-doc lang
    add("una palabra el que", lang="pt")                     # tie pair:
    add("otra palabra el que", lang="pt")                    # same score
    # substring_dedup run-splitting: two docs share two DISJOINT >=50-char
    # spans separated by differing middles -> two maximal runs per doc,
    # and a third doc shares one span only partially (< 50 chars -> no run)
    span_a = "shared passage alpha " * 3          # 63 chars
    span_b = "shared passage bravo " * 3          # 63 chars
    add(span_a + " first middle unique text here " + span_b)
    add(span_a + " second different middle filler " + span_b)
    add(span_a[:40] + " too short a share to reach the fifty char gram")
    # NULL text (distinct from the empty string above): the sentinel-
    # bucket path (length_bucket_pack -1, qualityBandOf's rule) and every
    # coalesce(text, ...) must agree across engines (ADVICE r12)
    docs.append((len(docs), None, "en", "fuzz", 0))
    return docs


def adversarial_embeddings(dim=8):
    vecs = []

    def add(v, label=0):
        vecs.append((len(vecs), [float(x) for x in v], label))

    add([0.0] * dim)                      # zero vector (zero norm)
    add([])                               # empty array
    add([1.0, 2.0])                       # shorter than the corpus dim
    add([1.0] * dim, 1)
    add([1.0] * dim, 1)                   # identical pair (cosine tie = 1)
    add([-1.0] * dim, 2)                  # antipodal
    add([1e4] * dim, 3)                   # large magnitude
    add([1e-10] * dim, 3)                 # denormal-ish
    add([(-1) ** i * (i + 1) for i in range(dim)], 4)
    # identical SMALL-NORM pair: dot = 8*(0.1*1000)^2 = 80k < the 250k
    # near-dup threshold, so dedup_embedding must NOT pair them and
    # semdedup_keep must keep BOTH despite verbatim equality — the
    # "identical but not a semantic duplicate by the contract" path
    add([0.1] * dim, 6)
    add([0.1] * dim, 6)
    for i in range(dim):                  # unit basis vectors
        v = [0.0] * dim
        v[i] = 1.0
        add(v, 5)
    return vecs


def adversarial_events():
    evs = []

    def add(ts, user, etype, value, props):
        evs.append((len(evs), ts, user, etype, value, props))

    t0 = "2024-03-01 10:00:00"
    add(t0, 1, "purchase", 10.00, '{"k": 7}')          # band boundary: exactly $10
    add(t0, 1, "click", 9.99, '{"k": 3}')              # same user, SAME timestamp (asof tie)
    add("2024-03-01 10:30:00", 1, "view", 50.00, '{"k": "12"}')   # k as string number
    add("2024-03-01 11:00:01", 1, "purchase", 199.99, '{"k": "abc"}')  # non-numeric k
    add("2024-03-01 11:30:01", 1, "click", 0.01, "not json at all")    # malformed JSON
    add("2024-03-01 12:00:02", 2, "error", 999.99, None)           # NULL props
    add("2024-03-01 12:00:02", 2, "error", 999.99, "{}")           # missing key
    add("2024-03-01 13:00:00", 3, "signup", -5.00, '{"k": -1}')    # negative value (below all bands)
    add("2024-03-01 13:00:00.000001", 3, "click", 0.0, '{"k": 0}') # 1µs apart; zero value
    add("2024-03-02 09:59:59", 4, "view", 1000.00, '{"k": 99999999999999}')  # > band max
    add("2024-03-02 10:29:59", 4, "purchase", 49.995, '{"k": 5}')  # half-cent rounding
    add("2024-03-02 10:59:59", 4, "click", 49.995, '{"k": 5}')     # session chain 30-min gaps
    add("2024-03-03 09:00:00", 5, "view", 0.125, '{"k": 8}')       # EXACT binary tie: HALF_UP parity
    add("2024-03-03 09:00:01", 5, "view", -0.125, '{"k": 8}')      # negative tie (away-from-zero)
    # interval-join boundary probes (stream_click_attrib / _outer:
    # p.ts >= c.ts AND p.ts < c.ts + 1h — both engines must cut the
    # window identically at microsecond precision)
    add("2024-03-04 10:00:00", 7, "click", 0.0, None)
    add("2024-03-04 10:00:00", 7, "purchase", 1.00, None)          # lag 0: included (>=)
    add("2024-03-04 10:59:59.999999", 7, "purchase", 2.00, None)   # last µs in window
    add("2024-03-04 11:00:00", 7, "purchase", 3.00, None)          # exactly +1h: EXCLUDED (<)
    add("2024-03-04 11:00:00.000001", 7, "purchase", 4.00, None)   # 1µs past: excluded
    add("2024-03-04 09:00:00", 8, "purchase", 5.00, None)          # no click ever: outer NULL row
    add("2024-03-04 12:00:00", 9, "click", 0.0, None)              # two clicks, one purchase:
    add("2024-03-04 12:30:00", 9, "click", 0.0, None)              # both pair with it
    add("2024-03-04 12:59:00", 9, "purchase", 6.00, None)
    return evs


def main():
    ap = argparse.ArgumentParser(description="adversarial-corpus oracle gate")
    ap.add_argument("--out", default=str(ROOT / "FUZZ_CORRECTNESS.json"),
                    help="verdict artifact path (default: %(default)s)")
    args = ap.parse_args()
    with tempfile.TemporaryDirectory(prefix="graft_fuzz_") as tmp:
        return run(Path(tmp) / "data", Path(tmp) / "out", Path(args.out))


def run(work, out, art_path):
    work.mkdir(parents=True)
    # copy every base table, then replace documents + embeddings with the
    # adversarial sets
    for f in BASE.glob("*.parquet"):
        shutil.copy(f, work / f.name)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", adversarial_docs())
    con.execute(f"COPY d TO '{work}/documents.parquet' (FORMAT PARQUET)")
    con.execute(
        "CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", adversarial_embeddings())
    con.execute(f"COPY e TO '{work}/embeddings.parquet' (FORMAT PARQUET)")
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?)",
                    adversarial_events())
    con.execute(f"COPY ev TO '{work}/events.parquet' (FORMAT PARQUET)")

    # adversarial relational rows APPENDED to the copies (the base data
    # stays so every key remains meaningful): NULL dates/keys/amounts,
    # negatives, dangling FKs, duplicate natural keys
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{BASE}/orders.parquet')
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (900001, NULL,   'O', 100.00, TIMESTAMP '1997-06-15 00:00:00', 'FUZZ'),
          (900002, 1,      'O', NULL,   TIMESTAMP '1997-06-16 00:00:00', 'FUZZ'),
          (900003, 1,      'F', -42.42, NULL,                            'FUZZ'),
          (900004, 999999, 'F', 0.01,   TIMESTAMP '1997-06-18 00:00:00', 'FUZZ')
        ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
      ) TO '{work}/orders.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{BASE}/customer.parquet')
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (910001, 'Fuzz NullNation', NULL, 12.34,  'FUZZ'),
          (910002, 'Fuzz NullBal',    1,    NULL,   'FUZZ'),
          (910003, 'Fuzz Negative',   2,    -99.99, 'FUZZ')
        ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
      ) TO '{work}/customer.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{BASE}/lineitem.parquet')
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (900001, 1, 1, 1, NULL,  10.00, 0.05, 0.0, 'N', 'O', TIMESTAMP '1997-06-20 00:00:00'),
          (900001, 1, 1, 1, 5.00,  10.00, NULL, 0.0, 'N', 'O', TIMESTAMP '1997-06-20 00:00:00'),
          (900002, 2, 1, 1, 0.00,  10.00, 0.05, 0.0, 'A', 'F', NULL),
          (900004, 3, 1, 2, 3.00,  -1.00, 1.00, 0.0, 'R', 'F', TIMESTAMP '1997-06-21 00:00:00'),
          (900005, NULL, NULL, 3, 1.00, 10.00, 0.0, 0.0, 'N', 'O', TIMESTAMP '1997-06-22 00:00:00')
        ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
            l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
      ) TO '{work}/lineitem.parquet' (FORMAT PARQUET)""")

    # part rows stress fuzzy_link's deletion-neighborhood linkage
    # (codepoint-exact substring/levenshtein parity on multibyte names),
    # string_funcs, and the product dim build: unicode, 1-char, quotes,
    # NULL/empty names (must degrade to "excluded", not crash on the
    # pk % length(name) corruption), duplicate names, NULL price/size
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{BASE}/part.parquet')
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (920001, 'café wïdget 中文', 'Brand#90', 'FUZZ', 1,    1.005),
          (920002, 'x',               'Brand#90', 'FUZZ', 2,    0.01),
          (920003, 'quote "name" ok', 'Brand#91', 'FUZZ', 3,    10.00),
          (920004, NULL,              'Brand#91', 'FUZZ', 4,    10.00),
          (920005, '',                'Brand#91', 'FUZZ', 5,    10.00),
          (920006, 'cold widget',     'Brand#92', 'FUZZ', NULL, NULL),
          (920007, 'cold widget',     'Brand#92', 'FUZZ', 6,    -1.00)
        ) t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
      ) TO '{work}/part.parquet' (FORMAT PARQUET)""")

    # supplier + nation rows stress the graph family (pagerank groups
    # nations by region; a NULL n_regionkey node must drop out of the
    # edge set identically in both engines), the 3-chain join, and the
    # per-nation stats keys (a nation with NO customers/suppliers)
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{BASE}/supplier.parquet')
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (930001, 'Fuzz NullNation Supplier', NULL, 100.00),
          (930002, 'Fuzz ürü 供应商',          1,    NULL),
          (930003, NULL,                       2,    -0.005)
        ) t(s_suppkey, s_name, s_nationkey, s_acctbal)
      ) TO '{work}/supplier.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{BASE}/nation.parquet')
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (940001, 'FUZZ_NULL_REGION', NULL),
          (940002, 'FUZZ_LONE_REGION', 99)
        ) t(n_nationkey, n_name, n_regionkey)
      ) TO '{work}/nation.parquet' (FORMAT PARQUET)""")

    # `out` is fresh per run: stale outputs from a previous run would be
    # silently compared when a query THROWS (Verify's overwrite never
    # happens for failed keys)
    print(f"[fuzz] {con.sql('SELECT count(*) FROM d').fetchone()[0]} adversarial docs; running Verify...")
    # run_main.sh (plain java over compiled classes), not sbt: no target
    # lock to deadlock against a concurrent sbt, and no recompile — so a
    # stale target/ would silently verify OLD code and commit a green
    # artifact that doesn't describe HEAD (ADVICE r18). Enforce, don't
    # acknowledge: abort when any source is newer than the newest class.
    # FUZZ_ALLOW_STALE=1 overrides for deliberate frozen-snapshot runs
    # (the GRAFT_CLASSES bench-chain pattern).
    src_mt = max((p.stat().st_mtime
                  for p in (ROOT / "src" / "main").rglob("*.scala")),
                 default=0.0)
    cls_dir = Path(os.environ.get("GRAFT_CLASSES",
                                  ROOT / "target" / "scala-2.13" / "classes"))
    cls_mt = max((p.stat().st_mtime for p in cls_dir.rglob("*.class")),
                 default=0.0)
    if src_mt > cls_mt and os.environ.get("FUZZ_ALLOW_STALE") != "1":
        print(f"[fuzz] STALE CLASSES: newest src/main .scala "
              f"({src_mt:.0f}) is newer than newest .class under "
              f"{cls_dir} ({cls_mt:.0f}) — run `sbt compile` first, or "
              "set FUZZ_ALLOW_STALE=1 for a deliberate frozen-snapshot "
              "run")
        sys.exit(2)
    r = subprocess.run(
        ["tools/run_main.sh", "graft.Verify", str(work), str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    # only genuine key failures ("[verify] <key> failed: ...") gate the
    # exit code — Verify also prints informational "[verify] stage built
    # once" lines. Anchor on the failure marker itself: excluding the
    # info-line text instead would drop a real failure whose exception
    # message happens to contain it
    fails = [l for l in r.stderr.splitlines()
             if "[verify]" in l and "failed:" in l]
    for l in fails:
        print(l)
    if r.returncode != 0 and not (out / "oracle_sql.json").exists():
        print("[fuzz] Verify crashed"); sys.exit(2)
    verdicts_p = out / "verdicts.json"
    rc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "oracle_check.py"), str(work),
         str(out), str(verdicts_p)]).returncode
    # standing artifact (VERDICT r10 task 2): the per-key verdicts on the
    # adversarial corpus, committed and drift-gated by tools/docs_check.py
    # — a regression in any regex/NULL path is visible at HEAD instead of
    # only between manual runs. Written red or green (a red artifact is
    # honest evidence); the exit code still gates.
    verdicts = json.loads(verdicts_p.read_text())
    art = {
        "artifact": "FUZZ_CORRECTNESS",
        "base_sf": str(BASE),
        "protocol": ("tools/fuzz_check.py — adversarial documents/"
                     "embeddings/events tables (NULLs, unicode, empty/"
                     "1-char strings, exact+near dups, malformed JSON, "
                     "boundary timestamps, zero/antipodal/ragged vectors) "
                     "plus NULL/negative/unicode/dangling-FK rows spliced "
                     "into every relational table; full graft.Verify + "
                     "DuckDB oracle compare on the spliced corpus"),
        "total": len(verdicts),
        "passed": sum(1 for v in verdicts.values()
                      if v.get("hash_match") and not v.get("err")),
        "queries": verdicts,
    }
    art_path.write_text(json.dumps(art, indent=None) + "\n")
    print(f"[fuzz] {art_path.name}: {art['passed']}/{art['total']}")
    return 1 if (rc or fails) else 0


if __name__ == "__main__":
    sys.exit(main())
