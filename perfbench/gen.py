"""Seeded input generator for the benchmark workloads.

Derives each workload's inputs from a base testdata directory (default
sf0.1) by key-consistent replication, the protocol of the engine's
`graft.ScaleData`: every key family gets one stride (max + 1 over its
base domain), replica i adds i * stride to every column of that family,
and payload columns copy verbatim. So every foreign key still resolves
inside its replica.

The seed then picks:
  * the row order of every written table;
  * which star-schema replicas (of 1..k-1) are perturbed, and in a
    perturbed replica which lineitems stop qualifying (quantity 0), which
    get another discount, which orders move one year back, and which
    customers are missing (their orders resolve to customer -1). With
    two replicas, replica 1 is always the perturbed one;
  * which corpus docs of replicas 1.. become exact duplicates,
    near-duplicates or novel docs. The mix is fixed (CORPUS_MIX); the
    seed only decides which doc gets which.

Each replica copies a fixed slice of the base (BASE_SLICE); replica 0
is that slice verbatim. The same seed gives byte-identical parquet on
the same DuckDB version.
"""
import json
import os
from pathlib import Path

import duckdb

STAR_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem"]

# column -> key family; the same map as graft.ScaleData
KEY_FAMILY = {
    "r_regionkey": "region", "n_regionkey": "region",
    "n_nationkey": "nation", "c_nationkey": "nation",
    "s_nationkey": "nation",
    "c_custkey": "cust", "o_custkey": "cust",
    "s_suppkey": "supp", "l_suppkey": "supp",
    "p_partkey": "part", "l_partkey": "part",
    "o_orderkey": "order", "l_orderkey": "order",
    "doc_id": "doc"}

FAMILY_DOMAIN = {
    "region": ("region", "r_regionkey"), "nation": ("nation", "n_nationkey"),
    "cust": ("customer", "c_custkey"), "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"), "order": ("orders", "o_orderkey"),
    "doc": ("documents", "doc_id")}

# row-identity columns, hashed with the seed to shuffle the row order
ROW_ID = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "documents": ["doc_id"]}

# per mille of the docs of replicas 1..k-1; replica 0 is the base corpus
CORPUS_MIX = {"exact_dup": 400, "near_dup": 300, "novel": 300}

# Fixed (seed-independent) slice of the base each replica copies, sized
# so that an operation takes a few seconds on 4 cores: half the orders
# with all their lineitems, and 4 docs in 10 from every source.
BASE_SLICE = {"orders": "o_orderkey % 2 = 0", "lineitem": "l_orderkey % 2 = 0",
              "documents": "doc_id % 10 < 4"}


def _strides(con, base, tables):
    out = {}
    for fam, (tbl, c) in FAMILY_DOMAIN.items():
        if tbl in tables:
            m = con.execute(
                f"SELECT max({c}) FROM read_parquet('{base}/{tbl}.parquet')"
            ).fetchone()[0]
            out[fam] = (m or 0) + 1
    return out


def _replica_sql(con, base, table, i, strides):
    cols = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{base}/{table}.parquet')"
    ).fetchall()
    sel = []
    for name, dtype, *_ in cols:
        fam = KEY_FAMILY.get(name)
        if fam and i:
            # cast back: the replica keeps the base's physical types
            sel.append(f"CAST({name} + {i * strides[fam]} AS {dtype}) AS {name}")
        else:
            sel.append(name)
    return (f"SELECT {', '.join(sel)}, {i} AS rep "
            f"FROM read_parquet('{base}/{table}.parquet') "
            f"WHERE {BASE_SLICE.get(table, 'true')}")


def perturbed_replicas(seed, k):
    """Star replicas (>= 1) the seed perturbs; never empty when k > 1."""
    if k < 2:
        return []
    con = duckdb.connect()
    reps = {i for i in range(1, k)
            if con.execute(f"SELECT hash({seed}, {i}) % 2").fetchone()[0] == 0}
    reps.add(1 + con.execute(f"SELECT hash({seed}) % {k - 1}").fetchone()[0])
    return sorted(reps)


def _star_perturbations(seed, reps):
    inp = f"rep IN ({', '.join(map(str, reps))})" if reps else "false"
    h = lambda *c: f"hash({seed}, {', '.join(c)})"
    return {
        # 1 in 20 lineitems of a perturbed replica stops qualifying,
        # another 1 in 20 gets one more point of discount
        "lineitem": {
            "l_quantity": f"CASE WHEN {inp} AND {h('l_orderkey', 'l_linenumber')} % 20 = 0 "
                          f"THEN 0.0 ELSE l_quantity END",
            "l_discount": f"CASE WHEN {inp} AND {h('l_orderkey', 'l_linenumber')} % 20 = 1 "
                          f"THEN least(l_discount + 0.01, 0.10) ELSE l_discount END"},
        # 1 in 10 orders of a perturbed replica moves one year back
        "orders": {
            "o_orderdate": f"CASE WHEN {inp} AND {h('o_orderkey')} % 10 = 0 "
                           f"THEN o_orderdate - INTERVAL 1 YEAR ELSE o_orderdate END"},
    }


def _star_filter(seed, reps, table):
    if table == "customer" and reps:
        # 1 in 50 customers of a perturbed replica is missing
        return (f"NOT (rep IN ({', '.join(map(str, reps))}) AND "
                f"hash({seed}, c_custkey) % 50 = 0)")
    return "true"


def _corpus_text(seed):
    """Text for one doc of the replicated corpus, by its fixed-mix class."""
    ex, nd = CORPUS_MIX["exact_dup"], CORPUS_MIX["near_dup"]
    cls = f"hash({seed}, doc_id) % 1000"
    words = "string_split(text, ' ')"
    # near-dup: one word in 25 swapped for its neighbour's
    near = (f"array_to_string(list_transform({words}, (w, i) -> "
            f"CASE WHEN hash({seed}, doc_id, i) % 25 = 0 "
            f"THEN {words}[CASE WHEN i = 1 THEN 2 ELSE i - 1 END] ELSE w END), ' ')")
    # novel: the doc's words in a seed-chosen order (new shingles, same
    # token and stop-word counts, so the quality gates still apply)
    novel = (f"array_to_string(list_transform(list_sort(list_transform({words}, "
             f"(w, i) -> hash({seed}, doc_id, i)::VARCHAR || chr(1) || w)), "
             f"x -> split_part(x, chr(1), 2)), ' ')")
    return (f"CASE WHEN rep = 0 OR text IS NULL OR {cls} < {ex} THEN text "
            f"WHEN {cls} < {ex + nd} THEN {near} ELSE {novel} END")


def generate(base, out, seed, kind, k):
    """Write the `kind` ('star' or 'corpus') inputs for `seed` at k
    replicas under `out`; return the record of what was written."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    tables = STAR_TABLES if kind == "star" else ["documents"]
    strides = _strides(con, base, tables)
    reps = perturbed_replicas(seed, k) if kind == "star" else []
    pert = _star_perturbations(seed, reps) if kind == "star" else {}
    record = {"kind": kind, "replicas": k, "seed": seed,
              "base_slice": {t: BASE_SLICE[t] for t in tables if t in BASE_SLICE},
              "tables": {}}
    for t in tables:
        union = " UNION ALL ".join(
            _replica_sql(con, base, t, i, strides) for i in range(k))
        types = dict(c[:2] for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{base}/{t}.parquet')"
        ).fetchall())
        exprs = dict(pert.get(t, {}))
        if t == "documents":
            exprs["n_chars"] = ("CASE WHEN text IS NULL THEN n_chars "
                                "ELSE length(new_text) END")
        sel = []
        for c, dtype in types.items():
            if c == "text" and t == "documents":
                sel.append("new_text AS text")
            elif c in exprs:
                sel.append(f"CAST({exprs[c]} AS {dtype}) AS {c}")
            else:
                sel.append(c)
        src = f"SELECT * FROM ({union})"
        if t == "documents":
            src = f"SELECT *, {_corpus_text(seed)} AS new_text FROM ({union})"
        order = ", ".join(ROW_ID[t])
        path = out / f"{t}.parquet"
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM ({src}) "
            f"WHERE {_star_filter(seed, reps, t)} "
            f"ORDER BY hash({seed}, {order})) TO '{path}' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 100000)")
        rows = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        record["tables"][t] = {"rows": rows, "bytes": os.path.getsize(path)}
    if kind == "star":
        record["perturbed_replicas"] = reps
    else:
        record["dup_mix_per_mille_of_replicas_1_plus"] = CORPUS_MIX
    (out / "inputs.json").write_text(json.dumps(record, indent=1))
    return record
