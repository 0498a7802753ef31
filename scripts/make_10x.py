#!/usr/bin/env python3
"""Write a 10x copy of an sf0.1 testdata directory, then check it.

Usage: python3 scripts/make_10x.py <sf0.1 dir> [out dir]

The out dir defaults to <tmp>/sf0.1x10 and must lie outside the source
dir; the source is only read. Every tool that takes an sf dir
(graft.Verify, scripts/compare.py, graft.tools.Inspect, graft.Bench)
reads the result unchanged.

Copies. Every fact and dimension table holds ten disjoint copies,
k = 0..9; nation and region are written once. Copy k shifts each key
domain by k * (domain max + 1), with one shift per domain on every
column that joins it:
  doc_id = vec_id          (documents join embeddings: 2,000 rows/copy)
  o_orderkey = l_orderkey, p_partkey = l_partkey, s_suppkey = l_suppkey,
  c_custkey = o_custkey, event_id, user_id.
Every 10x doc_id stays below 1,000,000, the offset at which p16 and p18
plant their duplicate copies. c_name and s_name are rebuilt from the
shifted key (TPC-H form), so names stay unique. Non-key columns,
timestamps included, are copied as they are.

Salt. Copy k appends the one token ` salt<k>` to documents.text (and
its length to n_chars), so no two copies are exact duplicates. They
stay NEAR duplicates: each base document has nine near-copies that
differ by one trailing token. Near-dup and pair-producing operators
(minhash/simhash/prefix-join/TF-cosine dedup, containment, stitch and
cluster joins) therefore grow their true output about 10x faster than
their input: each base pair becomes up to 100 copy pairs, and each
document gains nine near-duplicate partners. Their 10x slope is result
growth, not wasted work. Per-row, per-key and fixed-grid operators
scale with rows.

Self-check (exit 1 on any failure): every table keeps the source's
arrow schema; each copied table has exactly 10x the source rows; the copies of every key domain are disjoint; nation
and region equal the source; documents join embeddings on
doc_id = vec_id has exactly 20,000 rows; every doc_id < 1,000,000.
"""
import os
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

COPIES = 10
PLANTED_OFFSET = 1_000_000
SALT = "' salt' || k::VARCHAR"

# key domain -> the columns (table, column) that carry it
DOMAINS = {
    "doc": [("documents", "doc_id"), ("embeddings", "vec_id")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
}
COPIED = ["customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
ONCE = ["nation", "region"]


def src(d, t):
    return f"read_parquet('{d}/{t}.parquet')"


def build(con, src_dir, out_dir):
    shift = {}
    for dom, cols in DOMAINS.items():
        mx = max(con.execute(f"SELECT max({c}) FROM {src(src_dir, t)}")
                 .fetchone()[0] for t, c in cols)
        shift[dom] = mx + 1
    col_shift = {(t, c): shift[dom]
                 for dom, cols in DOMAINS.items() for t, c in cols}
    for t in COPIED:
        repl = [f"{c} + k * {s} AS {c}"
                for (tt, c), s in col_shift.items() if tt == t]
        if t == "customer":
            repl.append("'Customer#' || lpad((c_custkey + k * "
                        f"{shift['cust']})::VARCHAR, 9, '0') AS c_name")
        if t == "supplier":
            repl.append("'Supplier#' || lpad((s_suppkey + k * "
                        f"{shift['supp']})::VARCHAR, 9, '0') AS s_name")
        if t == "documents":
            repl += [f"text || {SALT} AS text",
                     f"n_chars + length({SALT}) AS n_chars"]
        write(con, f"SELECT * EXCLUDE (k, file_row_number) "
              f"REPLACE ({', '.join(repl)}) FROM read_parquet("
              f"'{src_dir}/{t}.parquet', file_row_number=true), "
              f"range({COPIES}) r(k) ORDER BY k, file_row_number",
              f"{out_dir}/{t}.parquet")
    for t in ONCE:
        write(con, f"SELECT * FROM {src(src_dir, t)}", f"{out_dir}/{t}.parquet")


def write(con, sql, path):
    """One snappy row group, as the source files are written, so a 1x/10x
    comparison reads the same file layout at both scales."""
    tbl = con.execute(sql).arrow()
    pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1),
                   compression="snappy")


def check(con, src_dir, out_dir):
    failures = []

    def one(sql):
        return con.execute(sql).fetchone()[0]

    for t in COPIED:
        n1, n10 = one(f"SELECT count(*) FROM {src(src_dir, t)}"), \
            one(f"SELECT count(*) FROM {src(out_dir, t)}")
        if n10 != COPIES * n1:
            failures.append(f"{t}: {n10} rows, want {COPIES} x {n1}")
    for t in COPIED + ONCE:
        s1 = pq.read_schema(f"{src_dir}/{t}.parquet").remove_metadata()
        s10 = pq.read_schema(f"{out_dir}/{t}.parquet").remove_metadata()
        if not s1.equals(s10):
            failures.append(f"{t}: schema {s10} differs from the source {s1}")
    for dom, cols in DOMAINS.items():
        for t, c in cols:
            d1 = one(f"SELECT count(DISTINCT {c}) FROM {src(src_dir, t)}")
            d10 = one(f"SELECT count(DISTINCT {c}) FROM {src(out_dir, t)}")
            if d10 != COPIES * d1:
                failures.append(f"{t}.{c}: {d10} distinct keys, want "
                                f"{COPIES} x {d1} (copies overlap)")
    for t in ONCE:
        diff = one(f"SELECT count(*) FROM ((SELECT * FROM {src(src_dir, t)} "
                   f"EXCEPT ALL SELECT * FROM {src(out_dir, t)}) UNION ALL "
                   f"(SELECT * FROM {src(out_dir, t)} EXCEPT ALL "
                   f"SELECT * FROM {src(src_dir, t)}))")
        if diff:
            failures.append(f"{t}: {diff} rows differ from the source")
    joined = one(f"SELECT count(*) FROM {src(out_dir, 'documents')} d "
                 f"JOIN {src(out_dir, 'embeddings')} e ON doc_id = vec_id")
    if joined != 20000:
        failures.append(f"documents join embeddings: {joined} rows, want 20000")
    top = one(f"SELECT max(doc_id) FROM {src(out_dir, 'documents')}")
    if top >= PLANTED_OFFSET:
        failures.append(f"max doc_id {top} reaches {PLANTED_OFFSET}")
    return failures


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    src_dir = os.path.realpath(sys.argv[1])
    out_dir = os.path.realpath(sys.argv[2] if len(sys.argv) == 3 else
                               os.path.join(tempfile.gettempdir(), "sf0.1x10"))
    if os.path.commonpath([src_dir, out_dir]) == src_dir:
        sys.exit(f"out dir {out_dir} lies inside the source dir {src_dir}")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    build(con, src_dir, out_dir)
    failures = check(con, src_dir, out_dir)
    for f in failures:
        print(f"[FAIL] {f}")
    print(f"{out_dir}: " + (f"{len(failures)} check(s) failed" if failures
                            else "all checks passed"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
