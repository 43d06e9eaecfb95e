#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run DuckDB on the
oracle SQL dumped by graft.Verify and compare against the Spark parquet
results (columns sorted by name, values hashed after canonical rounding).

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [<parentOutDir>]

With a parent dump (a graft.Verify run of another commit on the same
fixtures), it also checks that every result table equals the parent's
row for row and that every oracle_sql.json entry is byte-identical to
the parent's — the proof that a change leaves all outputs unchanged.
"""
import json, os, sys, math, zlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def py_compress_ratio(con, sf_dir):
    """Value oracle for text_compress_ratio (VERDICT r15 #3): a deflate
    bitstream has no SQL twin, but the JVM Deflater IS zlib — Python's
    zlib at the same level (6, default strategy, zlib wrapper) produces
    byte-identical stream lengths (verified: 500/500 docs at sf0.01,
    zlib 1.2.13 both sides). ratio_micro uses the engine's exact integer
    formula comp*1e6 // max(orig, 1)."""
    df = con.sql("SELECT doc_id, text FROM documents "
                 "WHERE doc_id IS NOT NULL AND text IS NOT NULL").df()
    rows = []
    for doc_id, text in zip(df.doc_id, df.text):
        b = text.encode("utf-8")
        c = len(zlib.compress(b, 6))
        o = max(len(b), 1)
        rows.append((doc_id, len(b), c, c * 1000000 // o))
    return pd.DataFrame(
        rows, columns=["doc_id", "orig_len", "comp_len", "ratio_micro"])


# Python-computed oracles for queries whose semantics are not
# SQL-expressible; verified exactly like the SQL ones.
PY_ORACLES = {"text_compress_ratio": py_compress_ratio}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.9g}"
        if hasattr(v, "tolist") or isinstance(v, (list, tuple)):
            # The driver's harness sorts with pandas and dies on array cells
            # (unhashable numpy.ndarray) — replicate that as a hard failure so
            # any array-typed output column is caught locally.
            raise TypeError(
                "array-valued cell (driver's pandas sort would crash) — "
                "stringify with concat_ws/array_to_string in the query")
        return v

    out = df.map(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare_parent(names, out_dir, parent_dir):
    """Row-for-row table equality and byte-identical oracle SQL against
    a parent Verify dump. Returns the number of differences."""
    n_diff = 0
    ours = json.load(open(f"{out_dir}/oracle_sql.json"))
    theirs = json.load(open(f"{parent_dir}/oracle_sql.json"))
    for name in sorted(set(ours) | set(theirs)):
        if ours.get(name) != theirs.get(name):
            print(f"DIFF {name}: oracle SQL differs from the parent's")
            n_diff += 1
    n_same = 0
    for name in sorted(names):
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
            want = canon(pd.read_parquet(f"{parent_dir}/{name}"))
        except Exception as e:
            print(f"DIFF {name}: table unreadable/uncanonical: {e}")
            n_diff += 1
            continue
        if list(got.columns) != list(want.columns) or not got.equals(want):
            print(f"DIFF {name}: rows differ from the parent's "
                  f"({len(got)} vs {len(want)} rows)")
            n_diff += 1
            continue
        n_same += 1
    print(f"parent: {n_same} tables equal, {len(set(ours) | set(theirs))} "
          f"oracle entries compared, {n_diff} differences")
    return n_diff


def main(sf_dir, out_dir, parent_dir=None):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    items = {n: ("sql", s) for n, s in oracle.items()}
    for n, f in PY_ORACLES.items():
        # only when this Verify run actually dumped the query (filtered
        # runs may not have)
        if n not in items and os.path.exists(f"{out_dir}/{n}"):
            items[n] = ("py", f)
    n_pass = n_fail = 0
    for name, (kind, src) in sorted(items.items()):
        try:
            want = canon(con.sql(src).df() if kind == "sql"
                         else src(con, sf_dir))
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable/uncanonical: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        if not got.equals(want):
            neq = (got != want).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(got)} rows differ; first:")
            print("  spark:", got[neq].head(2).to_dict("records"))
            print("  duckdb:", want[neq].head(2).to_dict("records"))
            n_fail += 1
            continue
        print(f"PASS {name} ({len(got)} rows)")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    n_diff = compare_parent(items, out_dir, parent_dir) if parent_dir else 0
    return 1 if n_fail or n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
