#!/usr/bin/env python3
"""Dev-only local correctness checker mimicking the driver's DuckDB compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
       python3 scripts/check_oracle.py <sfDir> <verifyOutDir> <parentOracleJson>

With two arguments: for each query dumped by graft.Verify, load the Spark
parquet result and the DuckDB oracle result, sort columns by name, sort rows,
compare values (floats to 1e-9 after the engine-side rounding). Reports
per-query row-count / schema / value match and the seconds DuckDB spent on
the oracle, then the total of those seconds and the script's wall time.

With a third argument (the oracle_sql.json of another Verify run, say the
parent commit's): compare the two oracle maps instead. The checkout path that
the reference-file oracles embed is normalised first; every entry whose SQL
still differs is run on both sides in DuckDB over <sfDir>, against this
checkout's copy of the reference files, and its typed rows (column names,
column types, sorted values, floats exact) must be identical. No Spark dump
is read, so any scale factor can be checked against one pair of dumps. Each
differing entry's DuckDB seconds are printed for both sides, then each side's
total and the script's wall time.

NOT part of the shipped library.
"""
import sys, json, glob, os, re, time
import duckdb

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_PATH = re.compile(r"'[^']*/(data/reference/[^']*)'")


def norm_rows(rows):
    def key(r):
        return tuple((x is None, str(type(x)), str(x)) for x in r)
    return sorted(rows, key=key)


def values_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
        return True  # NaN == NaN for compare purposes (pandas NULL-floats)
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(float(a) - float(b)) <= 1e-9
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def connect(sf_dir):
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        # scale fixtures under target/ are Spark-written DIRECTORIES named
        # <table>.parquet; the driver fixtures are single files
        pat = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(pat):
            pat = pat + "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{pat}')")
    return con


def load_oracles(path):
    """An oracle_sql.json with the embedded checkout path normalised."""
    return {q: REF_PATH.sub(r"'<checkout>/\1'", sql) for q, sql
            in json.load(open(path, encoding="utf-8")).items()}


def typed_rows(con, sql):
    """(typed columns, sorted rows, DuckDB seconds) of one oracle."""
    t0 = time.perf_counter()
    rel = con.sql(sql.replace("<checkout>/", CHECKOUT + "/"))
    rows = rel.fetchall()
    secs = time.perf_counter() - t0
    return list(zip(rel.columns, map(str, rel.types))), norm_rows(rows), secs


def print_totals(t0, **sides):
    print(" ".join(f"DuckDB {k} total {v:.1f} s," for k, v in sides.items())
          + f" wall {time.perf_counter() - t0:.1f} s")


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
        return True
    return type(a) is type(b) and a == b


def compare_parent(sf_dir, out_dir, parent_json):
    t0 = time.perf_counter()
    con = connect(sf_dir)
    mine = load_oracles(os.path.join(out_dir, "oracle_sql.json"))
    parent = load_oracles(parent_json)
    one_side = sorted(set(mine) ^ set(parent))
    moved = sorted(q for q in set(mine) & set(parent) if mine[q] != parent[q])
    bad = 0
    total = {"parent": 0.0, "change": 0.0}
    for q in moved:
        try:
            pc, pr, ps = typed_rows(con, parent[q])
            mc, mr, ms = typed_rows(con, mine[q])
        except Exception as e:
            bad += 1
            print(f"{q}  SQL_ERROR: {str(e)[:200]}")
            continue
        if pc != mc:
            verdict = f"SCHEMA_DIFFERS parent={pc} change={mc}"
        elif len(pr) != len(mr):
            verdict = f"ROWCOUNT_DIFFERS parent={len(pr)} change={len(mr)}"
        else:
            diff = next((i for i, (a, b) in enumerate(zip(pr, mr))
                         if len(a) != len(b) or
                         not all(map(same_value, a, b))), None)
            verdict = (f"SAME_ROWS({len(mr)})" if diff is None else
                       f"ROWS_DIFFER row{diff} parent={pr[diff]} "
                       f"change={mr[diff]}")
        bad += not verdict.startswith("SAME_ROWS")
        total["parent"] += ps
        total["change"] += ms
        print(f"{q}  {verdict}  parent {ps:.2f} s, change {ms:.2f} s")
    for q in one_side:
        print(f"{q}  ONLY_IN_{'CHANGE' if q in mine else 'PARENT'}")
    print(f"\n{len(mine)} vs {len(parent)} oracles: "
          f"{len(set(mine) & set(parent)) - len(moved)} identical SQL, "
          f"{len(moved)} differ ({len(moved) - bad} same rows, {bad} not), "
          f"{len(one_side)} on one side only")
    print_totals(t0, **total)
    return bad == 0 and not one_side


def main(sf_dir, out_dir):
    t0 = time.perf_counter()
    con = connect(sf_dir)
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    secs = {}
    dump_dirs = sorted(d for d in glob.glob(os.path.join(out_dir, "*"))
                       if os.path.isdir(d))
    for d in dump_dirs:
        name = os.path.basename(d)
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            results[name] = "EMPTY_DUMP"
            continue
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_types = dict(zip(got_rel.columns, map(str, got_rel.types)))
        got = got_rel.fetchdf()
        got_cols = sorted(got.columns)
        got_rows = norm_rows([tuple(r[c] for c in got_cols)
                              for _, r in got.iterrows()])
        if name not in oracle:
            results[name] = f"ROWS_ONLY({len(got_rows)})"
            continue
        t1 = time.perf_counter()
        try:
            exp_rel = con.sql(oracle[name])
            exp_types = dict(zip(exp_rel.columns, map(str, exp_rel.types)))
            exp = exp_rel.fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {str(e)[:200]}"
            continue
        finally:
            secs[name] = time.perf_counter() - t1
        exp_cols = sorted(exp.columns)
        if exp_cols != got_cols:
            results[name] = f"SCHEMA_MISMATCH spark={got_cols} duck={exp_cols}"
            continue
        # The driver hashes TYPED values: a DuckDB HUGEINT (sum-promotion)
        # against a Spark BIGINT hash-mismatches even when every value is
        # equal, so type drift must fail here, before the driver round-trip.
        type_bad = [(c, got_types[c], exp_types[c]) for c in got_cols
                    if got_types[c] != exp_types[c]]
        if type_bad:
            results[name] = "TYPE_MISMATCH " + " ".join(
                f"{c}: spark={g} duck={e}" for c, g, e in type_bad)
            continue
        exp_rows = norm_rows([tuple(r[c] for c in exp_cols)
                              for _, r in exp.iterrows()])
        if len(exp_rows) != len(got_rows):
            results[name] = (f"ROWCOUNT_MISMATCH spark={len(got_rows)} "
                             f"duck={len(exp_rows)}")
            continue
        bad = None
        for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
            if not all(values_eq(x, y) for x, y in zip(g, e)):
                bad = (i, g, e)
                break
        results[name] = "OK" if bad is None else \
            f"VALUE_MISMATCH row{bad[0]} spark={bad[1]} duck={bad[2]}"
    width = max(len(k) for k in results)
    n_ok = sum(1 for v in results.values() if v == "OK")
    n_rows_only = sum(1 for v in results.values() if v.startswith("ROWS_ONLY"))
    for k in sorted(results):
        duck = f"{secs[k]:8.2f} s" if k in secs else " " * 10
        print(f"{k:<{width}}  {duck}  {results[k]}")
    print(f"\n{n_ok} OK, {n_rows_only} rows-only, "
          f"{len(results) - n_ok - n_rows_only} FAILING of {len(results)}")
    print_totals(t0, oracle=sum(secs.values()))


if __name__ == "__main__":
    if len(sys.argv) == 4:
        sys.exit(0 if compare_parent(*sys.argv[1:4]) else 1)
    main(sys.argv[1], sys.argv[2])
