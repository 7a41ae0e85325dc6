"""Compare two graft.Verify output dirs query by query.

    python3 scripts/compare_outputs.py A B

For every query dir in A or B it checks the schema, the rows (as a
multiset, via EXCEPT ALL both ways) and the parquet footer statistics that
do not depend on how the writer happened to order its bookkeeping: per
column chunk the row count, value count, type, min/max, null count,
compression and the *set* of encodings. sha256 of the part files cannot
do this: parquet-mr collects a chunk's encodings in a hash set, so two
runs of the same commit write the list in different orders.

Prints one line per query and exits 1 if any query differs.
"""
import duckdb, glob, os, sys

STATS = ("row_group_num_rows, num_values, path_in_schema, type, stats_min, "
         "stats_max, stats_null_count, stats_min_value, stats_max_value, "
         "compression, list_sort(string_split(encodings, ', ')) AS encodings")


def queries(d):
    return {q for q in os.listdir(d) if glob.glob(f"{d}/{q}/*.parquet")}


def compare(con, a, b):
    fa, fb = sorted(glob.glob(f"{a}/*.parquet")), sorted(glob.glob(f"{b}/*.parquet"))
    ra, rb = f"read_parquet({fa!r})", f"read_parquet({fb!r})"
    diffs = []
    if con.sql(f"DESCRIBE SELECT * FROM {ra}").fetchall() != \
            con.sql(f"DESCRIBE SELECT * FROM {rb}").fetchall():
        return ["schema"]
    only_a = con.sql(f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL "
                     f"SELECT * FROM {rb})").fetchone()[0]
    only_b = con.sql(f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL "
                     f"SELECT * FROM {ra})").fetchone()[0]
    if only_a or only_b:
        diffs.append(f"rows ({only_a} only in A, {only_b} only in B)")

    def stats(files):
        return sorted(map(repr, con.sql(
            f"SELECT {STATS} FROM parquet_metadata({files!r})").fetchall()))
    if stats(fa) != stats(fb):
        diffs.append("footer statistics")
    return diffs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    con = duckdb.connect()
    qa, qb = queries(a), queries(b)
    bad = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"{q}: only in {'A' if q in qa else 'B'}")
            bad += 1
            continue
        diffs = compare(con, f"{a}/{q}", f"{b}/{q}")
        print(f"{q}: {'DIFF ' + ', '.join(diffs) if diffs else 'equal'}")
        bad += bool(diffs)
    print(f"{len(qa | qb) - bad}/{len(qa | qb)} equal")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
