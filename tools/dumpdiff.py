#!/usr/bin/env python3
"""Compare two graft.Verify dump directories query by query.

Usage: tools/dumpdiff.py <dirA> <dirB> [query ...]

For every query directory in either dump, the two parquet outputs must hold
the same columns with the same types, and the same rows as multisets:
`EXCEPT ALL` is empty in both directions. DOUBLE/FLOAT values, including
those inside lists, are rounded to 9 decimal places first, so a change in
the last bits of a floating-point sum does not count as a difference.
Prints PASS/FAIL per query and exits non-zero on any FAIL.
"""
import glob
import os
import sys

import duckdb

PLACES = 9


def ident(c):
    return '"' + c.replace('"', '""') + '"'


def rounded(col, typ):
    """A select expression for `col` with its floating values rounded."""
    t = typ.upper()
    if t in ("DOUBLE", "FLOAT"):
        return f"round({ident(col)}, {PLACES}) AS {ident(col)}"
    if t in ("DOUBLE[]", "FLOAT[]"):
        return (f"list_transform({ident(col)}, x -> round(x, {PLACES})) "
                f"AS {ident(col)}")
    return ident(col)


def schema(con, view):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {view}").fetchall()}


def compare(con, name, a_dir, b_dir):
    """None when the two dumps of `name` are equal, else the reason."""
    files = {}
    for side, d in (("a", a_dir), ("b", b_dir)):
        files[side] = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
        if not files[side]:
            return f"no parquet output in {d}"
        con.execute(f"CREATE OR REPLACE VIEW {side} AS "
                    f"SELECT * FROM read_parquet({files[side]!r})")
    sa, sb = schema(con, "a"), schema(con, "b")
    if sa != sb:
        return f"schema {sorted(sa.items())} vs {sorted(sb.items())}"
    cols = ", ".join(rounded(c, sa[c]) for c in sorted(sa))
    only = {}
    for x, y in (("a", "b"), ("b", "a")):
        only[x] = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {x} "
            f"EXCEPT ALL SELECT {cols} FROM {y})").fetchone()[0]
    if only["a"] or only["b"]:
        n = {s: con.execute(f"SELECT count(*) FROM {s}").fetchone()[0]
             for s in ("a", "b")}
        return (f"{only['a']} of {n['a']} rows only in A, "
                f"{only['b']} of {n['b']} rows only in B")
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    wanted = set(sys.argv[3:])

    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

    names = sorted(queries(a_dir) | queries(b_dir))
    if wanted:
        names = [n for n in names if n in wanted]
    con = duckdb.connect()
    n_fail = 0
    for name in names:
        try:
            why = compare(con, name, a_dir, b_dir)
        except duckdb.Error as e:
            why = f"duckdb error: {e}"
        if why is None:
            print(f"PASS {name}")
        else:
            print(f"FAIL {name}: {why}")
            n_fail += 1
    print(f"{len(names) - n_fail} pass, {n_fail} fail")
    sys.exit(1 if n_fail or not names else 0)


if __name__ == "__main__":
    main()
