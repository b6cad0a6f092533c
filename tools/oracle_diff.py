#!/usr/bin/env python3
"""Show that a rewrite of the DuckDB oracles left their results unchanged.

Usage: oracle_diff.py <old oracle_sql.json> <new oracle_sql.json> <sf_dir>...

Takes two oracle_sql.json files as graft.Verify writes them (for example
from the parent commit and from a change). For every key whose SQL text
differs, runs both texts in DuckDB against each sf dir and compares the
rows in order, exactly: the column names, the row count, and the type and
repr of every value. Prints one line per changed key:

    SAME <key> <sf>=<rows> ...
    DIFF <key> <sf>: <first difference>

and one KEYS line when the key sets differ. Exits 1 on any DIFF or key-set
difference, 0 otherwise.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_correctness import connect  # noqa: E402


def first_difference(old, new):
    """None when the two (columns, rows) results are identical, else why not."""
    (old_cols, old_rows), (new_cols, new_rows) = old, new
    if old_cols != new_cols:
        return f"columns {old_cols} -> {new_cols}"
    if len(old_rows) != len(new_rows):
        return f"{len(old_rows)} rows -> {len(new_rows)} rows"
    for i, (a, b) in enumerate(zip(old_rows, new_rows)):
        for col, x, y in zip(old_cols, a, b):
            if type(x) is not type(y) or repr(x) != repr(y):
                return f"row {i} {col}: {type(x).__name__} {x!r} -> {type(y).__name__} {y!r}"
    return None


def load(path):
    with open(path) as f:
        return json.load(f)


def run(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def main(old_path, new_path, sf_dirs):
    old, new = (load(p) for p in (old_path, new_path))
    ok = True
    if old.keys() != new.keys():
        ok = False
        print(f"KEYS only old: {sorted(old.keys() - new.keys())} "
              f"only new: {sorted(new.keys() - old.keys())}")
    changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
    cons = [(os.path.basename(os.path.normpath(d)), connect(d)) for d in sf_dirs]
    for key in changed:
        counts, diff = [], None
        for sf, con in cons:
            try:
                a, b = run(con, old[key]), run(con, new[key])
                diff = first_difference(a, b)
            except Exception as e:  # a text that fails to run is a difference
                diff = f"error: {e}"
            if diff:
                diff = f"{sf}: {diff}"
                break
            counts.append(f"{sf}={len(a[1])}")
        ok = ok and diff is None
        print(f"DIFF {key} {diff}" if diff else f"SAME {key} {' '.join(counts)}")
    print(f"{len(changed)} of {len(new)} keys changed")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
