"""Output checks of the benchmark. Each returns a list of error strings; an
empty list means the output is right.

- `check_mr_output`: the R sorted files of one MapReduce job against the
  generator's answers (file count, key order, one file per key, the exact
  `key value` multiset).
- `check_oracle`: one query result against its cached DuckDB answer in
  tools/oracle_cache, under tools/check.py's comparison rules (type kinds,
  column names compared sorted, row order as produced, exact cells with
  NaN equal to NaN).
"""
import hashlib
import json
import math
import os

MAX_ERRORS = 10


def check_mr_output(out_dir, n_files, expected):
    errors = []
    try:
        parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    except OSError as e:
        return [f"cannot list output: {e}"]
    if len(parts) != n_files:
        errors.append(f"{len(parts)} output files, expected {n_files}")
    home, got = {}, {}
    for p in parts:
        prev = None
        with open(os.path.join(out_dir, p), encoding="utf-8") as fh:
            for ln, line in enumerate(fh, 1):
                key, sep, val = line.rstrip("\n").rpartition(" ")
                if not sep:
                    errors.append(f"{p}:{ln}: not a 'key value' line")
                    continue
                if prev is not None and key <= prev:
                    errors.append(f"{p}:{ln}: key {key!r} not after {prev!r}")
                prev = key
                if key in home and home[key] != p:
                    errors.append(f"key {key!r} in both {home[key]} and {p}")
                home.setdefault(key, p)
                got[key] = val
    missing = [k for k in expected if k not in got]
    extra = [k for k in got if k not in expected]
    wrong = [k for k in expected if k in got and got[k] != str(expected[k])]
    if missing:
        errors.append(f"{len(missing)} keys missing, e.g. {missing[:3]}")
    if extra:
        errors.append(f"{len(extra)} unexpected keys, e.g. {extra[:3]}")
    if wrong:
        k = wrong[0]
        errors.append(f"{len(wrong)} wrong values, e.g. {k!r}: {got[k]} != {expected[k]}")
    return errors[:MAX_ERRORS]


def oracle_entry(cache_dir, name, sf_tag, sql):
    """Paths of the cached oracle answer, keyed like tools/check.py does."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    base = os.path.join(cache_dir, f"{name}.{sf_tag}.{key}")
    return base + ".parquet", base + ".json"


def load_oracle(con, parquet, meta_path):
    """(cols, types, rows) of a cached answer; the parquet roundtrip must
    give back the recorded column names and DuckDB types."""
    meta = json.load(open(meta_path))
    rel = con.sql(f"SELECT * FROM read_parquet('{parquet}')")
    cols, types = list(rel.columns), [str(t) for t in rel.types]
    if cols != meta["cols"] or types != meta["types"]:
        raise ValueError(f"oracle cache entry {parquet} does not roundtrip its types")
    return cols, types, rel.fetchall()


def _kind(t):
    return "float" if t in ("FLOAT", "DOUBLE") else t


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def check_oracle(con, ours_dir, oracle):
    """Compares the parquet result in ours_dir with oracle = (cols, types,
    rows) from `load_oracle`."""
    o_cols, o_types, o_rows = oracle
    try:
        rel = con.sql(f"SELECT * FROM '{ours_dir}/*.parquet'")
        cols, types, rows = list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
    except Exception as e:
        return [f"cannot read our output: {e}"]
    ours_t, o_t = dict(zip(cols, types)), dict(zip(o_cols, o_types))
    bad = [f"{c}: oracle {o_t[c]} vs ours {ours_t[c]}" for c in o_cols
           if c in ours_t and _kind(o_t[c]) != _kind(ours_t[c])]
    if bad:
        return [f"type-kind mismatch: {bad}"]
    if sorted(cols) != sorted(o_cols):
        return [f"columns ours={cols} oracle={o_cols}"]
    names = sorted(cols)
    a = [tuple(r[cols.index(c)] for c in names) for r in rows]
    b = [tuple(r[o_cols.index(c)] for c in names) for r in o_rows]
    if len(a) != len(b):
        return [f"rowcount ours={len(a)} oracle={len(b)}"]
    for i, (ra, rb) in enumerate(zip(a, b)):
        if not all(_same(x, y) for x, y in zip(ra, rb)):
            return [f"first diff at row {i}: ours={ra} oracle={rb}"]
    return []
