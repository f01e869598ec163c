"""Output checks. Nothing here calls into the program.

cli_index:   the 26 letter files are compared byte for byte with an index
             built here from the raw text files (the reference's rules:
             split on whitespace, delete non-letters, lowercase, drop
             empty words, one id per file, df desc then word asc).
query runs:  each output parquet is canonicalised as tools/check_oracle.py
             does (columns sorted by name, rows in order) and hashed; the
             expected hash comes from the query's own DuckDB oracle SQL
             over the same parquet, cached per input digest.
"""
import glob
import hashlib
import json
import math
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

NON_LETTER = re.compile(r"[^a-zA-Z]")


def expected_letter_files(input_dir):
    with open(os.path.join(input_dir, "manifest.txt")) as fh:
        lines = fh.read().split("\n")
    n = int(lines[0].strip())
    postings = {}
    for file_id in range(1, n + 1):
        with open(os.path.join(input_dir, lines[file_id].strip())) as fh:
            distinct = set(fh.read().split())
        for w in {NON_LETTER.sub("", t).lower() for t in distinct}:
            if w:
                postings.setdefault(w, []).append(file_id)
    by_letter = {chr(c): [] for c in range(ord("a"), ord("z") + 1)}
    for w, ids in postings.items():
        by_letter[w[0]].append((-len(ids), w, ids))
    out = {}
    for letter, rows in by_letter.items():
        rows.sort()
        out[letter + ".txt"] = "".join(
            f"{w}:[{' '.join(map(str, ids))}]\n" for _, w, ids in rows).encode()
    return out


def letter_files_match(expected, out_dir):
    for name, body in expected.items():
        p = os.path.join(out_dir, name)
        if not os.path.isfile(p):
            return False, f"{name} missing"
        with open(p, "rb") as fh:
            if fh.read() != body:
                return False, f"{name} differs"
    return True, ""


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if v.__class__.__name__ == "Decimal":
        return ("decimal", str(v))
    return v


def table_hash(tbl):
    cols = sorted(tbl.column_names)
    pyd = {c: tbl.column(c).to_pylist() for c in cols}
    rows = [tuple(_canon(pyd[c][i]) for c in cols) for i in range(tbl.num_rows)]
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest(), tbl.num_rows


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def expected(input_dir, digest, sql, cache_dir):
    """{"hash", "rows", "verdicts"} of `sql` run by DuckDB over the
    input's documents table, cached per (input digest, SQL)."""
    os.makedirs(cache_dir, exist_ok=True)
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{digest}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(input_dir, 'documents.parquet')}')")
    tbl = con.sql(sql).fetch_arrow_table()
    con.close()
    h, n = table_hash(tbl)
    entry = {"hash": h, "rows": n}
    if "verdict" in tbl.column_names:
        vs = tbl.column("verdict").to_pylist()
        entry["verdicts"] = {v: vs.count(v) for v in sorted(set(vs))}
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
    os.replace(tmp, path)
    return entry
