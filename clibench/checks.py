"""Output checks for one run. Each function returns the names of the
checks that failed (an empty list means the run's output is correct).

flagship_batch is checked against an independent DuckDB count over the
same parquet input; wide_nested against the generator's planted counts;
corpus_dedup against the planted duplicate clusters.
"""

import glob
import math
import os
import re

import duckdb

VERDICT = re.compile(r"invalid table at .*: (\d+) row violations, (\d+) duplicate keys, (\d+) orphan rows")

# One row per compiled check of the flagship schema: (column, constraint,
# SQL predicate that holds on a violating row), by draft-4 semantics.
FLAGSHIP_RULES = [
    ("conv_id", "required", "conv_id IS NULL"),
    ("conv_id", "minLength", "length(conv_id) < 1"),
    ("conv_id", "pattern", "NOT regexp_matches(conv_id, '^c[0-9]+$')"),
    ("turn_idx", "required", "turn_idx IS NULL"),
    ("turn_idx", "minimum", "turn_idx < 0"),
    ("turn_idx", "maximum", "turn_idx > 4096"),
    ("role", "required", "role IS NULL"),
    ("role", "enum", "role NOT IN ('system', 'user', 'assistant', 'tool')"),
    ("text", "required", "text IS NULL"),
    ("text", "maxLength", "length(text) > 65536"),
    ("tool", "pattern", "NOT regexp_matches(tool, '^[a-z][a-z0-9_]*$')"),
    ("tool", "dependencies", "tool IS NOT NULL AND role IS NULL"),
    ("ts", "required", "ts IS NULL"),
]


def _files(pattern):
    return sorted(glob.glob(pattern, recursive=True))


def _rows(con, files):
    if not files:
        return 0
    return con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]


def flagship_expected(input_dir):
    """Per-(column|constraint) violation counts, duplicate keys and orphan
    rows of the input, counted by DuckDB."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{input_dir}/*.parquet')")
    counts = {}
    for column, constraint, pred in FLAGSHIP_RULES:
        n = con.execute(f"SELECT count(*) FROM t WHERE coalesce({pred}, false)").fetchone()[0]
        if n:
            counts[f"{column}|{constraint}"] = n
    dups = con.execute(
        "SELECT count(*) FROM (SELECT 1 FROM t GROUP BY conv_id, turn_idx HAVING count(*) > 1)").fetchone()[0]
    orphans = con.execute(
        "SELECT count(*) FROM t WHERE conv_id IN (SELECT conv_id FROM t GROUP BY conv_id "
        "HAVING max(CASE WHEN turn_idx = 0 THEN 1 ELSE 0 END) = 0)").fetchone()[0]
    return {"violations": counts, "duplicate_keys": dups, "orphan_rows": orphans}


def table_actual(out_dir):
    """The same counts, read from a ValidateTableMain output directory."""
    con = duckdb.connect()
    vio = _files(f"{out_dir}/violations/**/*.parquet")
    counts = {}
    if vio:
        con.execute(f"CREATE VIEW v AS SELECT * FROM read_parquet({vio!r}, hive_partitioning = false)")
        for col, constraint, n in con.execute(
                "SELECT split_part(pointer, '/', 4), \"constraint\", count(*) FROM v GROUP BY ALL").fetchall():
            counts[f"{col}|{constraint}"] = n
    return {
        "violations": counts,
        "duplicate_keys": _rows(con, _files(f"{out_dir}/uniqueness_violations/*.parquet")),
        "orphan_rows": _rows(con, _files(f"{out_dir}/referential_violations/*.parquet")),
    }


def check_table(expected, out_dir, exit_code, stderr_text):
    """Failed check names for a ValidateTableMain run, given the expected
    per-constraint counts, duplicate keys and orphan rows."""
    failed = []
    if exit_code != 2:
        failed.append("exit_code")
    actual = table_actual(out_dir)
    for key in sorted(set(expected["violations"]) | set(actual["violations"])):
        if expected["violations"].get(key, 0) != actual["violations"].get(key, 0):
            failed.append(f"violations:{key}")
    for key in ("duplicate_keys", "orphan_rows"):
        if expected[key] != actual[key]:
            failed.append(key)
    m = VERDICT.search(stderr_text)
    totals = (sum(expected["violations"].values()), expected["duplicate_keys"], expected["orphan_rows"])
    if not m or tuple(int(g) for g in m.groups()) != totals:
        failed.append("verdict_line")
    return failed


def wide_expected(meta):
    return {"violations": meta["planted"], "duplicate_keys": 0, "orphan_rows": 0}


def lsh_miss_bound(edges, rows_per_band, bands):
    """Misses allowed: the expected number of planted edges LSH never
    makes candidates, plus three standard deviations, plus one."""
    expected = sum((1 - j ** rows_per_band) ** bands for _, _, j in edges)
    return expected + 3 * math.sqrt(expected) + 1


def check_dedup(meta, out_dir, exit_code, input_dir, rows_per_band, bands):
    """Failed check names for a corpus_dedup run."""
    failed = []
    if exit_code != 0:
        failed.append("exit_code")
    files = _files(f"{out_dir}/survivors/*.parquet")
    if not files:
        return failed + ["survivors_missing"]
    con = duckdb.connect()
    survivors = {r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet({files!r})").fetchall()}
    docs = con.execute(f"SELECT doc_id, text FROM read_parquet('{input_dir}/*.parquet')").fetchall()
    cluster = {int(k): v for k, v in meta["cluster"].items()}
    removed = {d for d, _ in docs} - survivors
    if not survivors <= {d for d, _ in docs}:
        failed.append("unknown_survivor")
    if any(d not in cluster for d in removed):
        failed.append("removed_unplanted")
    by_text = {}
    for d, text in docs:
        by_text.setdefault(text, []).append(d)
    if any(d in survivors for ids in by_text.values() for d in sorted(ids)[1:]):
        failed.append("exact_copy_kept")
    kept = {}
    for d, c in cluster.items():
        kept[c] = kept.get(c, 0) + (d in survivors)
    if any(n == 0 for n in kept.values()):
        failed.append("cluster_removed")
    misses = sum(n - 1 for n in kept.values() if n > 1)
    if misses > lsh_miss_bound(meta["edges"], rows_per_band, bands):
        failed.append("lsh_misses")
    return failed


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
