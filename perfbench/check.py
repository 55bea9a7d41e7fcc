#!/usr/bin/env python3
"""Correctness checks of one benchmark run, computed apart from the
program with DuckDB over the run's inputs.

  queries            each result equals its DuckDB oracle
                     (SparkEntry.oracleSql), compared in the canonical form
                     of tools/compare.py; each query's hash fold is the same
                     in every timed pass and on the checked output.
  validate_bucketed  recomputes, from the pages parquet, the verdict grid of
                     Constraints.webtextSuite (SQL written from its
                     definitions), and checks the run's verdicts, violation
                     rows, digest store, manifest and lineage against it;
                     its row-constraint verdicts must equal those of
                     ValidationRun.run (plain layout) over the same pages.

Usage: python3 perfbench/check.py <result.json>   (a run kept with
PERFBENCH_KEEP=1); prints each failed check, exits 1 if any.
"""
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]

# graft.constraints.Constraints / graft.gen.Derive
URL_PATTERN = "^https?://[a-z0-9.-]+(/[^ ]*)?$"
WINDOW_START = 1767225600
WINDOW_LEN = 7776000
LANGS = ("en", "de", "fr", "es", "zh")

# webtextSuite, one SQL predicate per constraint: the row violates it
ROW_CHECKS = {
    "url_required": "url IS NULL OR url = ''",
    "url_shape": f"url IS NOT NULL AND length(url) > 0 AND "
                 f"NOT coalesce(regexp_matches(url, '{URL_PATTERN}'), false)",
    "warc_ts_required": "warc_ts IS NULL",
    "warc_ts_window": f"warc_ts IS NOT NULL AND NOT coalesce(epoch(warc_ts) BETWEEN "
                      f"{WINDOW_START} AND {WINDOW_START + WINDOW_LEN - 1}, false)",
    "lang_enum": f"NOT coalesce(lang IN {LANGS}, false)",
    "text_required": "text IS NULL OR text = ''",
    "html_text_crossfield": "coalesce(octet_length(html) > 0, false) AND "
                            "NOT coalesce(text IS NOT NULL AND length(text) > 0, false)",
    "text_len_max": "text IS NOT NULL AND NOT coalesce(length(text) <= 4096, false)",
}
VALID_URL = f"url IS NOT NULL AND length(url) > 0 AND regexp_matches(url, '{URL_PATTERN}')"


def pq(path):
    return f"read_parquet('{path}/*.parquet')"


def check_queries(chk):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import canon  # the project's canonical result form
    import pandas as pd

    problems = [f"{q}: hash fold differs between passes or from the checked output"
                for q in chk["unstable_hashes"]]
    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{chk['data']}/{t}.parquet'")
    oracle = chk["oracle_sql"]
    for name in chk["ops"]:
        if name not in oracle:
            problems.append(f"{name}: no oracle SQL")
            continue
        try:
            got = pd.read_parquet(os.path.join(chk["out"], name))
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # a missing output or a broken oracle is a failed check
            problems.append(f"{name}: {str(e)[:200]}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif not canon(got).equals(canon(exp)):
            problems.append(f"{name}: values differ from the oracle")
    return problems


def rows(con, sql):
    return con.execute(sql).fetchall()


def check_validate(chk):
    con = duckdb.connect()
    root, parts = chk["root"], chk["parts"]
    con.execute(f"CREATE VIEW pages AS SELECT * FROM read_parquet('{chk['pages_glob']}')")
    problems = []
    n_pages = rows(con, "SELECT count(*) FROM pages")[0][0]
    if n_pages != chk["pages"]:
        problems.append(f"pages table has {n_pages} rows, generated {chk['pages']}")

    # expected dense grid: (part, check) -> (violations, row_count)
    cols = ", ".join(f"sum(CASE WHEN {p} THEN 1 ELSE 0 END)::BIGINT AS \"{c}\""
                     for c, p in ROW_CHECKS.items())
    exp = {}
    for r in rows(con, f"SELECT part, count(*)::BIGINT, {cols} FROM pages GROUP BY part"):
        for c, v in zip(ROW_CHECKS, r[2:]):
            exp[(r[0], c)] = (v, r[1])
    # url checks over well-formed urls (ValidationRun.runBucketed)
    con.execute(f"CREATE VIEW lineage AS SELECT * FROM read_parquet('{chk['lineage_glob']}')")
    for r in rows(con, f"""
            WITH v AS (SELECT part, url FROM pages WHERE {VALID_URL})
            SELECT part, count(*)::BIGINT, (count(*) - count(DISTINCT url))::BIGINT,
                   count(*) FILTER (WHERE url NOT IN (SELECT url FROM lineage))::BIGINT
            FROM v GROUP BY part"""):
        exp[(r[0], "url_unique")] = (r[2], r[1])
        exp[(r[0], "url_lineage")] = (r[3], r[1])
    checks = sorted({c for _, c in exp})
    if sorted({p for p, _ in exp}) != list(range(parts)):
        problems.append("generated pages do not cover every partition")

    # the verdict grid: dense, one row per (part, check), matching counts
    verdicts = rows(con, f"SELECT part, check_name, passed, violation_count, row_count "
                         f"FROM {pq(root + '/verdicts')}")
    got = {}
    for part, c, passed, vc, rc in verdicts:
        if (part, c) in got:
            problems.append(f"verdict ({part}, {c}) appears twice")
        got[(part, c)] = (vc, rc)
        if passed != (vc == 0):
            problems.append(f"verdict ({part}, {c}): passed={passed} with {vc} violations")
    if set(got) != set(exp):
        problems.append(f"verdict grid has {len(got)} cells, expected {len(exp)} "
                        f"({parts} parts x {len(checks)} checks)")
    for key in sorted(set(got) & set(exp)):
        if got[key] != exp[key]:
            problems.append(f"verdict {key}: (violations, rows) {got[key]}, expected {exp[key]}")
    for c in checks:
        tot_got = sum(v[0] for k, v in got.items() if k[1] == c)
        tot_exp = sum(v[0] for k, v in exp.items() if k[1] == c)
        if tot_got != tot_exp:
            problems.append(f"{c}: {tot_got} violations in total, expected {tot_exp}")

    # violation rows per (part, check) equal the verdict counts
    viol = {(p, c): n for p, c, n in rows(
        con, f"SELECT part, check_name, count(*) FROM {pq(root + '/violations')} GROUP BY ALL")}
    viol.update({(p, c): n for p, c, n in rows(con, f"""
        SELECT part, check_name, count(*) FROM (SELECT DISTINCT run_id, part, doc_id,
            check_name FROM {pq(root + '/url_violations')}) GROUP BY ALL""")})
    for (p, c), n in sorted(viol.items()):
        if c == "text_digest":
            problems.append(f"{n} digest violations in part {p} of a single run")
        elif got.get((p, c), (0, 0))[0] != n:
            problems.append(f"({p}, {c}): {n} violation rows, verdict says {got.get((p, c))}")
    for key, (vc, _) in sorted(got.items()):
        if vc and key not in viol:
            problems.append(f"verdict {key} counts {vc} violations with no violation rows")

    # digest store: one row per distinct non-null url
    n_dig, n_dig_urls = rows(
        con, f"SELECT count(*), count(DISTINCT url) FROM {pq(root + '/digests_bkt')}")[0]
    n_urls = rows(con, "SELECT count(DISTINCT url) FROM pages WHERE url IS NOT NULL")[0][0]
    if not n_dig == n_dig_urls == n_urls:
        problems.append(f"digest store: {n_dig} rows, {n_dig_urls} urls, {n_urls} distinct urls")

    # manifest: every partition exactly once; lineage counts sum to the pages
    done = sorted(p for (p,) in rows(
        con, f"SELECT unnest(parts_done) FROM {pq(root + '/_snapshots')}"))
    snaps = sorted(s for (s,) in rows(con, f"SELECT snapshot_id FROM {pq(root + '/_snapshots')}"))
    if done != list(range(parts)):
        problems.append(f"manifest parts_done {done} != 0..{parts - 1} once each")
    if snaps != list(range(1, chk["batches"] + 1)):
        problems.append(f"manifest snapshots {snaps}, expected 1..{chk['batches']}")
    lineage = dict(rows(con, f"SELECT part, sum(row_count) FROM {pq(root + '/run_lineage')} "
                             f"GROUP BY part"))
    per_part = dict(rows(con, "SELECT part, count(*) FROM pages GROUP BY part"))
    if lineage != per_part or sum(lineage.values()) != n_pages:
        problems.append(f"run_lineage counts sum to {sum(lineage.values())}, pages {n_pages}")

    # the two layouts give identical row-constraint verdicts
    q = ("SELECT part, check_name, passed, violation_count, row_count FROM {} "
         "WHERE check_name IN ({}) ORDER BY ALL")
    names = ", ".join(f"'{c}'" for c in ROW_CHECKS)
    plain = rows(con, q.format(pq(chk["plain_root"] + "/verdicts"), names))
    bkt = rows(con, q.format(pq(root + "/verdicts"), names))
    if plain != bkt:
        problems.append("bucketed and plain runs give different row-constraint verdicts")
    return problems


def run(workload, result):
    """Failed checks of a run's result (empty when all pass)."""
    chk = result["check"]
    return check_queries(chk) if workload == "queries" else check_validate(chk)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        res = json.load(fh)
    found = run(res["workload"], res)
    for msg in found:
        print(msg)
    print(f"== {len(found)} failed checks ==")
    sys.exit(1 if found else 0)
