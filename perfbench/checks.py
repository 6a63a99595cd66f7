"""Output checks of the pipeline benchmark, computed apart from Spark.

* Changelog sinks: the visible sink (audit columns excluded) equals the
  expected changelog, and changelog_id is exactly the rank of each row in
  (commit_time, key..., column_name, old_value, new_value) order, 1..n over
  all rows ever appended. For the orders feed the expected changelog is
  DuckDB's run of the engine's CdcOracle CTEs over the same generated
  source; for the document feed it is what the generator wrote.
  The sink's retention cutoff must be the one the sweep asked for, and
  rows older than it must not be visible.
* Reads: each QueryData result (count and sum of 60-bit row hashes) equals
  DuckDB's day-range filter over that changelog, cut to the ids appended
  and the retention cutoff in force when the read ran. On ingest-stream a
  last read over every day, after the sweep and the compaction, must
  return exactly the rows from the cutoff on, and none before it.
* Freshness warning: its timestamp lies between the batch's creation and
  the end of the read.
* Index maintenance: every planted near-duplicate is reported, every
  reported pair meets the Jaccard threshold by an exact computation here,
  and the folded layouts hold exactly the rows a from-scratch build over
  the final corpus has, computed here from the layouts' definitions.
* Self-test: the same comparison runs again on the payload with one sink
  row corrupted (a rewritten copy of one sink file), and again with one
  read's digest corrupted; each must fail.
"""

from collections import Counter
from pathlib import Path

import duckdb

import gen

NULL = "\\N"


def _hash_sql(keys):
    fields = ["CAST(changelog_id AS VARCHAR)", "strftime(commit_time, '%Y-%m-%d %H:%M:%S')"]
    fields += [f"coalesce(CAST({k} AS VARCHAR), '{NULL}')" for k in keys]
    fields += [f"coalesce({c}, '{NULL}')" for c in ("column_name", "old_value", "new_value")]
    return ("('0x' || substr(md5(" + " || '|' || ".join(fields) + "), 1, 15))::BIGINT")


def _expected_with_ids(con, select_sql, keys):
    order = ", ".join(["commit_time"] + [f"{k} NULLS FIRST" for k in keys] +
                      [f"{c} NULLS FIRST" for c in ("column_name", "old_value", "new_value")])
    con.execute(f"""CREATE TABLE expected AS
        SELECT *, row_number() OVER (ORDER BY {order}) AS changelog_id,
               CAST(commit_time AS DATE) AS commit_date
        FROM ({select_sql}) e""")


def _sink_view(con, files, keys):
    cols = ", ".join(keys)
    con.execute(f"""CREATE OR REPLACE VIEW sink AS
        SELECT changelog_id, CAST(commit_time AS TIMESTAMP) AS commit_time, table_name, {cols},
               column_name, old_value, new_value, CAST(commit_date AS DATE) AS commit_date
        FROM read_parquet({files!r}, hive_partitioning = true)""")


def _diff(con, a, b, keys):
    cols = ", ".join(["changelog_id", "commit_time"] + keys +
                     ["column_name", "old_value", "new_value"])
    q = f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})"
    return con.execute(q).fetchone()[0]


def _read_digest(con, table, keys, r):
    cond = [f"commit_date BETWEEN DATE '{r['from']}' AND DATE '{r['to']}'",
            f"changelog_id <= {r['max_id']}"]
    if r["cutoff"]:
        cond.append(f"commit_date >= DATE '{r['cutoff']}'")
    n, s = con.execute(f"SELECT count(*), coalesce(sum(({_hash_sql(keys)})::HUGEINT), 0) "
                       f"FROM {table} WHERE {' AND '.join(cond)}").fetchone()
    return int(n), int(s)


def changelog_failures(con, sink, reads, keys, table_name):
    """Every way the sink and the reads differ from the `expected` table.
    The retention cutoff is the one the benchmark asked for, so a sweep
    that hid nothing, or hid the wrong days, shows here."""
    notes = []
    cutoff = sink["cutoff"]
    if sink["active_cutoff"] != cutoff:
        notes.append(f"retention cutoff of the sink is {sink['active_cutoff']}, "
                     f"the sweep asked for {cutoff}")
    _sink_view(con, sink["files"], keys)
    where = f"WHERE commit_date >= DATE '{cutoff}'" if cutoff else ""
    con.execute(f"CREATE OR REPLACE VIEW sink_visible AS SELECT * FROM sink {where}")
    con.execute(f"CREATE OR REPLACE VIEW expected_visible AS SELECT * FROM expected {where}")
    d1 = _diff(con, "sink_visible", "expected_visible", keys)
    d2 = _diff(con, "expected_visible", "sink_visible", keys)
    if d1 or d2:
        notes.append(f"sink differs from the expected changelog: {d1} extra, {d2} missing rows")
    bad_names = con.execute(
        f"SELECT count(*) FROM sink_visible WHERE table_name <> '{table_name}'").fetchone()[0]
    if bad_names:
        notes.append(f"{bad_names} sink rows carry the wrong table_name")
    for i, r in enumerate(reads):
        if (r["rows"], int(r["digest"])) != _read_digest(con, "expected", keys, r):
            notes.append(f"read {i} ({r['from']}..{r['to']}) differs from the expected rows")
        if r["cutoff"] and r["min_day"] and r["min_day"] < r["cutoff"]:
            notes.append(f"read {i} returned rows of {r['min_day']}, before the retention "
                         f"cutoff {r['cutoff']}")
        if r["warning_ms"] is None or not (
                r["created_ms"] <= r["warning_ms"] <= r["read_end_ms"]):
            notes.append(f"read {i}: freshness warning time {r['warning_ms']} outside "
                         f"[{r['created_ms']}, {r['read_end_ms']}]")
    return notes


def _corrupt_one_row(con, sink, scratch):
    """A copy of the sink payload in which one visible sink file is
    replaced by a copy with one row's new_value changed."""
    files = list(sink["files"])
    cutoff = sink["cutoff"] or "0000-00-00"
    i = next(i for i, f in enumerate(files)
             if f.split("commit_date=")[1][:10] >= cutoff)
    day = files[i].split("commit_date=")[1][:10]
    dst = Path(scratch) / "selftest" / f"commit_date={day}" / "part-0.parquet"
    dst.parent.mkdir(parents=True)
    con.execute(f"""COPY (
        SELECT * REPLACE (CASE WHEN changelog_id = (SELECT min(changelog_id)
                                                     FROM read_parquet('{files[i]}'))
                          THEN coalesce(new_value, '') || '#' ELSE new_value END AS new_value)
        FROM read_parquet('{files[i]}')) TO '{dst}' (FORMAT parquet)""")
    files[i] = str(dst)
    return dict(sink, files=files)


def changelog_checks(con, res, keys, table_name, scratch, notes):
    """Sink content, ids, retention, reads and freshness, plus the
    self-test: the same comparison must fail on a payload with one
    corrupted sink row, and on one with one corrupted read result."""
    sink, reads = res["checks"]["sink"], res["checks"]["reads"]
    found = changelog_failures(con, sink, reads, keys, table_name)
    notes += found
    j = max(range(len(reads)), key=lambda k: reads[k]["rows"])
    bad_reads = [dict(r, digest=str(int(r["digest"]) + 1)) if k == j else r
                 for k, r in enumerate(reads)]
    caught_read = bool(changelog_failures(con, sink, bad_reads, keys, table_name))
    caught_sink = bool(changelog_failures(
        con, _corrupt_one_row(con, sink, scratch), reads, keys, table_name))
    if not (caught_sink and caught_read):
        notes.append(f"self-test: corruption not detected (sink {caught_sink}, read {caught_read})")
    return not found and caught_sink and caught_read


def cdc_checks(res, scratch):
    notes = []
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    oracle = res["checks"]["oracle"]
    for name, path in oracle["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    keys = oracle["keys"]
    pk = ", ".join(f"pk_{k} AS {k}" for k in keys)
    _expected_with_ids(con, oracle["sql"] + f"\nSELECT commit_time, {pk}, column_name, "
                       "old_value, new_value FROM changelog", keys)
    ok = changelog_checks(con, res, keys, oracle["table_name"], scratch, notes)
    return ok, notes


def index_checks(res, truth, scratch):
    notes = []
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("CREATE TABLE exp_raw (commit_time TIMESTAMP, doc_id VARCHAR, "
                "column_name VARCHAR, old_value VARCHAR, new_value VARCHAR)")
    con.executemany("INSERT INTO exp_raw VALUES (?, ?, ?, ?, ?)", truth["expected"])
    _expected_with_ids(con, "SELECT * FROM exp_raw", ["doc_id"])
    ok = changelog_checks(con, res, ["doc_id"], "documents", scratch, notes)

    batches = truth["batches"]
    for entry in res["checks"]["pairs"]:
        b = entry["batch"]
        found = {tuple(p) for p in entry["pairs"]}
        corpus = batches[b]["corpus"]
        for o, d in batches[b]["planted"]:
            if (min(o, d), max(o, d)) not in found:
                notes.append(f"batch {b}: planted pair ({o}, {d}) missed")
                ok = False
        for a, d in found:
            if a not in corpus or d not in corpus or not gen.jaccard_ok(corpus[a], corpus[d]):
                notes.append(f"batch {b}: pair ({a}, {d}) "
                             "is below the Jaccard threshold")
                ok = False
    if res["checks"]["final_docs"] != len(batches[-1]["corpus"]):
        notes.append("final corpus size differs from the generator's")
        ok = False
    final = batches[-1]["corpus"]
    layouts = {"minhash": (gen.minhash_layout(final), {
                   "bands": "band, sig, id, pbucket", "fps": "sigfp, id, fbucket"}),
               "bm25": (gen.bm25_layout(final), {
                   "postings": "term, doc_id, tf, df, bucket",
                   "doclen": "doc_id, dl, dbucket", "stats": "n, avgdl"})}
    for family, (expected, artifacts) in layouts.items():
        root = res["checks"]["artifacts"][family]
        for name, cols in artifacts.items():
            rows = con.execute(
                f"SELECT {cols} FROM read_parquet('{root}/{name}/**/*.parquet', "
                "hive_partitioning = true)").fetchall()
            got = Counter(tuple(int(v) if isinstance(v, int) else v for v in r) for r in rows)
            if got != Counter(expected[name]):
                notes.append(f"folded {family} {name} differs from a from-scratch build: "
                             f"{sum((got - Counter(expected[name])).values())} extra, "
                             f"{sum((Counter(expected[name]) - got).values())} missing rows")
                ok = False
    return ok, notes


def run(workload, res, truth, scratch):
    """(all checks passed, notes on the ones that failed); the self-test
    writes its files under `scratch`."""
    notes = list(res["errors"])
    if workload == "index-maintain":
        ok, more = index_checks(res, truth, scratch)
    else:
        ok, more = cdc_checks(res, scratch)
    notes += more
    return ok and not res["errors"], notes
