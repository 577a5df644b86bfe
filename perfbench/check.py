"""Correctness checks of a benchmark run, made apart from the engine.

Registered queries: DuckDB runs each query's oracle SQL
(`SparkEntry.oracleSql`, dumped by the harness) over the run's input
tables, and the result must equal the engine's after both are normalized
by `canon` of the repository's `tools/compare.py` (columns sorted by name,
integer and float widths unified, timestamps in micros with their zone
kept, rows sorted, doubles compared exactly).

Lake steps: DuckDB recomputes each zone from the raw inputs, and the lake
must have the properties its method promises:
  - validated rows plus quarantined rows equal the raw rows, and each side
    holds exactly the rows that pass / fail the rules;
  - the curated zone, after `Tables.maintain` compacted it, holds exactly
    the multiset of validated rows with a known supplier, joined to their
    supplier and nation (so compaction preserved the rows);
  - the SCD2 dimension has exactly one current row per key, each key has
    1 + (number of change batches that changed it) versions, and the
    current row carries the key's last values;
  - the versioned table has versions 1 and 2 with the row counts written;
  - `latestPartition` returns exactly the validated rows of the newest
    ship year, and the pruned read exactly the curated rows in its range.

`python3 perfbench/check.py --self-test` feeds the checks wrong results
and shows that they fail.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # leave no cache files under tools/
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
try:
    from compare import canon  # noqa: E402
except ImportError:
    sys.exit("perfbench: tools/compare.py not found; run from the root of a graft checkout")


def same(got: pa.Table, exp: pa.Table) -> str:
    """'' when equal after normalization, else what differs."""
    (gs, gr), (es, er) = canon(got), canon(exp)
    if gs != es:
        return f"schema {gs} vs {es}"
    if len(gr) != len(er):
        return f"rows {len(gr)} vs {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            return f"row {i}: got {a} expected {b}"
    return ""


def _views(con, input_dir):
    for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{files}')")


def _read_dir(d):
    files = sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def queries(input_dir, check_dir):
    """{query: '' or failure} for every oracle in the check dir."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    _views(con, input_dir)
    out = {}
    for name, sql in sorted(oracle.items()):
        got = _read_dir(os.path.join(check_dir, name))
        if got is None:
            out[name] = "no engine output"
            continue
        try:
            out[name] = same(got, con.execute(sql).arrow())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
    return out


RULES = ("l_quantity IS NOT NULL AND l_discount BETWEEN 0.0 AND 0.1 "
         "AND l_extendedprice > 0 AND l_returnflag IN ('A', 'N', 'R')")


def _zone(lake_dir, zone):
    return f"read_parquet('{lake_dir}/{zone}/**/*.parquet', hive_partitioning = true)"


def _scd2_expected(con):
    """Per key: (versions, last values), replaying the change batches."""
    cols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
    state = {r[0]: [1, r[1:]] for r in con.execute(f"SELECT {cols} FROM customer").fetchall()}
    for b in ("cdc_1", "cdc_2", "cdc_3", "cdc_stream_batch"):
        for r in con.execute(f"SELECT {cols} FROM {b}").fetchall():
            if r[0] not in state:
                state[r[0]] = [1, r[1:]]
            elif state[r[0]][1] != r[1:]:
                state[r[0]] = [state[r[0]][0] + 1, r[1:]]
    return state


def lake(input_dir, lake_dir, check_dir, lo, hi):
    """{property: '' or failure} for the lake the last pass left."""
    con = duckdb.connect()
    _views(con, input_dir)
    stream = os.path.join(input_dir, "cdc_stream", "batch_4.parquet")
    out = {}

    def q(sql):
        return con.execute(sql).arrow()

    keys = "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice"
    n_raw = con.execute("SELECT count(*) FROM lake_raw").fetchone()[0]
    n_val = con.execute(f"SELECT count(*) FROM {_zone(lake_dir, 'validated')}").fetchone()[0]
    n_bad = con.execute(f"SELECT count(*) FROM {_zone(lake_dir, 'quarantine')}").fetchone()[0]
    out["validated_plus_quarantine"] = "" if n_val + n_bad == n_raw else \
        f"{n_val} + {n_bad} != {n_raw}"
    out["validated_rows"] = same(
        q(f"SELECT {keys} FROM {_zone(lake_dir, 'validated')}"),
        q(f"SELECT {keys} FROM lake_raw WHERE {RULES}"))
    out["quarantine_rows"] = same(
        q(f"SELECT {keys} FROM {_zone(lake_dir, 'quarantine')}"),
        q(f"SELECT {keys} FROM lake_raw WHERE NOT coalesce({RULES}, false)"))
    curated_sql = (
        f"SELECT {', '.join('l.' + k.strip() for k in keys.split(','))}, "
        "s.s_name AS supp_s_name, n.n_name AS nation_n_name "
        f"FROM lake_raw l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        f"JOIN nation n ON s.s_nationkey = n.n_nationkey WHERE {RULES}")
    curated = f"read_parquet('{lake_dir}/curated/*.parquet')"
    out["curated_after_maintain"] = same(
        q(f"SELECT {keys}, supp_s_name, nation_n_name FROM {curated}"), q(curated_sql))
    out["orphans"] = same(
        q(f"SELECT {keys} FROM {_zone(lake_dir, 'orphans')}"),
        q(f"SELECT {keys} FROM lake_raw WHERE {RULES} "
          "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)"))

    con.execute(f"CREATE VIEW cdc_stream_batch AS SELECT * FROM read_parquet('{stream}')")
    con.execute("CREATE VIEW dim AS SELECT * FROM "
                f"read_parquet('{lake_dir}/dim_customer/*.parquet')")
    expected = _scd2_expected(con)
    rows = con.execute(
        "SELECT c_custkey, count(*), sum(is_current::int), max(version_no), "
        "arg_max([c_name, c_nationkey::varchar, c_acctbal::varchar, c_mktsegment], version_no) "
        "FROM dim GROUP BY c_custkey").fetchall()
    bad = []
    for key, n, cur, top, last in rows:
        exp = expected.get(key)
        want = None if exp is None else [exp[1][0], str(exp[1][1]), str(exp[1][2]), exp[1][3]]
        if exp is None or cur != 1 or n != exp[0] or top != exp[0] or last != want:
            bad.append((key, n, cur, top, last, exp))
    if len(rows) != len(expected):
        bad.append(("keys", len(rows), len(expected)))
    out["scd2_versions"] = "" if not bad else f"{len(bad)} keys differ, first {bad[0]}"

    hist = pq.read_table(glob.glob(os.path.join(check_dir, "versioned_history", "*.parquet"))[0])
    counts = [con.execute(f"SELECT count(*) FROM read_parquet('{lake_dir}/versioned/v={v}/*.parquet')")
              .fetchone()[0] for v in (1, 2)]
    n_nation = con.execute(f"SELECT count(DISTINCT nation_n_name) FROM {curated}").fetchone()[0]
    n_seg = con.execute("SELECT count(DISTINCT c_mktsegment) FROM dim WHERE is_current").fetchone()[0]
    got = list(zip(hist["version"].to_pylist(), hist["record_count"].to_pylist()))
    out["versioned_history"] = "" if got == [(1, n_nation), (2, n_seg)] == list(zip((1, 2), counts)) \
        else f"history {got}, files {counts}, expected {[(1, n_nation), (2, n_seg)]}"

    out["latest_partition"] = same(
        q(f"SELECT {keys} FROM read_parquet('{check_dir}/latest_partition/*.parquet')"),
        q(f"SELECT {keys} FROM lake_raw WHERE {RULES} AND year(l_shipdate) = "
          f"(SELECT max(year(l_shipdate)) FROM lake_raw WHERE {RULES})"))
    out["pruned_read"] = same(
        q(f"SELECT {keys} FROM read_parquet('{check_dir}/pruned_read/*.parquet')"),
        q(f"SELECT {keys} FROM ({curated_sql}) WHERE l_orderkey BETWEEN {lo} AND {hi}"))
    return out


def self_test():
    """True when the checks reject wrong results and accept right ones."""
    right = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    reordered = pa.table({"v": [2.5, 0.5, 1.5], "k": pa.array([3, 1, 2], pa.int32())})
    wrong_value = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5000000001]})
    missing_row = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
    wrong_name = pa.table({"k": [1, 2, 3], "w": [0.5, 1.5, 2.5]})
    ok = same(reordered, right) == ""
    ok &= all(same(bad, right) != "" for bad in (wrong_value, missing_row, wrong_name))
    # a query result one row short of its oracle fails end to end
    import tempfile
    with tempfile.TemporaryDirectory(dir=os.environ.get("PERFBENCH_TMP")) as d:
        os.makedirs(os.path.join(d, "in"))
        pq.write_table(right, os.path.join(d, "in", "t.parquet"))
        os.makedirs(os.path.join(d, "chk", "q"))
        pq.write_table(missing_row, os.path.join(d, "chk", "q", "part-0.parquet"))
        with open(os.path.join(d, "chk", "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT k, v FROM t"}, f)
        ok &= queries(os.path.join(d, "in"), os.path.join(d, "chk"))["q"] != ""
    return ok


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        passed = self_test()
        print("self-test:", "wrong results are rejected" if passed else "FAILED")
        sys.exit(0 if passed else 1)
    print(__doc__)
    sys.exit(2)
