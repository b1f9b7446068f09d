"""Output check: each query's Spark result against its DuckDB oracle twin.

The comparison mirrors the repository's output check (scripts/check.py): the same
column set, the same row count, and the same hash after a pandas lexsort over
all columns (sorted by name) of the str()-rendered cells. The hash is
dtype-sensitive (4568 and 4568.0 differ) and raises on unsortable list
cells, as that script does. It is copied rather than imported so a change to
the repository's dev scripts cannot change what the benchmark accepts.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

from gen import TABLES


def _cell(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def check_hash(tbl, cols):
    df = tbl.to_pandas()[cols].sort_values(by=cols).reset_index(drop=True)
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        h.update("|".join(str(_cell(v)) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def summary(tbl):
    """(sorted column names, row count, check hash) of an arrow table."""
    cols = sorted(tbl.column_names)
    return cols, tbl.num_rows, check_hash(tbl, cols)


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class OracleCache:
    """Oracle summaries keyed by (oracle SQL text, input tables), kept in one
    JSON file so later runs skip DuckDB. Every seeded copy holds the same rows
    as its base, so the oracle runs once on the base for all of them."""

    def __init__(self, path):
        self.path = path
        try:
            with open(path) as f:
                self.entries = json.load(f)
        except (OSError, ValueError):
            self.entries = {}

    @staticmethod
    def key(sql, data_stamp):
        blob = json.dumps([sql, data_stamp], sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()

    def get(self, sql, data_stamp, compute):
        k = self.key(sql, data_stamp)
        if k not in self.entries:
            self.entries[k] = list(compute())
        return self.entries[k]

    def save(self):
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f)
        os.replace(tmp, self.path)


def check(names, oracle_sql, data_dir, data_stamp, out_dir, cache, spark_errors):
    """Returns {query: None if its Spark result in out_dir matched its oracle
    on the tables in data_dir, else the reason}."""
    con = connect(data_dir)
    verdicts = {}
    for name in names:
        if name in spark_errors:
            verdicts[name] = f"spark failed: {spark_errors[name]}"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            verdicts[name] = "no oracle SQL"
            continue
        try:
            got = summary(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetch_arrow_table())
            want = cache.get(sql, data_stamp, lambda: summary(con.execute(sql).fetch_arrow_table()))
        except Exception as e:  # an unsortable cell or a bad SQL fails the query
            verdicts[name] = f"check error: {str(e).splitlines()[0][:200]}"
            continue
        if list(got) == list(want):
            verdicts[name] = None
        elif got[0] != want[0]:
            verdicts[name] = f"columns {got[0]} != {want[0]}"
        elif got[1] != want[1]:
            verdicts[name] = f"rows {got[1]} != {want[1]}"
        else:
            verdicts[name] = "hash mismatch"
    con.close()
    return verdicts


def result_rows(out_dir, name):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(f"{out_dir}/{name}/*.parquet"))
