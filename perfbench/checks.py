"""Correctness checks made apart from the program.

- clinic: replicas against the plain-Python model (model.py), and the
  dashboard queries that have an SQL form against DuckDB run over that
  model;
- corpus: index pairs, cold-pipeline results and the maintained manifest
  against the DuckDB oracles the registry ships (``ORACLES``), run over
  the generated parquet. Oracle results are cached on disk, keyed by the
  SQL text and the digest of the input file.

Every check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import pickle

import duckdb

from gen import AS_OF, CLINIC_COLUMNS
from model import REPLICA_COLUMNS, ClinicModel, diff_rows

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".oracle_cache")


def _duckdb() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def norm(v):
    """One comparable form for values from Spark and from DuckDB."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def canon(rows) -> list[tuple]:
    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def compare(name: str, expected, actual) -> list[str]:
    exp, act = canon(expected), canon(actual)
    if not exp:
        return [f"{name}: the reference result is empty, so the check shows nothing"]
    if exp == act:
        return []
    exp_set, act_set = set(exp), set(act)
    return [f"{name}: {len(exp)} expected rows, {len(act)} actual; missing "
            f"{[r for r in exp if r not in act_set][:3]}, unexpected "
            f"{[r for r in act if r not in exp_set][:3]}"]


# -- clinic -----------------------------------------------------------------

def check_replicas(model: ClinicModel, replica_rows: dict[str, list[tuple]]) -> list[str]:
    """``replica_rows``: table -> rows of ``Engine.replicas(include_deleted=True)``
    in REPLICA_COLUMNS order."""
    problems = []
    for table in CLINIC_COLUMNS:
        problems += diff_rows(table, model.table_rows(table), replica_rows[table])
    return problems


# Dashboard reads with an SQL form — analytics and verified queries by name,
# ``ask`` questions by their text: name -> (columns compared, DuckDB SQL
# over the model's tables, soft-deleted rows included as ``<t>_raw``).
_DAY = AS_OF.isoformat()
DASHBOARD_SQL: dict[str, tuple[list[str], str]] = {
    "current_day_status": (
        ["status", "appointment_count"],
        f"SELECT status, COUNT(*) FROM appointments "
        f"WHERE appointment_date = DATE '{_DAY}' GROUP BY status"),
    "revenue_by_department": (
        ["department", "visit_count", "total_revenue"],
        "SELECT d.department, COUNT(v.visit_id), SUM(v.total_charge) "
        "FROM doctors d JOIN visits v ON d.doctor_id = v.doctor_id "
        "GROUP BY d.department"),
    "cdc_change_volume": (
        ["table_name", "total_records", "insert_only", "updated", "deleted"],
        " UNION ALL ".join(
            f"SELECT '{t}', COUNT(*), COUNT(*) FILTER (WHERE {UPD} IS NULL), "
            f"COUNT(*) FILTER (WHERE {UPD} IS NOT NULL), "
            f"COUNT(*) FILTER (WHERE {DEL}) FROM {t}_raw "
            f"WHERE {INS} >= TIMESTAMP '{_DAY} 23:59:59' - INTERVAL 24 HOUR "
            f"OR {UPD} >= TIMESTAMP '{_DAY} 23:59:59' - INTERVAL 24 HOUR"
            for t in ("appointments", "visits")
            for UPD, DEL, INS in [("_SNOWFLAKE_UPDATED_AT", "_SNOWFLAKE_DELETED",
                                   "_SNOWFLAKE_INSERTED_AT")])),
    # the verified query reads every row, soft-deleted ones too
    "appointments_modified_today": (
        ["appointments_modified_today"],
        f"SELECT COUNT(*) FROM appointments_raw "
        f"WHERE CAST(_SNOWFLAKE_UPDATED_AT AS DATE) = DATE '{_DAY}'"),
    "total revenue by specialization": (
        ["specialization", "total_total_charge"],
        "SELECT d.specialization, SUM(v.total_charge) "
        "FROM doctors d JOIN visits v ON d.doctor_id = v.doctor_id "
        "GROUP BY d.specialization"),
}


def model_connection(model: ClinicModel) -> duckdb.DuckDBPyConnection:
    """DuckDB tables built from the model: ``<t>_raw`` holds every row,
    ``<t>`` the rows not soft-deleted."""
    import pyarrow as pa

    con = _duckdb()
    for table, cols in CLINIC_COLUMNS.items():
        names = REPLICA_COLUMNS[table]
        types = [t if t != pa.timestamp("us", tz="UTC") else pa.timestamp("us")
                 for _, t in cols] + [pa.timestamp("us"), pa.timestamp("us"), pa.bool_()]
        rows = model.table_rows(table)
        arrow = pa.Table.from_arrays(
            [pa.array([_naive(r[i]) for r in rows], type=types[i])
             for i in range(len(names))], names=names)
        con.register(f"_{table}_arrow", arrow)
        con.execute(f"CREATE TABLE {table}_raw AS SELECT * FROM _{table}_arrow")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM {table}_raw "
                    f"WHERE NOT _SNOWFLAKE_DELETED")
    return con


def _naive(v):
    return v.replace(tzinfo=None) if isinstance(v, dt.datetime) else v


def check_dashboard(model: ClinicModel, results: dict[str, tuple[list[str], list]]) -> list[str]:
    """``results``: query name -> (columns, rows) of the last dashboard refresh."""
    con = model_connection(model)
    problems = []
    try:
        for name, (cols, sql) in DASHBOARD_SQL.items():
            got_cols, got_rows = results[name]
            idx = [got_cols.index(c) for c in cols]
            actual = [tuple(r[i] for i in idx) for r in got_rows]
            problems += compare(f"dashboard {name}", con.execute(sql).fetchall(), actual)
    finally:
        con.close()
    return problems


# -- corpus -----------------------------------------------------------------

def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def oracle_key(sql: str, digest: str, where: str) -> str:
    return hashlib.sha256("\0".join((sql, digest, where)).encode()).hexdigest()


def run_oracle(sql: str, documents: str, where: str = "TRUE",
               cache_dir: str = CACHE_DIR) -> list[tuple]:
    """Rows of an oracle over ``documents`` (a parquet path) restricted by
    ``where``; served from the cache when the SQL text, the filter and the
    input digest all match."""
    key = oracle_key(sql, file_digest(documents), where)
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = _duckdb()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}') "
                    f"WHERE {where}")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(rows, f)
    os.replace(tmp, path)
    return rows


def curated_stats_sql(px11_sql: str, key: str) -> str:
    """Per-``key`` (n_docs, n_tokens) over the curated corpus of the px11
    oracle: its CTEs up to ``corpus`` (dedup, decontamination, token
    counts), then a grouping in place of its shard packing."""
    cut = px11_sql.find("sharded AS (")
    if cut < 0:
        raise ValueError("the px11 oracle no longer has the sharded CTE the stats "
                         "oracle is cut from")
    return (px11_sql[:cut].rstrip().rstrip(",")
            + f"\nSELECT {key}, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) "
            f"AS n_tokens FROM corpus GROUP BY {key}")


def check_against_oracle(name: str, oracle_rows: list[dict],
                         actual_rows: list[dict]) -> list[str]:
    """Compare rows as dicts, on the oracle's columns."""
    if not oracle_rows:
        return [f"{name}: the oracle result is empty, so the check shows nothing"]
    cols = sorted(oracle_rows[0])
    if actual_rows and sorted(actual_rows[0]) != cols:
        return [f"{name}: columns {sorted(actual_rows[0])}, oracle has {cols}"]
    return compare(name, [tuple(r[c] for c in cols) for r in oracle_rows],
                   [tuple(r[c] for c in cols) for r in actual_rows])


def components(pairs: list[tuple]) -> list[dict]:
    """dd7's groups computed apart from it: connected components of the
    pairs graph by union-find, as (doc_id, canonical_doc_id = smallest id
    in the component, component_size) per document in some pair."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    return [{"doc_id": x, "canonical_doc_id": min(m), "component_size": len(m)}
            for m in members.values() for x in m]


def check_pair_property(name: str, pairs: list[tuple], threshold: float) -> list[str]:
    """Property of a pairs result: doc_a < doc_b, no repeats, every Jaccard
    in [threshold, 1]."""
    bad = [p for p in pairs if not (p[0] < p[1] and threshold <= p[2] <= 1.0)]
    if bad or len({(a, b) for a, b, _ in pairs}) != len(pairs):
        return [f"{name}: {len(bad)} pairs break doc_a < doc_b or the Jaccard range, "
                f"or a pair repeats; first {bad[:3]}"]
    return []


def rebuild_corpus_cache(seeds: list[int], cache_dir: str = CACHE_DIR) -> int:
    """Recompute every oracle result the corpus workload can ask for on
    these seeds: the views of the state after the last dump, and the
    whole-table results of the traced run."""
    import shutil
    import sys
    import tempfile

    import corpus
    import gen

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import ORACLES

    shutil.rmtree(cache_dir, ignore_errors=True)
    n = 0
    with tempfile.TemporaryDirectory(dir=os.path.dirname(cache_dir)) as tmp:
        for seed in seeds:
            docs = gen.write_documents(gen.corpus_documents(seed, corpus.N_DOCS),
                                       os.path.join(tmp, str(seed)))
            cuts = gen.dump_cuts(seed, 0, corpus.N_DOCS, corpus.N_DUMPS)
            for sql, where in corpus.state_oracles(ORACLES, cuts[-1]).values():
                run_oracle(sql, docs, where, cache_dir)
                n += 1
            for name in ("dd4_minhash_lsh_pairs", "px11_training_manifest"):
                run_oracle(ORACLES[name], docs, cache_dir=cache_dir)
                n += 1
    return n


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(
        description="Rebuild the corpus oracle cache for the given seeds.")
    ap.add_argument("seeds", type=int, nargs="+")
    print(f"{rebuild_corpus_cache(ap.parse_args().seeds)} oracle results cached in {CACHE_DIR}")
