"""Benchmark inputs, made with DuckDB from the parquet under ``data/``.

DuckDB, not the engine under test, writes the raw landings and computes
every expected answer, so the inputs and the oracle are the same on any
two commits being compared. The seed sets the landing row order and the
lookup keys; nothing else depends on it.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import duckdb

# parquet type (DuckDB) -> agnostic metadata type
_AGNOSTIC = {
    "BIGINT": "long",
    "INTEGER": "int",
    "DOUBLE": "double",
    "VARCHAR": "character",
    "TIMESTAMP": "datetime",
}

# Declared constraints per source table: what validate() checks. Every one
# holds on the data, so validate(...).ok is part of the correctness gate.
_CONSTRAINTS = {
    "lineitem": {
        "columns": {
            "l_orderkey": {"nullable": False},
            "l_shipdate": {"nullable": False},
            "l_returnflag": {"enum": ["A", "N", "R"]},
            "l_linestatus": {"enum": ["F", "O"]},
        },
    },
    "events": {
        "columns": {
            "event_type": {"enum": ["click", "error", "purchase", "signup", "view"]},
            "props": {"pattern": '\\{"k": [0-9]+\\}'},
        },
        "primary_key": ["event_id"],
    },
    "orders": {
        "columns": {
            "o_orderstatus": {"enum": ["F", "O", "P"]},
            "o_orderpriority": {"pattern": "[1-5]-[A-Z ]+"},
        },
        "primary_key": ["o_orderkey"],
    },
}

# Row keys: the seeded landing order hashes them (ties cannot happen).
_KEYS = {
    "lineitem": "l_orderkey, l_linenumber, l_partkey, l_suppkey",
    "events": "event_id",
    "orders": "o_orderkey",
}

# DuckDB COPY options per landing format
_COPY = {
    "csv": "FORMAT CSV, HEADER false",
    "csv_quoted_nodate": "FORMAT CSV, HEADER false, FORCE_QUOTE *, QUOTE '\"', ESCAPE '\\'",
    "json": "FORMAT JSON",
}
_EXT = {"csv": "csv", "csv_quoted_nodate": "csv", "json": "json"}


@dataclass(frozen=True)
class Landing:
    """One raw landing: ``source`` parquet rows (optionally filtered by
    ``where``) land as ``files`` files of ``fmt`` and are conformed to the
    partitioned parquet table ``table``."""

    table: str
    source: str
    fmt: str
    files: int
    part_col: str
    part_type: str
    part_expr: str  # valid in both Spark SQL and DuckDB
    key: str  # point-lookup column
    measure: str  # returned by lookups
    where: str = "TRUE"


# Why each workload exists is recorded in README.md next to this file.
LANDINGS = (
    # parse-, validation- and encode-heavy: few partitions, many rows
    Landing("lineitem_csv", "lineitem", "csv", 4, "ship_year", "int",
            "year(l_shipdate)", "l_orderkey", "l_extendedprice",
            "l_orderkey % 2 = 0"),
    Landing("lineitem_json", "lineitem", "json", 4, "ship_year", "int",
            "year(l_shipdate)", "l_orderkey", "l_extendedprice",
            "l_orderkey % 2 = 1"),
    Landing("events_quoted", "events", "csv_quoted_nodate", 2, "event_type",
            "character", "event_type", "event_id", "value"),
    # fan-out-heavy: one file per daily partition, few rows each
    Landing("orders_daily", "orders", "csv", 1, "order_day", "date",
            "CAST(o_orderdate AS DATE)", "o_orderkey", "o_totalprice",
            "o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-03-01'"),
)
TINY_LIMIT = 2000  # rows per landing in the smoke test
LOOKUPS_PER_TABLE = 25  # seeded point lookups per table, cycled through


@dataclass
class EtlFixture:
    database: str
    job_shared: str  # shared_resources folder holding metadata/{raw,conformed}
    partition_exprs: dict[str, dict[str, str]]
    input_bytes: int
    conformed_base: str
    gates: dict[str, dict] = field(default_factory=dict)  # table -> expectations
    lookups: list[dict] = field(default_factory=list)


def _sql_literal(value, part_type: str) -> str:
    if part_type == "character":
        return "'" + str(value).replace("'", "''") + "'"
    if part_type == "date":
        return f"DATE '{value}'"
    return str(value)


def gate_sql(columns: list[tuple[str, str]], relation: str) -> str:
    """Full-table aggregate, the correctness gate after the timed loop: row
    count, per-column sums (of string lengths for strings) and ranges. One
    stage of partial aggregation, no shuffle."""
    aggs = ["count(*) AS n"]
    for name, duck_type in columns:
        if duck_type in ("BIGINT", "INTEGER", "DOUBLE"):
            aggs.append(f"sum({name}) AS sum_{name}")
        elif duck_type == "VARCHAR":
            aggs.append(f"sum(length({name})) AS len_{name}")
        else:
            aggs.append(f"min({name}) AS min_{name}, max({name}) AS max_{name}")
    return f"SELECT {', '.join(aggs)} FROM {relation}"


def lookup_sql(landing: Landing, relation: str, part_expr: str, part, key) -> str:
    """Point lookup: one partition, one key."""
    return (
        f"SELECT {landing.key}, {landing.measure} FROM {relation} "
        f"WHERE {part_expr} = {_sql_literal(part, landing.part_type)} "
        f"AND {landing.key} = {key}"
    )


def _land(con, ld: Landing, data_dir: str, out_dir: str, seed: int, tiny: bool) -> int:
    """Write ``ld``'s raw files in seeded row order; returns their bytes.
    Leaves table ``<table>_landed`` (with row number ``_rn``) and view
    ``<table>`` (the landed rows) in ``con``."""
    src = os.path.join(data_dir, f"{ld.source}.parquet")
    con.execute(
        f"CREATE TABLE {ld.table}_landed AS SELECT *, row_number() OVER "
        f"(ORDER BY hash({_KEYS[ld.source]}, {seed}), {_KEYS[ld.source]}) AS _rn "
        f"FROM read_parquet('{src}') WHERE {ld.where}"
    )
    if tiny:
        con.execute(f"DELETE FROM {ld.table}_landed WHERE _rn > {TINY_LIMIT}")
    con.execute(f"CREATE VIEW {ld.table} AS SELECT * EXCLUDE (_rn) FROM {ld.table}_landed")
    os.makedirs(out_dir)
    size = 0
    for i in range(ld.files):
        path = os.path.join(out_dir, f"part-{i:05d}.{_EXT[ld.fmt]}")
        con.execute(
            f"COPY (SELECT * EXCLUDE (_rn) FROM {ld.table}_landed "
            f"WHERE _rn % {ld.files} = {i} ORDER BY _rn) TO '{path}' ({_COPY[ld.fmt]})"
        )
        size += os.path.getsize(path)
    return size


def _table_metadata(ld: Landing, columns: list[tuple[str, str]]) -> tuple[dict, dict]:
    """(raw, conformed) table metadata dicts for one landing."""
    cons = _CONSTRAINTS[ld.source]
    raw = {
        "name": ld.table,
        "location": ld.table,
        "data_format": ld.fmt,
        "columns": [
            {"name": n, "type": _AGNOSTIC[t], **cons["columns"].get(n, {})}
            for n, t in columns
        ],
    }
    if "primary_key" in cons:
        raw["primary_key"] = cons["primary_key"]
    conf_cols = [{"name": n, "type": _AGNOSTIC[t]} for n, t in columns]
    if ld.part_col not in dict(columns):
        conf_cols.append({"name": ld.part_col, "type": ld.part_type})
    conformed = {
        "name": ld.table,
        "location": ld.table,
        "data_format": "parquet",
        "columns": conf_cols,
        "partitions": [ld.part_col],
    }
    return raw, conformed


def _write_database(folder: str, name: str, bucket: str, tables: list[dict]) -> None:
    os.makedirs(folder)
    with open(os.path.join(folder, "database.json"), "w") as fh:
        json.dump({"name": name, "bucket": bucket, "base_folder": ""}, fh)
    for t in tables:
        with open(os.path.join(folder, f"{t['name']}.json"), "w") as fh:
            json.dump(t, fh, indent=1)


def build_etl(data_dir: str, work: str, seed: int, tiny: bool) -> EtlFixture:
    database = "pb_land"  # the conformed database; the raw one is never registered
    fixture = EtlFixture(
        database=database,
        job_shared=os.path.join(work, "job_shared"),
        partition_exprs={},
        input_bytes=0,
        conformed_base=os.path.join(work, "conformed"),
    )
    raw_base = os.path.join(work, "raw")
    rng = random.Random(seed)
    raw_tables, conformed_tables = [], []
    with duckdb.connect() as con:
        for ld in LANDINGS:
            fixture.input_bytes += _land(
                con, ld, data_dir, os.path.join(raw_base, ld.table), seed, tiny
            )
            columns = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {ld.table}").fetchall()]
            raw, conformed = _table_metadata(ld, columns)
            raw_tables.append(raw)
            conformed_tables.append(conformed)
            fixture.partition_exprs[ld.table] = {ld.part_col: ld.part_expr}

            cur = con.execute(gate_sql(columns, ld.table))
            fixture.gates[ld.table] = {
                "sql": gate_sql(columns, f"{database}.{ld.table}"),
                "expected": dict(zip([d[0] for d in cur.description], cur.fetchone())),
                "partitions": con.execute(
                    f"SELECT count(DISTINCT {ld.part_expr}) FROM {ld.table}"
                ).fetchone()[0],
            }
            # the same number of lookups per table on every seed, so the seed
            # moves which rows are looked up but not the mix of tables
            candidates = con.execute(
                f"SELECT {ld.part_expr}, {ld.key} FROM {ld.table}_landed ORDER BY _rn"
            ).fetchall()
            for part, key in rng.sample(candidates, LOOKUPS_PER_TABLE):
                rows = con.execute(lookup_sql(ld, ld.table, ld.part_expr, part, key)).fetchall()
                fixture.lookups.append(
                    {
                        "sql": lookup_sql(ld, f"{database}.{ld.table}", ld.part_col, part, key),
                        "rows": sorted(rows),
                    }
                )
    rng.shuffle(fixture.lookups)

    meta = os.path.join(fixture.job_shared, "metadata")
    _write_database(os.path.join(meta, "raw"), f"{database}_raw", raw_base, raw_tables)
    _write_database(
        os.path.join(meta, "conformed"), database, fixture.conformed_base, conformed_tables
    )
    return fixture
