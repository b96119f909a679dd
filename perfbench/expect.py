"""Independent output checks, computed with DuckDB.

Expected results come from the generated input files alone, through SQL
that shares no code with the program: parse, explode, left-join the
item metadata, rebuild each rank-ordered recommendation list, attribute
to users, and de-duplicate (or subtract the prior snapshot). The
program's output files are read back with DuckDB too, and both sides
reduce to a ``Digest``: the row count plus the sum of a 64-bit hash of
each record's canonical text, which is independent of row order and
file layout. Only ``braze_blocks`` reads with the standard library,
because there the row order within each file is what matters.
"""

from __future__ import annotations

import glob
import gzip
import json
from dataclasses import dataclass

import duckdb

BATCH_COLUMNS = (
    "{input: 'STRUCT(itemId VARCHAR, userId VARCHAR)', "
    "output: 'STRUCT(recommendedItems VARCHAR[])', error: 'VARCHAR'}"
)


@dataclass(frozen=True)
class Digest:
    rows: int
    checksum: int

    def __str__(self) -> str:
        return f"{self.rows} rows / {self.checksum}"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _fetch(con, sql: str) -> Digest:
    rows, checksum = con.sql(sql).fetchone()
    return Digest(int(rows), int(checksum or 0))


def _rec_text(alias: str, fields: tuple[str, ...]) -> str:
    """Canonical text of one decorated recommendation: itemId then the
    selected metadata fields, ``~`` for a missing value."""
    parts = [f"{alias}.itemId"] + [
        f"coalesce(CAST({alias}.{f} AS VARCHAR), '~')" for f in fields
    ]
    return f"concat_ws(':', {', '.join(parts)})"


def _recs_text(fields: tuple[str, ...]) -> str:
    """Canonical text of a decorated ``recommendations`` column."""
    return (
        f"array_to_string(list_transform(recommendations, r -> {_rec_text('r', fields)}), ';')"
    )


def _digest_sql(source: str, keys: tuple[str, ...], recs: str) -> str:
    key_text = ", ".join(f"coalesce({k}, '')" for k in keys)
    return (
        f"SELECT count(*), sum(hash(concat_ws('|', {key_text}, {recs}))::HUGEINT) "
        f"FROM {source}"
    )


def _batch(path: str) -> str:
    """Batch-inference JSONL at ``path``: a quoted glob or a list literal."""
    if not path.startswith("["):
        path = f"'{path}'"
    return (
        f"read_json({path}, format='newline_delimited', ignore_errors=true, "
        f"columns={BATCH_COLUMNS})"
    )


def _decorated_view(con, name: str, source: str, meta_path: str, key: str,
                    fields: tuple[str, ...]) -> None:
    """``name(q, recs)``: one row per clean, error-free row of the
    batch-inference ``source``, its rank-ordered list of canonical
    recommendation texts."""
    rec = _rec_text("m", fields).replace("m.itemId", "ex.item")
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW {name} AS
        WITH ok AS (
            SELECT input.{key} AS q, output.recommendedItems AS items
            FROM {source}
            WHERE input IS NOT NULL AND error IS NULL
        ), ex AS (
            SELECT q, unnest(generate_series(0, len(items) - 1)) AS pos,
                   unnest(items) AS item
            FROM ok
        )
        SELECT q, array_to_string(list({rec} ORDER BY pos), ';') AS recs
        FROM ex LEFT JOIN read_json_auto('{meta_path}') m ON m.id = ex.item
        GROUP BY q
    """)


def output_digest(con, glob: str, keys: tuple[str, ...], fields: tuple[str, ...]) -> Digest:
    """Digest of decorated connector output written by the program. The
    columns are declared, so DuckDB skips schema inference; a column the
    program failed to write reads as NULL and fails the comparison."""
    rec_type = ", ".join(f"{f} VARCHAR" for f in ("itemId",) + fields)
    columns = {k: "VARCHAR" for k in keys} | {"recommendations": f"STRUCT({rec_type})[]"}
    source = f"read_json('{glob}', format='newline_delimited', columns={columns})"
    return _fetch(con, _digest_sql(source, keys, _recs_text(fields)))


def errors_digest(con, source: str) -> Digest:
    """Digest of error rows (query item and error text) in ``source``."""
    return _fetch(
        con,
        f"SELECT count(*), sum(hash(concat_ws('|', input.itemId, error))::HUGEINT) "
        f"FROM {source}",
    )


def full_sync(root: str, connectors: dict[str, tuple[str, ...]]) -> dict:
    """Expected delivered rows per connector (first sync: attributed and
    de-duplicated), error rows, corrupt lines and pre-delta state rows."""
    con = connect()
    bi, meta = f"{root}/batch_inference/*.json", f"{root}/item_metadata/*.json"
    out = {"connectors": {}}
    for name, fields in connectors.items():
        _decorated_view(con, "dec", _batch(bi), meta, "itemId", fields)
        con.execute(f"""
            CREATE OR REPLACE TEMP VIEW att AS
            SELECT d.q, mp.USER_ID AS u, d.recs FROM dec d
            JOIN read_csv('{root}/user_item_mapping/*.csv', header=true,
                          columns={{'USER_ID': 'VARCHAR', 'ITEM_ID': 'VARCHAR'}}) mp
              ON mp.ITEM_ID = d.q
        """)
        out["connectors"][name] = _fetch(
            con, _digest_sql("(SELECT DISTINCT * FROM att)", ("q", "u"), "recs")
        )
        out["state_rows"] = con.sql("SELECT count(*) FROM att").fetchone()[0]
    out["errors"] = errors_digest(
        con, f"{_batch(bi)} WHERE input IS NOT NULL AND error IS NOT NULL"
    )
    out["corrupt"] = corrupt_lines(con, bi)
    con.close()
    return out


def corrupt_lines(con, glob: str) -> int:
    return con.sql(
        f"SELECT count(*) FROM read_csv('{glob}', columns={{'line': 'VARCHAR'}}, "
        "delim=chr(1), quote='', escape='', header=false, auto_detect=false) "
        "WHERE NOT json_valid(line)"
    ).fetchone()[0]


def delta_resync(root: str, fields: tuple[str, ...]) -> dict:
    """Expected delta (current decorated rows not in the prior snapshot)
    and the full rewritten state."""
    con = connect()
    _decorated_view(con, "dec", _batch(f"{root}/batch_inference/*.json"),
                    f"{root}/item_metadata/*.json", "userId", fields)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW prior AS
        SELECT queryUserId AS q, {_recs_text(fields)} AS recs
        FROM read_json_auto('{root}/state_snapshot/*.json')
    """)
    out = {
        "delta": _fetch(con, _digest_sql(
            "(SELECT q, recs FROM dec EXCEPT SELECT q, recs FROM prior)", ("q",), "recs"
        )),
        "state": _fetch(con, _digest_sql("dec", ("q",), "recs")),
    }
    con.close()
    return out


def landing_drain(root: str, files: list[str], fields: tuple[str, ...]) -> dict:
    """Every distinct record of the landed ``files``, decorated once."""
    con = connect()
    source = _batch(str([f"{root}/landing/{name}" for name in files]))
    con.execute(f"CREATE OR REPLACE TEMP TABLE landed AS SELECT DISTINCT * FROM {source}")
    _decorated_view(con, "dec", "landed", f"{root}/item_metadata/*.json",
                    "userId", fields)
    out = {
        "delivered": _fetch(con, _digest_sql("dec", ("q",), "recs")),
        "input_rows": con.sql(f"SELECT count(*) FROM {source}").fetchone()[0],
    }
    con.close()
    return out


def braze_blocks(root: str, block: int) -> list[list[tuple[str, list[str]]]]:
    """The input records in POST-chunk order: each gzip file's rows in
    file order, cut into ``block``-record chunks. Read with the standard
    library, since row order decides which records share a chunk."""
    blocks = []
    for path in sorted(glob.glob(f"{root}/connector_output/*.json.gz")):
        with gzip.open(path, "rt") as f:
            rows = [json.loads(line) for line in f if line.strip()]
        for k in range(0, len(rows), block):
            blocks.append([
                (r["userId"], [rec["itemId"] for rec in r["recommendations"]])
                for r in rows[k : k + block]
            ])
    return blocks


def dlq_ids(con, glob: str) -> list[str]:
    return [
        r[0]
        for r in con.sql(
            f"SELECT json_extract_string(record_json, '$.external_id') "
            f"FROM read_json_auto('{glob}')"
        ).fetchall()
    ]
