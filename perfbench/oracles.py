"""Independent checks of the engine's outputs.

- ``eth_expected``: a DuckDB SQL twin of the six Ethereum jobs over the
  same generated files; ``read_json_dir`` reads what the engine wrote.
- ``star_expected`` + ``rows_match``: each star query's registered
  oracle SQL run by DuckDB over the same parquet files, compared with
  the value comparison of the repository's oracle harness
  (``tests/oracle_harness.py``: relative 1e-6, order-insensitive, columns
  matched by lower-cased name).
"""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb

# the repository's oracle harness holds the comparison's tolerance
_TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
if _TESTS not in sys.path:
    sys.path.append(_TESTS)
from oracle_harness import _key, _val_eq  # noqa: E402

# --------------------------------------------------------------------------
# row comparison
# --------------------------------------------------------------------------


def rows_match(got_cols: list[str], got_rows: list[tuple],
               want_cols: list[str], want_rows: list[tuple]) -> str | None:
    """None when the two results agree, else a one-line reason."""
    g = [c.lower() for c in got_cols]
    w = [c.lower() for c in want_cols]
    if sorted(g) != sorted(w):
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    idx = [g.index(c) for c in w]
    aligned = sorted((tuple(r[i] for i in idx) for r in got_rows),
                     key=lambda r: tuple(_key(v) for v in r))
    expect = sorted(want_rows, key=lambda r: tuple(_key(v) for v in r))
    for gr, wr in zip(aligned, expect):
        for c, gv, wv in zip(w, gr, wr):
            if not _val_eq(gv, wv):
                return f"value of {c}: {gv!r} != {wv!r}"
    return None


# --------------------------------------------------------------------------
# eth_jobs twin
# --------------------------------------------------------------------------

_TX_COLS = (
    "hash nonce block_hash block_number transaction_index from_address "
    "to_address value gas gas_price input block_timestamp max_fee_per_gas "
    "max_priority_fee_per_gas transaction_type"
).split()
_CT_COLS = "address bytecode function_sighashes is_erc20 is_erc721 block_number".split()
_BK_COLS = (
    "number hash parent_hash nonce sha3_uncles logs_bloom transactions_root "
    "state_root receipts_root miner difficulty total_difficulty size extra_data "
    "gas_limit gas_used timestamp transaction_count base_fee_per_gas"
).split()
_MONTH = "strftime(make_timestamp(CAST(block_timestamp * 1000000 AS BIGINT)), '%m-%Y')"

# output name -> SQL over the views tx, ct, bk, scam
ETH_SQL = {
    "monthly_transactions": f"""
        SELECT {_MONTH} AS month, count(*) AS txn_count, avg(value) AS avg_value
        FROM tx GROUP BY 1""",
    "top10_contracts": """
        SELECT to_address, sum(value) AS total_value FROM tx
        WHERE to_address LIKE '0x%'
          AND to_address IN (SELECT address FROM ct WHERE address LIKE '0x%')
        GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 10""",
    "top10_miners": """
        SELECT miner, sum(size) AS total_size FROM bk
        GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 10""",
    "scam_lucrative_id": """
        SELECT scam_id, sum(value) AS total_value
        FROM tx JOIN scam ON tx.to_address = scam.address
        GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 1""",
    "scam_lucrative_category": """
        SELECT category, sum(value) AS total_value
        FROM tx JOIN scam ON tx.to_address = scam.address
        GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 1""",
    "scam_change_with_time": f"""
        SELECT {_MONTH} AS month, category, sum(value) AS total_value
        FROM tx JOIN scam ON tx.to_address = scam.address GROUP BY 1, 2""",
    "gas_avg_price": f"""
        SELECT {_MONTH} AS month, avg(gas_price) AS avg_gas_price FROM tx GROUP BY 1""",
    "gas_avg_used": f"""
        SELECT {_MONTH} AS month, avg(gas) AS avg_gas_used FROM tx
        WHERE to_address IN (SELECT address FROM ct) GROUP BY 1""",
    "gas_top10": f"""
        SELECT {_MONTH} AS month, avg(gas) AS avg_gas FROM tx
        WHERE to_address IN (SELECT address FROM ct)
          AND to_address IN (
            SELECT to_address FROM tx
            WHERE to_address LIKE '0x%'
              AND to_address IN (SELECT address FROM ct WHERE address LIKE '0x%')
            GROUP BY 1 ORDER BY sum(value) DESC, 1 ASC LIMIT 10)
        GROUP BY 1""",
    "data_overhead": """
        SELECT sum((length(sha3_uncles) - 2) * 4 + (length(logs_bloom) - 2) * 4
                   + (length(transactions_root) - 2) * 4 + (length(state_root) - 2) * 4
                   + (length(receipts_root) - 2) * 4) AS wasted_bits
        FROM bk""",
}


def _csv_view(con, name: str, path: str, cols: list[str]) -> None:
    spec = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in cols) + "}"
    con.execute(
        f"CREATE VIEW {name}_raw AS SELECT * FROM read_csv('{path}', header=true, "
        f"columns={spec}, quote='', escape='', auto_detect=false)"
    )


def eth_expected(paths: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """{output name: (columns, rows)} for every output of the six jobs.
    Validation mirrors the reference's validators: a transaction needs a
    numeric value and timestamp, a block a numeric size and a miner."""
    con = duckdb.connect()
    try:
        _csv_view(con, "tx", paths["transactions"], _TX_COLS)
        _csv_view(con, "ct", paths["contracts"], _CT_COLS)
        _csv_view(con, "bk", paths["blocks"], _BK_COLS)
        con.execute("""
            CREATE VIEW tx AS SELECT to_address,
                TRY_CAST(value AS DOUBLE) AS value, TRY_CAST(gas AS DOUBLE) AS gas,
                TRY_CAST(gas_price AS DOUBLE) AS gas_price,
                TRY_CAST(block_timestamp AS DOUBLE) AS block_timestamp
            FROM tx_raw
            WHERE TRY_CAST(value AS DOUBLE) IS NOT NULL
              AND TRY_CAST(block_timestamp AS DOUBLE) IS NOT NULL""")
        con.execute("""
            CREATE VIEW ct AS SELECT DISTINCT address FROM ct_raw
            WHERE address IS NOT NULL AND address <> ''""")
        con.execute("""
            CREATE VIEW bk AS SELECT miner, TRY_CAST(size AS DOUBLE) AS size,
                sha3_uncles, logs_bloom, transactions_root, state_root, receipts_root
            FROM bk_raw
            WHERE TRY_CAST(size AS DOUBLE) IS NOT NULL
              AND miner IS NOT NULL AND miner <> ''""")
        scam_rows = []
        with open(paths["scams"], encoding="utf-8") as f:
            for line in f:
                for rec in json.loads(line)["result"].values():
                    for a in rec["addresses"]:
                        scam_rows.append((rec["id"], rec["category"], a))
        con.execute("CREATE TABLE scam (scam_id BIGINT, category VARCHAR, address VARCHAR)")
        con.executemany("INSERT INTO scam VALUES (?, ?, ?)", scam_rows)
        out = {}
        for name, sql in ETH_SQL.items():
            cur = con.execute(sql)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def read_json_dir(path: str) -> tuple[list[str], list[tuple]]:
    """Rows a JSON-lines sink wrote (every part file, in name order)."""
    records = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            records.extend(json.loads(line) for line in f if line.strip())
    cols = sorted({k for r in records for k in r})
    return cols, [tuple(r.get(c) for c in cols) for r in records]


# --------------------------------------------------------------------------
# star_sql oracle
# --------------------------------------------------------------------------


def star_expected(sf_dir: str, tables: list[str],
                  oracles: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]] | str]:
    """{query: (columns, rows)} or {query: error text} when the oracle SQL
    itself fails."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in oracles.items():
            try:
                cur = con.execute(sql)
                out[name] = ([d[0] for d in cur.description], cur.fetchall())
            except duckdb.Error as e:
                out[name] = f"oracle error: {e}"
        return out
    finally:
        con.close()
