"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, out_dir)``: the same seed
writes byte-identical files, another seed writes different ones. The
engine under test only ever sees the files.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Input sizes. Fixed here so the inputs depend on the seed alone.
# --------------------------------------------------------------------------

ETH_TRANSACTIONS = 30_000
ETH_ADDRESSES = 4_000          # recipient pool, zipf-skewed
ETH_CONTRACT_SHARE = 0.25      # share of the pool that are contracts
ETH_BLOCKS = 3_000
ETH_MINERS = 150
ETH_SCAMS = 120
ETH_MALFORMED_SHARE = 0.02     # transactions whose value or timestamp is unparsable
ETH_BLOCK_MALFORMED_SHARE = 0.01
# Aug 2015 .. Jan 2019 inclusive (UTC unix seconds)
ETH_TS_LO = 1_438_387_200
ETH_TS_HI = 1_548_979_199

STAR_SF = 0.002                # FIXTURES.md §B row counts scaled by this
STAR_DOCUMENTS = 500


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, name): adding a table never shifts the
    values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    """n random '0x'-prefixed lowercase hex strings of ``width`` digits."""
    digits = np.frombuffer(b"0123456789abcdef", dtype="S1")
    raw = digits[rng.integers(0, 16, size=(n, width))]
    return ["0x" + row.tobytes().decode() for row in raw]


# --------------------------------------------------------------------------
# eth_jobs: transactions.csv / contracts.csv / blocks.csv / scams.json
# --------------------------------------------------------------------------

TX_HEADER = (
    "hash,nonce,block_hash,block_number,transaction_index,from_address,"
    "to_address,value,gas,gas_price,input,block_timestamp,"
    "max_fee_per_gas,max_priority_fee_per_gas,transaction_type"
)
CT_HEADER = "address,bytecode,function_sighashes,is_erc20,is_erc721,block_number"
BK_HEADER = (
    "number,hash,parent_hash,nonce,sha3_uncles,logs_bloom,transactions_root,"
    "state_root,receipts_root,miner,difficulty,total_difficulty,size,"
    "extra_data,gas_limit,gas_used,timestamp,transaction_count,base_fee_per_gas"
)
SCAM_CATEGORIES = ("Phishing", "Scamming", "Fake ICO")


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int,
                 s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def gen_eth(seed: int, out_dir: str) -> dict:
    """The reference's four inputs. Recipients follow a zipf-like skew;
    ``ETH_MALFORMED_SHARE`` of transactions carry an unparsable value or
    timestamp and ``ETH_BLOCK_MALFORMED_SHARE`` of blocks an unparsable
    size, so the validators must drop them."""
    os.makedirs(out_dir, exist_ok=True)
    pool = _hex(_rng(seed, "eth.pool"), ETH_ADDRESSES, 40)
    r = _rng(seed, "eth.contracts")
    is_contract = r.random(ETH_ADDRESSES) < ETH_CONTRACT_SHARE
    contracts = [a for a, c in zip(pool, is_contract) if c]
    # a few contracts nobody sends to
    contracts += _hex(r, 50, 40)
    ct_lines = [CT_HEADER] + [
        f"{a},0x6080,0xa9059cbb,{'True' if i % 3 == 0 else 'False'},False,{1000 + i}"
        for i, a in enumerate(contracts)
    ]

    r = _rng(seed, "eth.tx")
    n = ETH_TRANSACTIONS
    to_idx = _zipf_choice(r, ETH_ADDRESSES, n)
    senders = _hex(r, 500, 40)
    from_idx = r.integers(0, len(senders), n)
    value = np.exp(r.normal(40.0, 3.0, n))           # wei, up to ~1e22
    gas = r.integers(21_000, 500_000, n).astype(float)
    gas_price = r.integers(1, 200, n) * 1e9
    ts = np.sort(r.integers(ETH_TS_LO, ETH_TS_HI + 1, n))
    bad = r.random(n) < ETH_MALFORMED_SHARE
    bad_col = r.integers(0, 2, n)                     # 0: value, 1: timestamp
    hashes = _hex(r, n, 64)
    tx_lines = [TX_HEADER]
    for i in range(n):
        v = repr(float(value[i]))
        t = str(int(ts[i]))
        if bad[i]:
            if bad_col[i] == 0:
                v = "0xZZ"
            else:
                t = "n/a"
        blk = int(ts[i] - ETH_TS_LO) // 15
        tx_lines.append(
            f"{hashes[i]},{i % 97},0xb{blk:x},{blk},{i % 150},{senders[from_idx[i]]},"
            f"{pool[to_idx[i]]},{v},{gas[i]!r},{gas_price[i]!r},0x,{t},,,0"
        )

    r = _rng(seed, "eth.blocks")
    miners = _hex(r, ETH_MINERS, 40)
    m_idx = _zipf_choice(r, ETH_MINERS, ETH_BLOCKS, s=1.3)
    size = r.integers(500, 60_000, ETH_BLOCKS)
    bbad = r.random(ETH_BLOCKS) < ETH_BLOCK_MALFORMED_SHARE
    bk_lines = [BK_HEADER]
    for i in range(ETH_BLOCKS):
        # five hex columns of data-dependent width: data_overhead sums them
        hexes = [_hex(r, 1, int(w))[0] for w in r.integers(1, 129, 5)]
        sz = "n/a" if bbad[i] else f"{float(size[i])!r}"
        bts = ETH_TS_LO + i * ((ETH_TS_HI - ETH_TS_LO) // ETH_BLOCKS)
        bk_lines.append(
            f"{i},0xh{i:x},0xp{i:x},0x{i:016x},{','.join(hexes)},{miners[m_idx[i]]},"
            f"1.0,{float(i)!r},{sz},0x,8000000.0,{float(size[i] * 10)!r},{float(bts)!r},"
            f"{int(size[i]) // 200},"
        )

    r = _rng(seed, "eth.scams")
    # scam addresses: mostly busy recipients (head of the zipf), some cold
    scam_lines = []
    per_line = ETH_SCAMS // 4
    for line in range(4):
        result = {}
        for j in range(per_line):
            sid = line * per_line + j
            k = int(r.integers(1, 4))
            addrs = [pool[int(a)] for a in r.choice(ETH_ADDRESSES // 4, size=k, replace=False)]
            result[f"s{sid}"] = {
                "id": 1000 + sid,
                "addresses": addrs,
                "status": "Active" if r.random() < 0.7 else "Offline",
                "category": SCAM_CATEGORIES[int(r.integers(0, 3))],
            }
        scam_lines.append(json.dumps({"result": result}, sort_keys=True))

    paths = {
        "transactions": os.path.join(out_dir, "transactions.csv"),
        "contracts": os.path.join(out_dir, "contracts.csv"),
        "blocks": os.path.join(out_dir, "blocks.csv"),
        "scams": os.path.join(out_dir, "scams.json"),
    }
    _write_lines(paths["transactions"], tx_lines)
    _write_lines(paths["contracts"], ct_lines)
    _write_lines(paths["blocks"], bk_lines)
    _write_lines(paths["scams"], scam_lines)
    return {
        "paths": paths,
        "rows": {"transactions": n, "contracts": len(contracts),
                 "blocks": ETH_BLOCKS, "scams": len(scam_lines)},
        "malformed": {"transactions": int(bad.sum()), "blocks": int(bbad.sum())},
    }


# --------------------------------------------------------------------------
# star_sql: the FIXTURES.md §B star schema, row counts scaled by STAR_SF
# --------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(lo_d, hi_d + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, options, n) -> list[str]:
    return [options[i] for i in rng.integers(0, len(options), n)]


def star_rows() -> dict[str, int]:
    sf = STAR_SF
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": STAR_DOCUMENTS,
    }


def gen_star(seed: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    n = star_rows()
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    r = _rng(seed, "star.nation")
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
    })
    r = _rng(seed, "star.customer")
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, nc, -999.99, 9999.99),
        "c_mktsegment": _choice(r, _SEGMENTS, nc),
    })
    r = _rng(seed, "star.supplier")
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, ns, -999.99, 9999.99),
    })
    r = _rng(seed, "star.part")
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
        "p_type": _choice(r, _PTYPES, npart),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + r.integers(0, 1000, npart) / 10.0,
    })
    r = _rng(seed, "star.orders")
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _choice(r, ("F", "O", "P"), no),
        "o_totalprice": _money(r, no, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(r, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": _choice(r, _PRIORITIES, no),
    })
    r = _rng(seed, "star.lineitem")
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(r, nl, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(r, ("A", "N", "R"), nl),
        "l_linestatus": _choice(r, ("F", "O"), nl),
        "l_shipdate": pa.array(_days(r, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    r = _rng(seed, "star.events")
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offs = np.sort(r.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array((start + offs).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(10, ne // 66), ne), pa.int64()),
        "event_type": _choice(r, _EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    })
    r = _rng(seed, "star.documents")
    nd = n["documents"]
    texts = [" ".join(_choice(r, _WORDS, int(k))) for k in r.integers(10, 100, nd)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": _choice(r, _LANGS, nd),
        "source": [f"src{i}" for i in r.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return {"sf_dir": out_dir, "rows": n}
